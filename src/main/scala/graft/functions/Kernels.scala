package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression

/** The native kernels by SQL name. Operators never look a kernel up by
  * name: they build the expression class as a typed Column
  * (`GraftSqlBridge.column(FloatVecDot(expression(a), expression(b)))`)
  * and leave the session's function registry alone. This table is what
  * gives each kernel its SQL name; [[graft.plans.GraftExtensions]]
  * injects every entry, so a session built with the extensions resolves
  * them all from SQL text. A new kernel is one expression class plus one
  * entry here. */
object Kernels {

  final case class Kernel(
      name: String,
      expressionClass: Class[_ <: Expression],
      builder: Seq[Expression] => Expression)

  val all: Seq[Kernel] = Seq(
    Kernel("vec_dot", classOf[FloatVecDot], e => FloatVecDot(e(0), e(1))),
    Kernel("hex_hamming", classOf[HexHamming], e => HexHamming(e(0), e(1))),
    Kernel("jaro_winkler", classOf[JaroWinkler], e => JaroWinkler(e(0), e(1))),
    Kernel("minhash_bands", classOf[MinHashBands], e => MinHashBands(e(0), e(1), e(2))),
    Kernel("simhash64", classOf[SimHash64], e => SimHash64(e(0))),
    Kernel("deflate_len", classOf[DeflateLen], e => DeflateLen(e(0))),
    Kernel("distinct_count", classOf[DistinctCount], e => DistinctCount(e(0))),
    Kernel("unicode_normalize", classOf[UnicodeNormalize], UnicodeNormalize.builder),
    Kernel("bpe_encode", classOf[BpeEncode], e => BpeEncode(e(0), e(1))),
    Kernel("unigram_encode", classOf[UnigramEncode], e => UnigramEncode(e(0), e(1))),
    Kernel("wordpiece_encode", classOf[WordPieceEncode], e => WordPieceEncode(e(0), e(1))),
    Kernel("pq_encode", classOf[PqEncode], e => PqEncode(e)),
    Kernel("chrf_matches", classOf[ChrfMatches], e => ChrfMatches(e(0), e(1))),
    Kernel("bleu_matches", classOf[BleuMatches], e => BleuMatches(e(0), e(1))),
    Kernel("char_gram_tf", classOf[CharGramTf], e => CharGramTf(e(0), e(1), e(2), e(3))),
    Kernel("token_bucket_tf", classOf[TokenBucketTf], e => TokenBucketTf(e(0), e(1))),
    Kernel("token_tf_vec", classOf[TokenTfVec], e => TokenTfVec(e(0), e(1))),
    Kernel("map_margin", classOf[MapMargin], e => MapMargin(e(0), e(1))),
    Kernel("cdc_cuts", classOf[CdcCuts], e => CdcCuts(e(0), e(1), e(2))),
    Kernel("gae_fold", classOf[GaeFold], e => GaeFold(e(0), e(1), e(2))),
    Kernel("mmr_select", classOf[MmrSelect], e => MmrSelect(e(0), e(1), e(2), e(3))),
    Kernel("lcs_tokens", classOf[LcsTokens], e => LcsTokens(e(0), e(1))),
    Kernel("edit_dist_tokens", classOf[EditDistTokens], e => EditDistTokens(e(0), e(1))))
}
