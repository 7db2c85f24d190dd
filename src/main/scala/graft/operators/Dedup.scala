package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftSqlBridge.{column, expression}

import graft.functions.{HexHamming, MinHashBands, SimHash64}

/** Deduplication operators for LLM-data-pipeline curation (exact,
  * n-gram-Jaccard, MinHash-LSH, SimHash), designed scale-first:
  *
  *  - candidate generation is always an equi-join on a derived key
  *    (content hash / shared shingle / LSH band) — never an O(n²) cross
  *    join — so the shuffle is keyed and AQE can handle band skew;
  *  - all hash functions are md5-hex (engine-stable, oracle-checkable);
  *  - thresholds use integer arithmetic (inter*10 >= union) so no float
  *    boundary can diverge between engines.
  */
object Dedup {

  /** Exact dedup: group identical content, keep the smallest id.
    * One keyed shuffle; at scale this is the standard hash-dedup pass. */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Span-level exact dedup — the relational rendering of
    * suffix-array substring dedup (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better"), at fixed non-overlapping
    * `window`-token span granularity so candidate generation stays a
    * keyed shuffle instead of a corpus-wide suffix sort. Paragraph-level
    * dedup is the same operator with spans = paragraphs.
    *
    * Every document is cut into consecutive `window`-token spans
    * (map-only: slice over the token array, no explode of tokens). A
    * span KEEPS only its globally-first occurrence — order is (doc id,
    * span position), ties impossible — and every later exact repeat is
    * dropped. Survivors reassemble in position order; documents whose
    * every span was seen elsewhere disappear (their content is fully
    * redundant).
    *
    * Scale shape: one shuffle keyed by span content (the
    * first-occurrence reduction), one keyed by doc id (the reassembly).
    * First-occurrence is `min(struct(sid, c))` per span, aggregated in
    * two phases with a map-side partial — the struct-typed buffer isn't
    * UnsafeRow-mutable so Spark plans SortAggregate rather than
    * HashAggregate, but the property that matters for skew survives:
    * every task pre-reduces its repeats of a span to ONE row, so a
    * viral boilerplate span arrives at its reducer once per task, not
    * once per occurrence (a row_number window would instead sort the
    * hottest span's full occurrence list on one reducer — the shape
    * capShingleFrequency exists to avoid). Span text itself is the
    * shuffle key — at 100 TB swap the key to `md5(span)` and carry the
    * text only through the reassembly side.
    */
  def spanDedup(docs: DataFrame, textCol: String, idCol: String,
      window: Int = 8): DataFrame = {
    require(window >= 1, s"span window must be >= 1, got $window")
    val spans = docSpans(docs, textCol, idCol, window)
      .select(col("sid"), col("c"), col("span"))
    spans.groupBy(col("span"))
      .agg(min(struct(col("sid"), col("c"))).as("f")) // global first occurrence
      .select(col("f.sid").as("sid"), col("f.c").as("c"), col("span"))
      .groupBy(col("sid"))
      .agg(sort_array(collect_list(struct(col("c"), col("span")))).as("ks"),
        count(lit(1)).as("n_kept"))
      .select(col("sid").as(idCol),
        array_join(transform(col("ks"), k => k.getField("span")), " ").as("text_dedup"),
        col("n_kept"))
  }

  /** Paragraph-level global exact dedup — the newline-granular member
    * of the exact-dedup family ([[exactDedup]]: whole doc, this:
    * paragraph, [[spanDedup]]/[[substringDedup]]: token spans), and the
    * rendering of C4's repeated-span removal at the granularity web
    * boilerplate actually repeats (nav bars, cookie banners, footers —
    * identical PARAGRAPHS pasted across millions of pages). Every
    * paragraph keeps its globally FIRST occurrence (total order
    * (doc_id, position) — deterministic, engine-replayable) and
    * vanishes everywhere else; docs rebuild from their kept paragraphs
    * in document order.
    *
    * Scale shape is [[spanDedup]]'s verbatim: the paragraph relation is
    * one row per (doc, position) keyed by `md5(paragraph)` (32-hex keys
    * on the wire, not paragraph text), first-occurrence is the
    * skew-proof `min(struct(sid, pos))` reduction (a cookie banner
    * repeated in 10⁸ docs pre-reduces to one candidate row per map
    * task — no hot reducer), and the rebuild is one sid-keyed shuffle.
    * Two keyed shuffles total, no window over the corpus, no driver
    * state.
    *
    * Empty paragraphs (consecutive newlines, leading/trailing) are
    * dropped, not deduped; docs with no non-empty paragraph (and
    * null-text docs) drop out — the [[spanDedup]] convention. Returns
    * `(<idCol>, text_dedup, n_kept, n_dropped)`. */
  def paragraphDedup(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val paras = Par.spread(docs.select(col(idCol).as("sid"),
        filter(split(col(textCol), "\n"), p => p =!= "").as("ps")))
      .filter(size(col("ps")) > 0)
      .select(col("sid"), posexplode(col("ps")).as(Seq("pos", "para")))
      .select(col("sid"), col("pos"), col("para"), md5(col("para")).as("k"))
    val firsts = paras.groupBy(col("k"))
      .agg(min(struct(col("sid"), col("pos"))).as("f"))
      .select(col("k"), col("f.sid").as("fsid"), col("f.pos").as("fpos"))
    paras.join(firsts, Seq("k"))
      .groupBy(col("sid"))
      .agg(
        sort_array(collect_list(when(
          col("sid") === col("fsid") && col("pos") === col("fpos"),
          struct(col("pos"), col("para"))))).as("ks"),
        count(lit(1)).as("n_total"))
      .select(col("sid").as(idCol),
        array_join(transform(col("ks"), k => k.getField("para")), "\n")
          .as("text_dedup"),
        size(col("ks")).cast("long").as("n_kept"),
        (col("n_total") - size(col("ks"))).cast("long").as("n_dropped"))
  }

  /** Variable-length substring dedup — the full Lee et al. ExactSubstr
    * semantics ("remove every repeated substring of ≥ `minLen` tokens,
    * keep the first occurrence"), which [[spanDedup]]'s fixed
    * non-overlapping grid deliberately approximates. The suffix-array
    * construction the paper uses is a single-machine algorithm; the
    * relational equivalent is SLIDING `minLen`-gram anchors at stride 1:
    * a repeated substring of length m ≥ L is exactly a run of m−L+1
    * repeated L-grams, so the union of [start, start+L) over every
    * non-first occurrence of a duplicated L-gram covers precisely the
    * tokens the suffix-array form removes — variable length, boundary
    * positions included, no grid alignment anywhere.
    *
    * Scale shape: the gram relation is one row per token position
    * (each token rides in ≤ L grams but each gram is ONE row), keyed by
    * `md5(gram)` so the shuffle carries 32-hex keys, not token text.
    * First-occurrence is the same skew-proof two-phase
    * `min(struct(sid, i))` reduction as [[spanDedup]] — a viral
    * boilerplate gram pre-reduces to one row per map task. Coverage
    * then folds per document: one keyed shuffle collects each doc's
    * duplicate-anchor starts, and the kept-token filter is a map-only
    * array HOF over (position, starts) — per-doc work, nothing
    * corpus-wide, no window over the corpus. Cost relative to
    * [[spanDedup]]: L× more gram rows (stride 1 vs L) buying exact
    * variable-length semantics; run it where fidelity matters, the
    * fixed grid where a cheap approximation is enough.
    *
    * Docs with ≥ 1 token all return (empty `text_dedup` when fully
    * covered — the [[boilerplateScrub]] convention); token-less and
    * null-text docs drop out ([[spanDedup]] convention). Returns
    * `(<idCol>, text_dedup, n_kept, n_dropped)`. */
  def substringDedup(docs: DataFrame, textCol: String, idCol: String,
      minLen: Int = 8): DataFrame = {
    require(minLen >= 1, s"minLen must be >= 1, got $minLen")
    val t = Par.spread(docs.select(col(idCol).as("sid"),
        TextAnalysis.tokens(col(textCol)).as("toks")))
      .filter(size(col("toks")) > 0)
      .select(col("sid"), col("toks"), size(col("toks")).as("n"))
    val grams = t.filter(col("n") >= minLen)
      .select(col("sid"), posexplode(transform(
        sequence(lit(0), (col("n") - minLen).cast("int")),
        i => md5(array_join(slice(col("toks"), i + 1, lit(minLen)), " "))))
        .as(Seq("i", "g")))
    val firsts = grams.groupBy(col("g"))
      .agg(min(struct(col("sid"), col("i"))).as("f"), count(lit(1)).as("cnt"))
    val dupStarts = grams.join(firsts, Seq("g"))
      .filter(col("cnt") > 1 &&
        !(col("sid") === col("f.sid") && col("i") === col("f.i")))
      .groupBy(col("sid"))
      .agg(sort_array(collect_set(col("i"))).as("starts"))
    t.join(dupStarts, Seq("sid"), "left")
      .select(col("sid"), col("n"),
        filter(transform(sequence(lit(0), (col("n") - 1).cast("int")),
          p => struct(p.as("p"), element_at(col("toks"), p + 1).as("tok"))),
          st => !exists(coalesce(col("starts"), array().cast("array<int>")),
            s => st.getField("p") >= s && st.getField("p") < s + minLen))
          .as("kept"))
      .select(col("sid").as(idCol),
        array_join(transform(col("kept"), k => k.getField("tok")), " ")
          .as("text_dedup"),
        size(col("kept")).cast("long").as("n_kept"),
        (col("n") - size(col("kept"))).cast("long").as("n_dropped"))
  }

  /** Boilerplate scrub — the C4/RefinedWeb corpus-frequency rule
    * (Raffel et al. 2020 §2.2 drop repeated lines; Penedo et al. 2023
    * line-wise filtering): a span whose text occurs in at least
    * `minDocFreq` DISTINCT documents is boilerplate (nav chrome, cookie
    * banners, license headers) and is removed from EVERY document —
    * including the first — unlike [[spanDedup]], which keeps the global
    * first occurrence. Documents are cut into the same consecutive
    * non-overlapping `window`-token spans ("lines" for a corpus with no
    * newline structure); survivors reassemble in position order. A
    * document whose every span is boilerplate comes back with empty
    * `text_clean` (n_kept = 0) rather than vanishing — the caller
    * decides whether empty docs survive.
    *
    * Scale shape: one hash aggregation keyed by (span, sid) collapsing
    * to per-span distinct-doc counts (two-phase, map-side partial — a
    * viral span reaches its reducer once per task per doc, not once per
    * occurrence), one left-anti equi-join marking hot spans, one
    * reassembly aggregation keyed by doc id. No window over the corpus,
    * no driver-side state. At 100 TB swap the join/agg key to
    * `md5(span)` exactly as [[spanDedup]] documents. */
  /** The consecutive non-overlapping `window`-token span relation
    * `(sid, ns, c, span)` shared by [[spanDedup]] and
    * [[boilerplateScrub]] (`ns` = the doc's span count): map-only slice
    * over the token array, no token explode. Token-less docs drop out.
    * At 100 TB swap the downstream join/agg key to `md5(span)` and
    * carry the text only through the reassembly side — one change, both
    * consumers. */
  private def docSpans(docs: DataFrame, textCol: String, idCol: String,
      window: Int): DataFrame = {
    val nSpans = floor((size(col("toks")) - 1) / lit(window)).cast("int") + 1
    Par.spread(docs.select(col(idCol).as("sid"), TextAnalysis.tokens(col(textCol)).as("toks")))
      .filter(size(col("toks")) > 0)
      .select(col("sid"), nSpans.as("ns"),
        posexplode(transform(sequence(lit(0), nSpans - 1),
          c => array_join(slice(col("toks"), c * window + 1, lit(window)), " ")))
          .as(Seq("c", "span")))
  }

  def boilerplateScrub(docs: DataFrame, textCol: String, idCol: String,
      window: Int = 8, minDocFreq: Int = 2): DataFrame = {
    require(window >= 1, s"span window must be >= 1, got $window")
    require(minDocFreq >= 2,
      s"minDocFreq must be >= 2 (1 would scrub every span), got $minDocFreq")
    val spans = docSpans(docs, textCol, idCol, window)
    val hot = spans.groupBy(col("span"))
      .agg(countDistinct(col("sid")).as("span_df"))
      .filter(col("span_df") >= minDocFreq)
      .select(col("span"))
    val kept = spans.join(hot, Seq("span"), "left_anti")
      .groupBy(col("sid"))
      .agg(sort_array(collect_list(struct(col("c"), col("span")))).as("ks"),
        count(lit(1)).as("n_kept"))
    // anchor on per-doc span totals so a doc whose every span was
    // scrubbed re-enters with empty text_clean instead of vanishing
    spans.groupBy(col("sid")).agg(first(col("ns")).as("ns"))
      .join(kept, Seq("sid"), "left")
      .select(col("sid").as(idCol),
        coalesce(array_join(transform(col("ks"), k => k.getField("span")), " "),
          lit("")).as("text_clean"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("ns") - coalesce(col("n_kept"), lit(0L))).cast("long").as("n_dropped"))
  }

  /** Distinct (id, shingle) pairs — the base relation for Jaccard and
    * MinHash. Exploding shingles keys everything by content, so the
    * self-join below is an equi-join, not a cross product. */
  import Par.spread

  /** `distinct=false` skips the dedup shuffle for consumers that are
    * duplicate-insensitive (min-hash: min over a multiset == min over the
    * set); Jaccard set arithmetic needs the default distinct=true. */
  def docShingles(df: DataFrame, textCol: String, idCol: String, k: Int = 3,
      distinct: Boolean = true): DataFrame = {
    val exploded =
      spread(df.select(col(idCol).as("sid"), TextAnalysis.tokens(col(textCol)).as("toks")))
        .select(col("sid"), explode(TextAnalysis.shingles(col("toks"), k)).as("sh"))
    if (distinct) exploded.distinct() else exploded
  }

  /** N-gram Jaccard near-dup: candidate pairs = docs sharing ≥1 shingle
    * (found via shingle equi-join); jaccard = |∩| / |∪| over shingle sets.
    * `thresholdTenths` keeps the cut integer-exact (e.g. 1 → j ≥ 0.1). */
  def jaccardPairs(shing: DataFrame, thresholdTenths: Int): DataFrame = {
    // per-doc set sizes come from a hash aggregation (no sort), and join
    // onto the AGGREGATED pair relation — one row per candidate pair, not
    // the wide (pair × shared-shingle) relation. The sizes side is one row
    // per doc; AQE broadcasts it while it fits and falls back to a keyed
    // shuffle join beyond that — both shapes hold at corpus scale.
    val sizes = shing.groupBy(col("sid")).agg(count(lit(1)).as("n"))
    val a = shing.select(col("sid").as("a_id"), col("sh"))
    val b = shing.select(col("sid").as("b_id"), col("sh"))
    a.join(b, Seq("sh")).filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("sid").as("a_id"), col("n").as("na")), Seq("a_id"))
      .join(sizes.select(col("sid").as("b_id"), col("n").as("nb")), Seq("b_id"))
      .withColumn("un", col("na") + col("nb") - col("inter"))
      .filter(col("inter") * 10 >= col("un") * thresholdTenths)
      .select(col("a_id"), col("b_id"), col("inter"), col("un"),
        round(col("inter").cast("double") / col("un"), 6).as("jaccard"))
  }

  /** Containment near-dup — the asymmetric complement of
    * [[jaccardPairs]]: `C(A,B) = |A∩B| / min(|A|,|B|)` flags QUOTE
    * INCLUSION (a short doc embedded in a long one), which Jaccard
    * structurally misses — a 50-shingle doc fully contained in a
    * 5000-shingle doc has J ≈ 0.01 but C = 1.0. This is the Broder
    * containment measure, the standard second axis of shingle-based
    * dedup (news wire stories inside aggregator pages, quoted posts
    * inside threads).
    *
    * Same candidate generation and shuffle shape as [[jaccardPairs]]
    * (shared-shingle equi-join is the only wide exchange; feed it a
    * [[capShingleFrequency]]-capped relation at corpus scale), and the
    * same integer-exact cut: keep pairs with
    * `inter * 10 >= min(na, nb) * thresholdTenths`. Returns
    * `(a_id, b_id, inter, na, nb, containment)` with containment
    * rounded to 6 dp. */
  def containmentPairs(shing: DataFrame, thresholdTenths: Int): DataFrame = {
    val sizes = shing.groupBy(col("sid")).agg(count(lit(1)).as("n"))
    val a = shing.select(col("sid").as("a_id"), col("sh"))
    val b = shing.select(col("sid").as("b_id"), col("sh"))
    a.join(b, Seq("sh")).filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("sid").as("a_id"), col("n").as("na")), Seq("a_id"))
      .join(sizes.select(col("sid").as("b_id"), col("n").as("nb")), Seq("b_id"))
      .filter(col("inter") * 10 >= least(col("na"), col("nb")) * thresholdTenths)
      .select(col("a_id"), col("b_id"), col("inter"), col("na"), col("nb"),
        round(col("inter").cast("double") / least(col("na"), col("nb")), 6)
          .as("containment"))
  }

  /** Stop-shingle cap: drop shingles shared by more than `maxDocs`
    * documents before pair generation. At corpus scale a handful of
    * ubiquitous shingles (boilerplate, headers) would otherwise each
    * produce O(df²) candidate pairs — the quadratic term that kills
    * shared-shingle joins. Changes recall only for pairs whose ONLY
    * overlap is ubiquitous shingles (which are exactly the
    * non-discriminative ones). */
  def capShingleFrequency(shing: DataFrame, maxDocs: Int): DataFrame = {
    // hash-agg the doc frequency per shingle and semi-join the keepers
    // back — no per-partition sort (a window over sh would sort), and the
    // shuffle is keyed by sh, which the downstream pair join reuses
    val keep = shing.groupBy(col("sh"))
      .agg(count(lit(1)).as("graft_df"))
      .filter(col("graft_df") <= maxDocs)
      .select(col("sh"))
    shing.join(keep, Seq("sh"), "left_semi")
  }

  /** Capped Jaccard as ONE stage: cap, materialize the capped shingle
    * relation once (`localCheckpoint` — the Curation stage-boundary
    * discipline), then generate pairs. [[jaccardPairs]] consumes its
    * input three times (per-doc set sizes + both sides of the shared-
    * shingle self-join); without a boundary every consumer replays
    * tokenize → explode → distinct → df-agg → semi-join, so the O(df²)
    * guard pass roughly doubled the query instead of costing one pass
    * (q_d2b benched 4.73s vs plain q_d2's 2.70s at sf0.1 in r6).
    * Materializing the CAPPED relation is the scale-sane boundary: it
    * is post-distinct and post-cap — the smallest the shingle relation
    * ever gets — and truncating lineage there also cuts the recompute
    * horizon for the three downstream shuffles.
    *
    * Measured (r7, `ScaleProbe iso`, sf0.1, same JVM): q_d2b 2.06s vs
    * plain q_d2 1.80s — the guard now costs ~14% over the uncapped
    * query instead of ~75%; the remaining delta is the (real) df-agg +
    * semi-join work, paid once. */
  def jaccardPairsCapped(shing: DataFrame, maxDocs: Int,
      thresholdTenths: Int): DataFrame =
    jaccardPairs(Iterate.checkpoint(capShingleFrequency(shing, maxDocs)),
      thresholdTenths)

  /** MinHash signature: k independent hash functions h_i(s) = md5(i|s),
    * each minimized over the shingle set — one aggregation, k min()s. */
  def minhashSignature(shing: DataFrame, numHashes: Int): DataFrame = {
    val mins = (0 until numHashes).map(i =>
      min(md5(concat(lit(s"$i|"), col("sh")))).as(s"mh$i"))
    shing.groupBy(col("sid")).agg(mins.head, mins.tail: _*)
  }

  /** MinHash-LSH banding: split the signature into bands of `rowsPerBand`
    * hashes, hash each band, and emit candidate pairs that collide in any
    * band. The band join is an equi-join on (band, band_hash) — the LSH
    * trick that makes near-dup search linear-ish at 100 TB. */
  def minhashCandidates(shing: DataFrame, numHashes: Int, rowsPerBand: Int): DataFrame = {
    require(numHashes % rowsPerBand == 0,
      s"rowsPerBand=$rowsPerBand must divide numHashes=$numHashes — " +
        "a partial trailing band would silently weaken recall")
    val sig = minhashSignature(shing, numHashes)
    val numBands = numHashes / rowsPerBand
    val bandCols = (0 until numBands).map { b =>
      val parts = (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), md5(concat_ws("|", parts: _*)).as("bh"))
    }
    val bands = sig.select(col("sid"), explode(array(bandCols: _*)).as("bb"))
      .select(col("sid"), col("bb.band").as("band"), col("bb.bh").as("bh"))
    val l = bands.select(col("sid").as("a_id"), col("band"), col("bh"))
    val r = bands.select(col("sid").as("b_id"), col("band"), col("bh"))
    l.join(r, Seq("band", "bh")).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("band"))
  }

  /** MinHash-LSH candidates with the signature computed MAP-ONLY: the
    * native [[graft.functions.MinHashBands]] kernel turns each document's
    * shingle array into its band hashes inside one projection, so the
    * only shuffle in the whole candidate generation is the band equi-join
    * itself. The relational path ([[minhashCandidates]]) shuffles the
    * exploded shingle relation (~tokens× corpus) into a k-aggregate — at
    * 100 TB that exploded shuffle dominates; this path never materializes
    * it. Produces the exact same candidate set (bit-parity hash family,
    * see the kernel's scaladoc). */
  def minhashCandidatesMapOnly(docs: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 3, numHashes: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    val bands = bandRelation(docs, textCol, idCol, shingleK, numHashes, rowsPerBand)
    val l = bands.select(col("sid").as("a_id"), col("band"), col("bh"))
    val r = bands.select(col("sid").as("b_id"), col("band"), col("bh"))
    l.join(r, Seq("band", "bh")).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("band"))
  }

  /** Per-doc LSH band relation `(sid, band, bh)` via the map-only kernel —
    * the shared candidate-generation input for self-joins
    * ([[minhashCandidatesMapOnly]]) and cross-corpus joins
    * ([[dedupAgainstStatus]]). */
  private def bandRelation(docs: DataFrame, textCol: String, idCol: String,
      shingleK: Int, numHashes: Int, rowsPerBand: Int): DataFrame = {
    require(numHashes % rowsPerBand == 0,
      s"rowsPerBand=$rowsPerBand must divide numHashes=$numHashes")
    // filter on the cheap token count, never on the derived shingle array
    // (a pushed-down size(shingles) predicate would inline and re-run the
    // shingle HOF); the kernel itself is consumed exactly once by the
    // posexplode generator, so it cannot be duplicated by CollapseProject
    spread(docs.select(col(idCol).as("sid"),
        TextAnalysis.tokens(col(textCol)).as("toks")))
      .filter(size(col("toks")) >= shingleK)
      .select(col("sid"), posexplode(column(MinHashBands(
        expression(TextAnalysis.shingles(col("toks"), shingleK)),
        Literal(numHashes), Literal(rowsPerBand)))).as(Seq("band", "bh")))
  }

  /** Incremental-corpus dedup: classify every INCOMING document against
    * an EXISTING (already-curated) corpus — `exact_dup` (content hash
    * present in the existing corpus), `near_dup` (a MinHash-LSH band
    * collision against the existing side whose exact Jaccard survives the
    * threshold), else `kept`. This is the nightly-update shape of a
    * production corpus: new crawl batches dedup against the accumulated
    * corpus without ever re-clustering it.
    *
    * Scale shape: the exact check is one keyed semi-join on the content
    * hash; near-dup candidates come from a CROSS-CORPUS band equi-join
    * (incoming bands × existing bands — never incoming × incoming, so a
    * batch with internal duplicates still lands once), and only those
    * candidates are rescored. Ids must be disjoint across the two
    * corpora (they share one shingle relation for the rescore). */
  def dedupAgainstStatus(incoming: DataFrame, existing: DataFrame,
      textCol: String, idCol: String,
      shingleK: Int = 3, numHashes: Int = 8, rowsPerBand: Int = 2,
      thresholdTenths: Int = 1): DataFrame = {
    val incH = incoming.select(col(idCol).as("sid"), md5(col(textCol)).as("h"))
    val exact = incH.join(
        existing.select(md5(col(textCol)).as("h")).distinct(), Seq("h"), "left_semi")
      .select(col("sid")).withColumn("is_exact", lit(true))
    val bn = bandRelation(incoming, textCol, idCol, shingleK, numHashes, rowsPerBand)
    val be = bandRelation(existing, textCol, idCol, shingleK, numHashes, rowsPerBand)
    val cand = bn.select(col("sid").as("a_id"), col("band"), col("bh"))
      .join(be.select(col("sid").as("b_id"), col("band"), col("bh")), Seq("band", "bh"))
      .select(col("a_id"), col("b_id")).distinct()
    val shingAll = docShingles(
      incoming.select(col(idCol), col(textCol))
        .unionByName(existing.select(col(idCol), col(textCol))),
      textCol, idCol, shingleK)
    val near = jaccardForPairs(cand, shingAll, thresholdTenths)
      .select(col("a_id").as("sid")).distinct().withColumn("is_near", lit(true))
    incoming.select(col(idCol).as("doc_id"))
      .join(exact.withColumnRenamed("sid", "doc_id"), Seq("doc_id"), "left")
      .join(near.withColumnRenamed("sid", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("is_exact"), lit("exact_dup"))
          .when(col("is_near"), lit("near_dup"))
          .otherwise(lit("kept")).as("status"))
  }

  /** Persist the signature artifacts of a curated corpus so nightly
    * incremental batches ([[dedupAgainstSignatures]]) never touch the
    * corpus TEXT again: distinct content hashes (`dir/hashes`), the LSH
    * band relation (`dir/bands`), and the distinct shingle relation the
    * exact rescore needs (`dir/shingles`). One tokenize+shingle pass over
    * the corpus at write time buys every later batch a read of three
    * narrow columnar relations — the production trade: at 100 TB the
    * corpus text is the thing you cannot afford to re-tokenize per batch.
    * Plain parquet via the [[graft.sources.Sinks]] layout conventions;
    * re-run after folding a batch in (or append the batch's own
    * signatures, which these same writers produce for any frame). */
  def writeCorpusSignatures(existing: DataFrame, textCol: String, idCol: String,
      dir: String, shingleK: Int = 3, numHashes: Int = 8,
      rowsPerBand: Int = 2): Unit = {
    existing.select(md5(col(textCol)).as("h")).distinct()
      .write.mode("overwrite").parquet(s"$dir/hashes")
    bandRelation(existing, textCol, idCol, shingleK, numHashes, rowsPerBand)
      .write.mode("overwrite").parquet(s"$dir/bands")
    docShingles(existing, textCol, idCol, shingleK)
      .write.mode("overwrite").parquet(s"$dir/shingles")
  }

  /** [[dedupAgainstStatus]] against PERSISTED corpus signatures
    * ([[writeCorpusSignatures]] output) instead of the corpus itself:
    * byte-identical classification (q_d13 shares q_d12's oracle verbatim
    * on the same fixture), but the existing side's text column is never
    * scanned — only the incoming batch is tokenized; the existing hashes,
    * bands, and shingles arrive as narrow parquet reads. The signature
    * parameters must match the ones the signatures were written with
    * (they parameterize the persisted relations — every one, including
    * `shingleK`, is threaded through to the batch side so both sides
    * always shingle identically). Ids must be disjoint between the batch
    * and everything in the store ([[dedupAgainstStatus]]'s invariant;
    * see [[appendBatchSignatures]] for why the nightly loop makes this
    * the caller's job). Output: (doc_id, status). */
  def dedupAgainstSignatures(incoming: DataFrame, sigDir: String,
      textCol: String, idCol: String,
      shingleK: Int = 3, numHashes: Int = 8, rowsPerBand: Int = 2,
      thresholdTenths: Int = 1): DataFrame = {
    val spark = incoming.sparkSession
    dedupAgainstSignatureFrames(incoming,
      spark.read.parquet(s"$sigDir/hashes"),
      spark.read.parquet(s"$sigDir/bands"),
      spark.read.parquet(s"$sigDir/shingles"),
      textCol, idCol, shingleK, numHashes, rowsPerBand, thresholdTenths)
  }

  /** [[dedupAgainstSignatures]] with the three signature relations
    * passed as frames — the seam the streaming ingest loop
    * ([[ingestBatch]]) needs to restrict the store to PRIOR batches. */
  def dedupAgainstSignatureFrames(incoming: DataFrame, exHashes: DataFrame,
      exBands: DataFrame, exShingles: DataFrame,
      textCol: String, idCol: String,
      shingleK: Int = 3, numHashes: Int = 8, rowsPerBand: Int = 2,
      thresholdTenths: Int = 1): DataFrame = {
    val incH = incoming.select(col(idCol).as("sid"), md5(col(textCol)).as("h"))
    val exact = incH.join(exHashes, Seq("h"), "left_semi")
      .select(col("sid")).withColumn("is_exact", lit(true))
    val bn = bandRelation(incoming, textCol, idCol, shingleK, numHashes, rowsPerBand)
    val cand = bn.select(col("sid").as("a_id"), col("band"), col("bh"))
      .join(exBands.select(col("sid").as("b_id"), col("band"), col("bh")),
        Seq("band", "bh"))
      .select(col("a_id"), col("b_id")).distinct()
    val shingAll = docShingles(incoming.select(col(idCol), col(textCol)),
      textCol, idCol, shingleK).unionByName(exShingles)
    val near = jaccardForPairs(cand, shingAll, thresholdTenths)
      .select(col("a_id").as("sid")).distinct().withColumn("is_near", lit(true))
    incoming.select(col(idCol).as("doc_id"))
      .join(exact.withColumnRenamed("sid", "doc_id"), Seq("doc_id"), "left")
      .join(near.withColumnRenamed("sid", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("is_exact"), lit("exact_dup"))
          .when(col("is_near"), lit("near_dup"))
          .otherwise(lit("kept")).as("status"))
  }

  /** Fold an ACCEPTED batch into a persisted signature store — the step
    * that closes the nightly loop: classify a batch against `dir`
    * ([[dedupAgainstSignatures]]), filter to the `kept` ids, then append
    * exactly the three relations [[writeCorpusSignatures]] produces,
    * computed from the batch alone. The next batch then sees
    * corpus ∪ accepted-batch without anything ever re-tokenizing the
    * existing side. Append-mode parquet: no rewrite of the (100 TB-scale)
    * store, just new part files; hash uniqueness is maintained by the
    * loop itself (a doc whose hash is already in the store classifies
    * `exact_dup` and is never accepted), and the exact semi-join is
    * duplicate-key-robust regardless. Parameters must match the store's.
    *
    * INVARIANT the loop's caller owns: ids must be GLOBALLY unique
    * across every batch ever appended (the rescore merges shingle
    * relations by id — [[dedupAgainstStatus]]'s disjointness note
    * compounds here because the store accumulates forever). Nightly id
    * sequences that restart per batch must be namespaced (e.g.
    * date-prefixed) before entering the loop. `accepted` may be the
    * status frame [[dedupAgainstSignatures]] returns — filtered or not:
    * when a `status` column is present only `kept` rows count, so
    * passing the raw classification cannot append dup signatures — or
    * any frame carrying `idCol`.
    */
  def appendBatchSignatures(batch: DataFrame, accepted: DataFrame,
      textCol: String, idCol: String, dir: String, shingleK: Int = 3,
      numHashes: Int = 8, rowsPerBand: Int = 2): Unit = {
    val keptOnly =
      if (accepted.columns.contains("status")) accepted.filter(col("status") === "kept")
      else accepted
    val accIds =
      if (keptOnly.columns.contains(idCol)) keptOnly.select(col(idCol))
      else keptOnly.select(col("doc_id").as(idCol))
    val docs = batch.join(accIds, Seq(idCol), "left_semi")
    docs.select(md5(col(textCol)).as("h")).distinct()
      .write.mode("append").parquet(s"$dir/hashes")
    bandRelation(docs, textCol, idCol, shingleK, numHashes, rowsPerBand)
      .write.mode("append").parquet(s"$dir/bands")
    docShingles(docs, textCol, idCol, shingleK)
      .write.mode("append").parquet(s"$dir/shingles")
  }

  /** Opt-out purge of a persisted signature store — right-to-be-
    * forgotten closed for the nightly dedup loop: every store here was
    * append-only ([[appendBatchSignatures]] folds IN, nothing folded
    * OUT), so a doc whose owner revokes it would keep classifying new
    * near-dups of itself forever. The purge request must carry the
    * PAYLOADS to forget (`(idCol, textCol)` rows — the exact-hash
    * relation stores `md5(text)` without ids, and a store cannot
    * reverse a hash; the accepted-output directory the loop already
    * writes is where a caller recovers them). Steps, crash-ordered:
    *
    *  1. the purged ids append to `dir/tombstones` FIRST — the audit
    *     trail survives any later crash, and re-running the purge is
    *     idempotent (anti-joins of already-absent rows are no-ops);
    *  2. `dir/hashes` drops the purged texts' md5 rows, `dir/bands` and
    *     `dir/shingles` drop the purged ids — each via
    *     [[graft.sources.Sinks.rewriteParquet]]'s recoverable staged
    *     swap (copy-on-write: batch revocation requests nightly, not
    *     per request).
    *
    * After the purge a RESUBMITTED copy of the purged doc classifies
    * `kept` (it no longer matches anything) and a near-dup of it no
    * longer blocks — the exact contract a deletion request demands,
    * spec-proved as a two-batch accept → purge → re-classify flow. */
  def purgeSignatures(spark: SparkSession, dir: String, purged: DataFrame,
      textCol: String, idCol: String): Unit = {
    val ids = purged.select(col(idCol).as("sid")).distinct()
    val hs = purged.select(md5(col(textCol)).as("h")).distinct()
    ids.write.mode("append").parquet(s"$dir/tombstones")
    graft.sources.Sinks.rewriteParquet(spark, s"$dir/hashes",
      _.join(broadcast(hs), Seq("h"), "left_anti"))
    graft.sources.Sinks.rewriteParquet(spark, s"$dir/bands",
      _.join(broadcast(ids), Seq("sid"), "left_anti"))
    graft.sources.Sinks.rewriteParquet(spark, s"$dir/shingles",
      _.join(broadcast(ids), Seq("sid"), "left_anti"))
  }

  /** One replay-idempotent step of the CONTINUOUS ingest-dedup loop —
    * the streaming counterpart of the [[dedupAgainstSignatures]] +
    * [[appendBatchSignatures]] nightly pair, shaped for
    * `foreachBatch` ([[graft.streaming.EventStreams.streamingIngestDedup]]):
    *
    *  - the batch classifies against the signatures of STRICTLY PRIOR
    *    batches (`batch=<id>` partition subdirs, pruned `< batchId`) —
    *    so a replayed micro-batch never sees its own half-written
    *    signatures and never classifies its docs as duplicates of
    *    themselves;
    *  - accepted docs land at `outDir/batch=<id>` and the batch's
    *    three signature relations at `sigDir/<rel>/batch=<id>`, all
    *    mode-overwrite — replay rewrites the same directories
    *    byte-for-byte instead of duplicating (the
    *    [[graft.streaming.EventStreams.runToIdempotentParquet]]
    *    pattern, IngestDedupSpec proves store and output are
    *    replay-stable);
    *  - an empty or not-yet-created store is a normal first-batch
    *    state: the prior relations fall back to empty frames with the
    *    exact schemas the signature writers produce.
    *
    * Same invariants as the nightly loop: ids globally unique across
    * all batches, parameters fixed for the store's lifetime. Returns
    * the batch's (doc_id, status) classification. */
  def ingestBatch(batch: DataFrame, batchId: Long, sigDir: String,
      outDir: String, textCol: String, idCol: String,
      shingleK: Int = 3, numHashes: Int = 8, rowsPerBand: Int = 2,
      thresholdTenths: Int = 1): DataFrame = {
    val spark = batch.sparkSession
    def prior(sub: String, empty: => DataFrame): DataFrame = {
      // missing-store probe: ONLY the path-absent cases fall back to the
      // empty frame — the reader's PATH_NOT_FOUND / UNABLE_TO_INFER_SCHEMA
      // conditions (absent dir, present-but-fileless dir), or a raw
      // FileNotFoundException ONLY when the store dir is verifiably gone
      // at probe time. Anything else — a transient FS failure, a corrupt
      // footer, schema drift, a file deleted between listing and footer
      // read — must FAIL the micro-batch: a broad catch here would
      // silently classify the whole batch as novel and permanently fold
      // duplicates into the store and the accepted output.
      def storeAbsent: Boolean = {
        val p = new org.apache.hadoop.fs.Path(s"$sigDir/$sub")
        !p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
      }
      try spark.read.parquet(s"$sigDir/$sub")
        .filter(col("batch") < batchId).drop("batch")
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if Option(e.getCondition).exists(c =>
              c.startsWith("PATH_NOT_FOUND") ||
              c.startsWith("UNABLE_TO_INFER_SCHEMA")) => empty
        case _: java.io.FileNotFoundException if storeAbsent => empty
      }
    }
    val none = batch.limit(0)
    val exHashes = prior("hashes", none.select(md5(col(textCol)).as("h")))
    val exBands = prior("bands",
      bandRelation(none, textCol, idCol, shingleK, numHashes, rowsPerBand))
    val exShingles = prior("shingles",
      docShingles(none.select(col(idCol), col(textCol)), textCol, idCol, shingleK))
    // cached across the four writes below (the classification joins are
    // the expensive part), then RELEASED before returning — a
    // long-running stream must not accumulate one pinned frame per
    // trigger. Releasing is safe because the frame is recomputable
    // CORRECTLY even after this batch's own signatures land: the prior()
    // reads filter `batch < batchId`, so a recompute still classifies
    // against exactly the prior store (the same property that makes
    // crash replay idempotent).
    val status = dedupAgainstSignatureFrames(
      batch, exHashes, exBands, exShingles, textCol, idCol,
      shingleK, numHashes, rowsPerBand, thresholdTenths).persist()
    try {
      val kept = batch.join(
        status.filter(col("status") === "kept").select(col("doc_id").as(idCol)),
        Seq(idCol), "left_semi")
      kept.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      kept.select(md5(col(textCol)).as("h")).distinct()
        .write.mode("overwrite").parquet(s"$sigDir/hashes/batch=$batchId")
      bandRelation(kept, textCol, idCol, shingleK, numHashes, rowsPerBand)
        .write.mode("overwrite").parquet(s"$sigDir/bands/batch=$batchId")
      docShingles(kept.select(col(idCol), col(textCol)), textCol, idCol, shingleK)
        .write.mode("overwrite").parquet(s"$sigDir/shingles/batch=$batchId")
    } finally status.unpersist()
    status
  }

  /** Exact n-gram Jaccard computed ONLY for the given candidate pairs —
    * the verification stage between LSH candidate generation and
    * clustering. Unlike [[jaccardPairs]] (which scores every
    * shared-shingle pair), this joins the shingle sets onto the candidate
    * relation, so the work is O(|candidates| × shingles-per-doc), keyed by
    * (doc, shingle) — at corpus scale the candidate set is the tiny LSH
    * output, never the quadratic shared-shingle relation.
    *
    * Candidate pairs sharing zero shingles drop out of the intersection
    * aggregate, which is correct for any threshold ≥ 1 tenth (their
    * Jaccard is 0). */
  // NOTE (bench history, twice measured): map-only per-doc sizes LOSE to
  // this aggregation. Round 3: size(array_distinct(shingles)) — the
  // interpreted HOF does O(n²) string compares (q_d7 2.1s → 9.4s at
  // sf0.1). Round 4: even the native O(n) distinct_count kernel loses
  // (3.9s → 11.3s same-load A/B): the map-only spelling adds a full
  // tokenize+shingle corpus pass while saving nothing — the aggregation
  // rides the exploded-distinct relation the rescore join ALREADY
  // shuffles, so its exchange is reused and the marginal cost is one
  // count per doc. Sizes must ride the exploded relation.
  def jaccardForPairs(pairs: DataFrame, shing: DataFrame,
      thresholdTenths: Int): DataFrame =
    jaccardForPairsSized(pairs, shing,
      shing.groupBy(col("sid")).agg(count(lit(1)).as("n")), thresholdTenths)

  /** [[jaccardForPairs]] with the per-doc DISTINCT-shingle sizes supplied
    * by the caller — e.g. computed map-only with the `distinct_count`
    * kernel straight off the document scan, which removes the
    * corpus-wide sizes aggregation entirely. `sizes` = (sid, n) and must
    * cover every doc appearing in `pairs`. */
  def jaccardForPairsSized(pairs: DataFrame, shing: DataFrame,
      sizes: DataFrame, thresholdTenths: Int): DataFrame = {
    require(thresholdTenths >= 1, "threshold 0 would need zero-overlap pairs kept")
    pairs.select(col("a_id"), col("b_id"))
      .join(shing.select(col("sid").as("a_id"), col("sh")), Seq("a_id"))
      .join(shing.select(col("sid").as("b_id"), col("sh")), Seq("b_id", "sh"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("sid").as("a_id"), col("n").as("na")), Seq("a_id"))
      .join(sizes.select(col("sid").as("b_id"), col("n").as("nb")), Seq("b_id"))
      .withColumn("un", col("na") + col("nb") - col("inter"))
      .filter(col("inter") * 10 >= col("un") * thresholdTenths)
      .select(col("a_id"), col("b_id"), col("inter"), col("un"),
        round(col("inter").cast("double") / col("un"), 6).as("jaccard"))
  }

  /** The full dedup pipeline: MinHash-LSH candidates → exact-Jaccard
    * verification → connected components. Clustering raw band collisions
    * (as [[minhashCandidates]] → [[connectedComponents]] alone would)
    * merges unrelated documents transitively whenever a band collides by
    * chance — at corpus scale false-positive bands are guaranteed, so a
    * rescore stage between candidates and edges is what keeps clusters
    * honest. Every stage is a keyed equi-join; nothing here is all-pairs. */
  def verifiedClusters(docs: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 8, rowsPerBand: Int = 2, thresholdTenths: Int = 1,
      maxIter: Int = 20): DataFrame = {
    // candidates come from the map-only kernel path — the exploded
    // shingle relation is then built ONCE, for the rescore only (the
    // candidate side needs no shingle relation at all)
    val cand = minhashCandidatesMapOnly(docs, textCol, idCol,
      numHashes = numHashes, rowsPerBand = rowsPerBand)
      .select(col("a_id"), col("b_id")).distinct()
    val verified = jaccardForPairs(
      cand, docShingles(docs, textCol, idCol), thresholdTenths)
    connectedComponents(verified.select(col("a_id"), col("b_id")), maxIter)
  }

  /** Soft deduplication weights (the SemDeDup/D4 alternative to hard
    * dropping, and DataComp's documented trade: near-duplicate clusters
    * carry signal, so DOWNWEIGHT them instead of deleting — each doc in
    * a k-member verified cluster trains at weight 1/k, making every
    * cluster contribute one document's worth of gradient regardless of
    * how often it was crawled). Weights are integer MICROS
    * (`1e6 div cluster_size` — the attribution family's exact-division
    * discipline) ready for [[Sampling.weightedSample]] or a loss-scale
    * column. Cluster membership is [[verifiedClusters]] (LSH candidates
    * → exact-Jaccard rescore → CC), so chance band collisions never
    * deflate an unrelated doc's weight; docs in no verified cluster are
    * their own singleton at full weight — every input doc gets exactly
    * one row. Returns `(doc_id, cluster, cluster_size, weight_m)`. */
  def softDedupWeights(docs: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 8, rowsPerBand: Int = 2, thresholdTenths: Int = 1,
      maxIter: Int = 20): DataFrame = {
    val comp = verifiedClusters(docs, textCol, idCol, numHashes,
      rowsPerBand, thresholdTenths, maxIter)
    val sizes = comp.groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
    val member = comp.join(sizes, Seq("component"))
      .select(col("node").as("doc_id"), col("component"),
        col("cluster_size"))
    docs.select(col(idCol).as("doc_id"))
      .join(member, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"))
      .withColumn("weight_m",
        expr("CAST(1000000 AS BIGINT) div cluster_size"))
  }

  /** Effective-token accounting per source — the number a
    * data-constrained scaling plan actually budgets with (Muennighoff
    * et al. 2023: repeated/duplicated tokens are worth less than
    * unique ones): raw token counts per source next to the
    * DEDUP-DISCOUNTED effective count, where each document's tokens
    * carry its [[softDedupWeights]] weight (1e6 div cluster_size —
    * a page crawled five times contributes its tokens once across
    * the five copies, whichever sources they sit in). The
    * `unique_ratio_ppm` column is the per-source discount a mixture
    * planner multiplies into its token budget; read it next to
    * [[crossSourceOverlap]] to see WHERE the duplicated mass comes
    * from.
    *
    * Weights inherit softDedupWeights' floor division (a 3-cluster
    * sums to 999999 micros, not 1e6 — documented there, replayed
    * identically here). Null-text docs count with 0 tokens (they
    * still hold a dedup slot). Headroom: BIGINT carries Σ tokens ×
    * weight to ~9.2e12 effective tokens per source — shard by time
    * window beyond that; the ratio's half-up cross-multiplication runs
    * in DECIMAL(38,0) so it never wraps before the sum itself does.
    * Scale shape: the verified-cluster chain +
    * one doc-keyed join + ONE source-keyed hash aggregation. Returns
    * `(<sourceCol>, n_docs, n_tokens, eff_tokens_micro,
    * unique_ratio_ppm)` — ratio null for a zero-token source. */
  def effectiveTokens(docs: DataFrame, textCol: String, idCol: String,
      sourceCol: String,
      numHashes: Int = 8, rowsPerBand: Int = 2, thresholdTenths: Int = 1,
      maxIter: Int = 20): DataFrame = {
    val w = softDedupWeights(docs, textCol, idCol, numHashes,
      rowsPerBand, thresholdTenths, maxIter)
      .select(col("doc_id").as(idCol), col("weight_m"))
    docs.select(col(idCol), col(sourceCol),
        when(col(textCol).isNotNull,
          size(graft.operators.TextAnalysis.tokens(col(textCol)))
            .cast("long")).otherwise(0L).as("__nt"))
      .join(w, Seq(idCol))
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__nt")).as("n_tokens"),
        sum(col("__nt") * col("weight_m")).as("eff_tokens_micro"))
      .withColumn("unique_ratio_ppm", when(col("n_tokens") > 0,
        expr("CAST((2 * CAST(eff_tokens_micro AS DECIMAL(38,0)) + n_tokens) " +
          "div (2 * n_tokens) AS BIGINT)")))
  }

  /** Quality-aware canonical selection — dedup that keeps the BEST
    * copy, not the first: the min-id representative every CC pass
    * defaults to is arbitrary, but real curation (LAION keeps the
    * highest-resolution image, C4-style pipelines the longest page,
    * alignment-gated pairs the best-aligned caption) wants the
    * cluster's argmax by a QUALITY score. `clusters` is a
    * [[verifiedClusters]]-shaped `(node, component)` relation; `scores`
    * maps ids to integer-micro quality (the engine's score contract).
    * Canonical = max score, ties to the LOWER id (deterministic);
    * unscored docs rank behind every scored one (a missing score never
    * wins a contested cluster) but still canonicalize their own
    * singleton — carried as an explicit is-unscored struct field, not
    * a sentinel floor, so a legitimately tiny score still outranks a
    * missing one. The argmax is ONE struct-min hash aggregation (the
    * selfConsistency mode shape — no window, no per-cluster sort); the
    * ordering negates the score, so the one negation-unsafe long
    * (Long.MinValue) trips an in-plan raise rather than overflowing.
    * Every input doc gets exactly one row. Returns `(doc_id, cluster,
    * cluster_size, score_micros, canonical_id, keep)`. */
  def canonicalByScore(docs: DataFrame, idCol: String,
      clusters: DataFrame, scores: DataFrame,
      scoreMicrosCol: String): DataFrame = {
    val member = docs.select(col(idCol).as("doc_id"))
      .join(clusters.select(col("node").as("doc_id"), col("component")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster"))
    val guarded = when(col("score_micros") === lit(Long.MinValue),
      raise_error(lit("canonicalByScore: score_micros is " +
        "Long.MinValue — its negation overflows the struct-min " +
        "ordering; clamp the score upstream")).cast("long"))
      .otherwise(col("score_micros"))
    val scored = Iterate.checkpoint(member.join(
        scores.select(col(idCol).as("doc_id"),
          col(scoreMicrosCol).cast("long").as("score_micros")),
        Seq("doc_id"), "left")
      .withColumn("__u",
        when(col("score_micros").isNull, 1).otherwise(0))
      .withColumn("__rsc", coalesce(-guarded, lit(0L))))
    val best = scored.groupBy(col("cluster"))
      .agg(count(lit(1)).as("cluster_size"),
        min(struct(col("__u"), col("__rsc").as("__n"),
          col("doc_id").as("__id"))).as("__b"))
      .select(col("cluster"), col("cluster_size"),
        col("__b.__id").as("canonical_id"))
    scored.join(best, Seq("cluster"))
      .select(col("doc_id"), col("cluster"), col("cluster_size"),
        col("score_micros"), col("canonical_id"),
        (col("doc_id") === col("canonical_id")).as("keep"))
  }

  /** Split-leakage AUDIT — the measurement dual of [[leakageSafeSplit]]
    * (which prevents): given an EXISTING split assignment (inherited
    * from another pipeline, or a plain per-doc hash split), how many
    * near-dup clusters straddle a split boundary? Every straddling
    * cluster is an eval leak — the model "generalizes" to a test doc it
    * effectively trained on. Cluster membership is [[verifiedClusters]]
    * (LSH candidates → exact-Jaccard rescore → CC); singletons are
    * their own cluster and can never leak. `splitAssign` is one row
    * per assigned doc; docs WITHOUT an assignment row still count in
    * their cluster (LEFT join) and surface per cluster as
    * `n_unassigned` — an audit must never silently shrink its
    * universe, and a partially-covered inherited split map would
    * otherwise understate (or entirely hide) a straddling cluster.
    * Returns one row per cluster: `(cluster, n_docs, n_splits,
    * splits, n_unassigned, leaked)` — `splits` the sorted distinct
    * ASSIGNED split labels joined with '|' (the driver-compare string
    * convention for list payloads; '' when no member is assigned).
    * Scale: the verified-cluster chain + one id-keyed LEFT join of
    * the split labels + one cluster-keyed aggregation. */
  def splitLeakageAudit(docs: DataFrame, splitAssign: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      splitCol: String = "split",
      numHashes: Int = 8, rowsPerBand: Int = 2, thresholdTenths: Int = 1,
      maxIter: Int = 20): DataFrame = {
    val comp = verifiedClusters(docs, textCol, idCol, numHashes,
      rowsPerBand, thresholdTenths, maxIter)
    docs.select(col(idCol))
      .join(comp.select(col("node").as(idCol), col("component")),
        Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("cluster"))
      .join(splitAssign.select(col(idCol), col(splitCol).as("__s")),
        Seq(idCol), "left")
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("__s")).as("n_splits"),
        array_join(array_sort(collect_set(col("__s"))), "|").as("splits"),
        sum(when(col("__s").isNull, 1L).otherwise(0L)).as("n_unassigned"))
      .withColumn("leaked", col("n_splits") > 1)
  }

  /** Cross-source duplication matrix — the overlap report a mixture
    * owner publishes before weighting sources (the Dolma/RedPajama
    * overlap-analysis shape): for every source pair, how many
    * verified near-dup clusters contain documents from BOTH sources
    * (off-diagonal — source B re-crawls/mirrors source A), and for
    * each source alone, how many clusters hold ≥ 2 of ITS documents
    * (diagonal — within-source duplication). Double-counted mass
    * across sources inflates a source's apparent contribution and
    * double-weights duplicated content in the mixture; this matrix is
    * the evidence a reweighting ([[graft.operators.Sampling
    * .mixtureByWeights]]) or a cross-source dedup pass acts on.
    *
    * Cluster membership is [[verifiedClusters]] (LSH candidates →
    * exact-Jaccard rescore → CC); singletons can never overlap.
    * Returns one row per source pair with `src_a <= src_b`:
    * `(src_a, src_b, n_clusters, n_docs_a, n_docs_b)` — n_docs_x =
    * that source's documents inside the qualifying shared clusters
    * (for the diagonal, n_docs_a = n_docs_b = the source's docs in
    * its own multi-doc clusters). Pairs with no shared cluster emit
    * no row — absence IS the clean verdict at the pair grain.
    *
    * Scale shape: the verified-cluster chain + ONE (cluster, source)
    * hash aggregation + a cluster-keyed self-join at that reduced
    * grain (rows per cluster = its distinct sources, a handful) + one
    * pair-keyed roll-up. Null sources form their own '<null>' label —
    * an unattributed doc is still a doc. */
  def crossSourceOverlap(docs: DataFrame, textCol: String,
      idCol: String, sourceCol: String,
      numHashes: Int = 8, rowsPerBand: Int = 2, thresholdTenths: Int = 1,
      maxIter: Int = 20): DataFrame = {
    val comp = verifiedClusters(docs, textCol, idCol, numHashes,
      rowsPerBand, thresholdTenths, maxIter)
    val mem = Iterate.checkpoint(docs.select(col(idCol),
        coalesce(col(sourceCol).cast("string"), lit("<null>")).as("__src"))
      .join(comp.select(col("node").as(idCol), col("component")),
        Seq(idCol), "left")
      .select(coalesce(col("component"), col(idCol)).as("__cl"),
        col("__src"))
      .groupBy(col("__cl"), col("__src"))
      .agg(count(lit(1)).as("__nd")))
    mem.select(col("__cl"), col("__src").as("src_a"), col("__nd").as("__na"))
      .join(mem.select(col("__cl"), col("__src").as("src_b"),
        col("__nd").as("__nb")), Seq("__cl"))
      .filter(col("src_a") < col("src_b") ||
        (col("src_a") === col("src_b") && col("__na") >= 2))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("__na")).as("n_docs_a"),
        sum(col("__nb")).as("n_docs_b"))
  }

  /** Leakage-safe train/val/test split: the assignment hashes the
    * near-dup CLUSTER representative, not the document — so a page and
    * its crawled-again near-duplicate can never land in different
    * splits (the classic eval leak a per-doc hash split silently
    * commits: the model "generalizes" to a test doc it effectively
    * trained on). Cluster membership is [[verifiedClusters]] (LSH
    * candidates → exact-Jaccard rescore → CC — chance band collisions
    * never glue unrelated docs); unclustered docs are their own
    * singleton representative, making the split identical to the plain
    * [[Sampling.splitLabel]] wherever no near-dup exists. Same salt
    * semantics as every sampler (new salt = new experiment; the
    * assignment depends only on the cluster id). Returns
    * `(<idCol>, cluster, split)` — one row per input doc. */
  def leakageSafeSplit(docs: DataFrame, textCol: String, idCol: String,
      salt: String, trainPct: Int, valPct: Int,
      numHashes: Int = 8, rowsPerBand: Int = 2, thresholdTenths: Int = 1,
      maxIter: Int = 20): DataFrame = {
    val comp = verifiedClusters(docs, textCol, idCol, numHashes,
      rowsPerBand, thresholdTenths, maxIter)
    docs.select(col(idCol))
      .join(comp.select(col("node").as(idCol), col("component")),
        Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("cluster"))
      .withColumn("split",
        Sampling.splitLabel(col("cluster"), salt, trainPct, valPct))
  }

  /** Per-document memorization-risk score — the duplication-exposure
    * signal behind dedup-then-train (Lee et al. 2022) and memorization
    * scaling (Carlini et al. 2022): the share of a doc's DISTINCT
    * k-gram shingles that occur in ≥ 2 corpus documents. High dup_ppm
    * docs are the ones a model can regurgitate because their content
    * is drilled from several places; DISTINCT from within-doc
    * repetition (q_x10's axis) and cross-corpus contamination (q_d10's)
    * — this is corpus-level duplication pressure per document.
    *
    * Scale shape: shingles ride as md5 keys (32-hex on the wire, never
    * shingle text — the paragraphDedup discipline); one keyed count
    * over the distinct (doc, gram) relation, one keyed join back, one
    * doc-keyed fold. Docs with < k tokens have no shingles and drop out
    * (the spanDedup convention). Returns `(<idCol>, n_shingles, n_dup,
    * dup_ppm)` with dup_ppm the house half-up integer division. */
  def memorizationRisk(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 3): DataFrame = {
    val shing = docShingles(docs, textCol, idCol, k)
      .select(col("sid"), md5(col("sh")).as("h"))
    val counts = shing.groupBy(col("h")).agg(count(lit(1)).as("ndocs"))
    shing.join(counts, Seq("h"))
      .groupBy(col("sid"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .select(col("sid").as(idCol), col("n_shingles"), col("n_dup"),
        expr("(2 * n_dup * 1000000 + n_shingles) div (2 * n_shingles)")
          .as("dup_ppm"))
  }

  /** MinHash-LSH parameter planner: the S-curve P(candidate | Jaccard s)
    * = 1 − (1 − s^r)^b for every (bands b, rows-per-band r) factoring of
    * `numHashes`, evaluated on the grid s = k/sSteps — the relation an
    * LSH deployment reads to pick (b, r) for its target threshold (the
    * curve's waterline sits near (1/b)^(1/r); steeper r = fewer false
    * positives below it, more false negatives above). EXACT rational
    * arithmetic: with D = sSteps^r, the probability is
    * (D^b − (D − k^r)^b) / D^b — all BigInt, emitted as floor ppm, so
    * both engines replay every cell with zero float pow (b·r =
    * numHashes keeps D^b = sSteps^numHashes bounded). A constants
    * relation (≤ divisors × sSteps rows), computed driver-side like
    * every dimension table. Returns
    * `(bands, rows_per_band, s_num, capture_ppm)` with s = s_num/sSteps. */
  def lshCurve(spark: org.apache.spark.sql.SparkSession, numHashes: Int,
      sSteps: Int = 20): DataFrame = {
    require(numHashes >= 1 && numHashes <= 16,
      s"numHashes in [1,16], got $numHashes")
    require(sSteps >= 2 && sSteps <= 100, s"sSteps in [2,100], got $sSteps")
    import spark.implicits._
    val rows = for {
      r <- (1 to numHashes).filter(numHashes % _ == 0)
      b = numHashes / r
      k <- 1 until sSteps
    } yield {
      val d = BigInt(sSteps).pow(r)
      val ppm = (d.pow(b) - (d - BigInt(k).pow(r)).pow(b)) * 1000000 / d.pow(b)
      (b, r, k, ppm.toLong)
    }
    rows.toDF("bands", "rows_per_band", "s_num", "capture_ppm")
  }

  /** Benchmark decontamination: for every training document, count the
    * n-gram shingles it shares with an evaluation/benchmark corpus — the
    * standard test-set-contamination gate run before pretraining (public
    * practice since GPT-2/GPT-3 appendix decontamination; n=13-grams at
    * word level in those writeups, k here is the caller's choice).
    *
    * Scale shape: the benchmark side aggregates to its DISTINCT shingle
    * set (small — eval sets are thousands of docs, not billions) and the
    * check is one equi-join of the training shingle relation against it,
    * keyed by shingle — broadcast while the benchmark fits, keyed shuffle
    * beyond; never quadratic. Output: (sid, n_shared, n_shingles,
    * contamination = shared/total rounded 6dp) for every training doc
    * with ≥1 shingle; docs sharing nothing report 0. */
  def contaminationReport(trainShing: DataFrame, benchShing: DataFrame): DataFrame =
    contaminationTail(trainShing, trainShing,
      benchShing.select(col("sh")).distinct())

  /** The contamination report's shared tail — totals over the FULL
    * training shingle relation, exact semi-join of the (possibly
    * bloom-prefiltered) candidate relation against the benchmark set,
    * the coalesce/round final projection. One body behind
    * [[contaminationReport]] / [[contaminationReportBloom]] /
    * [[contaminationAgainstStore]], so the three-way output-identity
    * contract (they share q_d10's oracle verbatim) is structural, not
    * copy-discipline. */
  private def contaminationTail(trainShing: DataFrame, candidates: DataFrame,
      benchSet: DataFrame): DataFrame = {
    val totals = trainShing.groupBy(col("sid")).agg(count(lit(1)).as("n_shingles"))
    val shared = candidates.join(benchSet, Seq("sh"), "left_semi")
      .groupBy(col("sid")).agg(count(lit(1)).as("n_shared"))
    totals.join(shared, Seq("sid"), "left")
      .select(col("sid"), coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        col("n_shingles"),
        round(coalesce(col("n_shared"), lit(0L)).cast("double") / col("n_shingles"), 6)
          .as("contamination"))
  }

  /** Map-side `might_contain` prefilter of the training shingles
    * against an inlined bloom blob — shared by the inline and
    * store-backed report variants. A null blob (empty benchmark /
    * empty store) keeps nothing: might_contain(null, …) is null. */
  private def bloomPrefilter(trainShing: DataFrame,
      blob: Array[Byte]): DataFrame = {
    import org.apache.spark.sql.graftbridge.GraftSqlBridge.{column => ccol, expression => cexpr}
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    trainShing
      .filter(ccol(new BloomFilterMightContain(
        Literal.create(blob, org.apache.spark.sql.types.BinaryType),
        new XxHash64(Seq(cexpr(col("sh")))))))
      .select(col("sid"), col("sh"))
  }

  /** [[contaminationReport]] with a BLOOM-FILTER pre-pass: the benchmark
    * shingle set aggregates into one bloom filter (a single broadcast
    * blob), `might_contain` rejects the overwhelming majority of clean
    * training shingles MAP-SIDE, and only the tiny might-match remainder
    * reaches the exact semi-join. Bloom false positives are then removed
    * by that exact join, so the output is IDENTICAL to the plain report —
    * this query shares q_d10's oracle verbatim. At 100 TB this is the
    * difference between shuffling the full training shingle relation and
    * shuffling ~the contaminated sliver: the same runtime-filter idea
    * Spark's InjectRuntimeFilter applies to joins, made explicit. */
  def contaminationReportBloom(trainShing: DataFrame, benchShing: DataFrame,
      expectedItems: Long = 100000L, numBits: Long = 1000000L): DataFrame = {
    // BloomFilterAggregate/BloomFilterMightContain are the expressions
    // behind Spark's own InjectRuntimeFilter; they have no public DSL
    // wrapper, so the columns are built through the sql-package bridge
    import org.apache.spark.sql.graftbridge.GraftSqlBridge.{column => ccol, expression => cexpr}
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val benchSet = benchShing.select(col("sh")).distinct()
    val bloom = benchSet.agg(
      ccol(new BloomFilterAggregate(new XxHash64(Seq(cexpr(col("sh")))),
        Literal(expectedItems), Literal(numBits)).toAggregateExpression()).as("bf"))
    // might_contain demands a CONSTANT bloom (or a scalar subquery) — the
    // same contract Spark's InjectRuntimeFilter satisfies by executing the
    // build side first and inlining the blob. Mirror that: materialize the
    // ONE-row aggregate (a bounded driver action, numBits/8 bytes — the
    // same blob a broadcast would ship) and embed it as a binary literal.
    // An EMPTY benchmark yields a null blob; might_contain(null,…) is
    // null, the filter keeps nothing, and the tail's left join reports
    // all-zero contamination — same as the plain report, no guard needed.
    val blob = bloom.head().getAs[Array[Byte]]("bf")
    contaminationTail(trainShing, bloomPrefilter(trainShing, blob), benchSet)
  }

  /** Contamination SPAN evidence — the audit relation behind
    * [[contaminationReport]]'s doc-level verdict: WHICH benchmark item
    * matched and WHERE in the document, the relation a reviewer needs
    * to appeal or confirm a contamination flag (GPT-3 appendix C's
    * per-overlap review; doc-level fractions alone can't distinguish a
    * quoted benchmark question from scattered stopword shingles).
    * Matched k-shingle positions merge into MAXIMAL token spans per
    * (train doc, benchmark doc): a shingle at token `p` covers
    * `[p, p+k)`, and runs whose starts are ≤ k apart fuse (overlap or
    * touch) — the gaps-and-islands rendering. Spans are half-open
    * token offsets (the [[graft.operators.Packing]] convention).
    *
    * Scale shape: the same shingle equi-join as the report (benchmark
    * side aggregated to its distinct per-item shingle set — broadcast
    * while it fits), then one window pass partitioned by (train doc,
    * benchmark item) — partition size ≤ the doc's shingle count, never
    * corpus-wide. Join fan-out is |matched shingles| × |benchmark items
    * sharing them| — the contaminated sliver, tiny by construction on
    * real corpora (decontamination EXPECTS near-zero overlap; a corpus
    * where this explodes has a worse problem than the join). Only
    * matching (doc, item) pairs emit rows — clean docs are absent here,
    * the report is the total accounting. Returns `(<idCol>,
    * benchmark_id, span_start, span_end, n_shingles)`. */
  def contaminationSpans(train: DataFrame, bench: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      k: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val trainPos = Par.spread(train.select(col(idCol).as("sid"),
        TextAnalysis.tokens(col(textCol)).as("toks")))
      .select(col("sid"),
        posexplode(TextAnalysis.shingles(col("toks"), k))
          .as(Seq("pos", "sh")))
    val benchSet = docShingles(bench, textCol, idCol, k)
      .select(col("sid").as("__bid"), col("sh"))
    val hits = trainPos.join(benchSet, Seq("sh"))
    val wOrd = Window.partitionBy(col("sid"), col("__bid"))
      .orderBy(col("pos"))
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    hits
      .withColumn("__new",
        when(col("pos") - lag(col("pos"), 1).over(wOrd) > k, 1)
          .otherwise(0))
      .withColumn("__isl", sum(col("__new")).over(wRun))
      .groupBy(col("sid"), col("__bid"), col("__isl"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + k).cast("long").as("span_end"),
        count(lit(1)).as("n_shingles"))
      .select(col("sid").as(idCol), col("__bid").as("benchmark_id"),
        col("span_start"), col("span_end"), col("n_shingles"))
  }

  /** Span-level decontamination SCRUB — the surgical alternative to
    * doc-level dropping (Lee et al. 2022's exact-substring removal
    * stance): remove exactly the token positions covered by a shared
    * benchmark k-shingle and keep the rest of the document, so a long
    * page quoting one benchmark question loses the quote, not the
    * page. Coverage is the union of `[pos, pos+k)` over every matched
    * shingle position against ANY benchmark item (the
    * [[contaminationSpans]] evidence, collapsed to the doc grain);
    * kept tokens reassemble in order, single-space joined (the
    * [[TextAnalysis.tokens]] whitespace convention — scrubbing
    * normalizes whitespace, documented). Every train doc gets exactly
    * one row — clean docs pass through with their reassembled text,
    * fully-covered docs surface with an empty string and the removed
    * count saying why.
    *
    * Scale shape: the same shingle equi-join as the report feeds the
    * matched-position relation (the contaminated sliver); coverage
    * explodes k rows per matched position (k is small — 3-13) and
    * distincts on (doc, token idx); the scrub is one doc-keyed
    * anti-join of the token relation + one per-doc reassembly
    * aggregation. Returns `(<idCol>, scrubbed_text, n_tokens_kept,
    * n_tokens_removed)`. */
  def scrubContaminatedSpans(train: DataFrame, bench: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      k: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val toksed = Par.spread(train.select(col(idCol).as("sid"),
      TextAnalysis.tokens(col(textCol)).as("toks")))
    val tokPos = toksed
      .select(col("sid"), posexplode(col("toks")).as(Seq("tpos", "tok")))
    val trainPos = toksed
      .select(col("sid"),
        posexplode(TextAnalysis.shingles(col("toks"), k))
          .as(Seq("pos", "sh")))
    val benchSet = docShingles(bench, textCol, idCol, k)
      .select(col("sh")).distinct()
    val covered = trainPos.join(benchSet, Seq("sh"), "left_semi")
      .select(col("sid"),
        explode(sequence(col("pos"), col("pos") + k - 1)).as("tpos"))
      .distinct()
    val kept = tokPos.join(covered, Seq("sid", "tpos"), "left_anti")
      .groupBy(col("sid"))
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("tpos"), col("tok")))),
          x => x.getField("tok")), " ").as("scrubbed_text"),
        count(lit(1)).as("n_tokens_kept"))
    val removed = covered.groupBy(col("sid"))
      .agg(count(lit(1)).as("n_tokens_removed"))
    train.select(col(idCol).as("sid"))
      .join(kept, Seq("sid"), "left")
      .join(removed, Seq("sid"), "left")
      .select(col("sid").as(idCol),
        coalesce(col("scrubbed_text"), lit("")).as("scrubbed_text"),
        coalesce(col("n_tokens_kept"), lit(0L)).as("n_tokens_kept"),
        coalesce(col("n_tokens_removed"), lit(0L)).as("n_tokens_removed"))
  }

  /** Benchmark-side contamination report — the REVERSE direction of
    * [[contaminationReport]], for the EVAL owner: per benchmark item,
    * how many training documents share its shingles and how much of
    * the item is covered at worst (`max_item_coverage`, half-up ppm of
    * the item's own shingle set matched by its worst-case training
    * doc). An item with high coverage is BURNED — its score measures
    * memorization, not ability — and the eval-integrity list is this
    * relation sorted by coverage. Every benchmark item with ≥1 shingle
    * gets a row; unmatched items report zeros (the verdict "still
    * clean" is as important as "burned").
    *
    * Scale shape: the same shingle equi-join, aggregated at the
    * (train doc, benchmark item) grain first (the contaminated
    * sliver), then one item-keyed roll-up; the benchmark side is
    * eval-set-sized throughout. Returns `(benchmark_id,
    * n_item_shingles, n_train_docs, worst_doc_id,
    * max_item_coverage_ppm)` — worst doc ties to the LOWER id. */
  def burnedBenchmarkItems(train: DataFrame, bench: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      k: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val benchShing = Iterate.checkpoint(docShingles(bench, textCol, idCol, k)
      .select(col("sid").as("__bid"), col("sh")))
    val itemTotals = benchShing.groupBy(col("__bid"))
      .agg(count(lit(1)).as("n_item_shingles"))
    val trainShing = docShingles(train, textCol, idCol, k)
    val perPair = trainShing.join(benchShing, Seq("sh"))
      .groupBy(col("__bid"), col("sid"))
      .agg(count(lit(1)).as("__m"))
    // worst doc via ONE struct-min (the canonicalByScore argmax shape):
    // max matched shingles, ties to the lower train doc id
    val rolled = perPair.groupBy(col("__bid"))
      .agg(count(lit(1)).as("n_train_docs"),
        min(struct((-col("__m")).as("__nm"), col("sid").as("__id")))
          .as("__w"))
      .select(col("__bid"), col("n_train_docs"),
        col("__w.__id").as("worst_doc_id"), (-col("__w.__nm")).as("__wm"))
    itemTotals.join(rolled, Seq("__bid"), "left")
      .select(col("__bid").as("benchmark_id"), col("n_item_shingles"),
        coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"),
        col("worst_doc_id"),
        coalesce(expr(
          "(2 * __wm * 1000000 + n_item_shingles) div " +
            "(2 * n_item_shingles)"), lit(0L))
          .as("max_item_coverage_ppm"))
  }

  /** Persist the decontamination artifacts ONCE — the train-once half of
    * the nightly store triad, applied to benchmark screening: the
    * benchmark's distinct shingle set plus a MERGEABLE bloom-filter
    * store. The shingles hash-slice into `slices` independent bloom
    * blobs of IDENTICAL geometry (same expectedItems/numBits literals),
    * one row each, so a new benchmark slice tomorrow appends one more
    * row instead of rebuilding the filter — bloom union over equal
    * geometry is bitwise OR, and [[contaminationAgainstStore]] merges
    * the rows at read time through the public sketch API. The bloom
    * build reads the just-written shingle parquet, so the benchmark
    * text is scanned exactly once. Layout: `dir/shingles` (sh STRING,
    * slice-PARTITIONED — so a purge's slice-scoped bloom rebuild prunes
    * to the affected partitions instead of rescanning the store),
    * `dir/blooms` (slice INT, bf BINARY), `dir/docs` (sid, sh — the
    * id→shingle bookkeeping [[purgeContaminationStore]] needs to know
    * which shingles are still referenced by the docs that stay). */
  def writeContaminationStore(bench: DataFrame, textCol: String, idCol: String,
      dir: String, slices: Int = 4, shingleK: Int = 3,
      expectedItems: Long = 100000L, numBits: Long = 1000000L): Unit = {
    require(slices >= 1, s"slices must be >= 1, got $slices")
    docShingles(bench, textCol, idCol, shingleK)
      .write.mode("overwrite").parquet(s"$dir/docs")
    val sh = bench.sparkSession.read.parquet(s"$dir/docs")
      .select(col("sh")).distinct()
      .withColumn("slice",
        pmod(xxhash64(col("sh")), lit(slices.toLong)).cast("int"))
    // partitionBy on an EMPTY relation writes no schema-bearing files
    // and the read-back below would fail inference — an empty benchmark
    // stores a plain empty parquet with the same (sh, slice) schema
    if (sh.isEmpty) sh.write.mode("overwrite").parquet(s"$dir/shingles")
    else sh.write.mode("overwrite").partitionBy("slice")
      .parquet(s"$dir/shingles")
    bloomRowsFor(bench.sparkSession.read.parquet(s"$dir/shingles"),
      expectedItems, numBits)
      .write.mode("overwrite").parquet(s"$dir/blooms")
  }

  /** Bloom rows `(slice, bf)` from a slice-tagged shingle relation —
    * shared by the initial store build and the purge's slice-scoped
    * rebuild (IDENTICAL geometry literals, so rebuilt and original
    * slices stay mergeable). */
  private def bloomRowsFor(shingles: DataFrame, expectedItems: Long,
      numBits: Long): DataFrame = {
    import org.apache.spark.sql.graftbridge.GraftSqlBridge.{column => ccol, expression => cexpr}
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    shingles.groupBy(col("slice"))
      .agg(ccol(new BloomFilterAggregate(new XxHash64(Seq(cexpr(col("sh")))),
        Literal(expectedItems), Literal(numBits)).toAggregateExpression()).as("bf"))
  }

  /** Opt-out purge of a persisted decontamination store — the bloom
    * half of the right-to-be-forgotten contract. Bloom filters cannot
    * delete, so the purge REBUILDS — but only the slices the purged
    * shingles actually hash into, which is the point of the sliced
    * layout: the rebuild scan carries a partition filter on `slice`
    * (spec-pinned `PartitionFilters`), unaffected slice partitions are
    * never read, and their bloom rows carry over BYTE-IDENTICAL.
    * Shingle-sharing is respected: a shingle that also appears in a
    * benchmark doc that STAYS is still protected and is not removed
    * (the `dir/docs` bookkeeping settles referencing exactly). Steps,
    * crash-ordered: tombstones append first; `docs` and `shingles`
    * drop their rows via the recoverable staged swap; the affected
    * slices' blooms rebuild from the POST-purge shingles and swap in
    * alongside the untouched rows. A purge hitting nothing (unknown
    * ids) is a no-op that still tombstones. Entry first sweeps crash
    * recovery over every `slice=*` leaf of the partitioned shingle
    * store (staged/retired dirs are dot-prefixed so Spark listing
    * ignores them, but a leaf crashed between the two swap renames is
    * invisible until restored — the sweep restores it BEFORE any
    * parent-level read here). Requires the `dir/docs` bookkeeping the
    * current [[writeContaminationStore]] layout writes; a store
    * predating it fails fast with a rebuild instruction rather than a
    * raw missing-path error. */
  def purgeContaminationStore(spark: SparkSession, dir: String,
      purgedIds: DataFrame, idCol: String,
      expectedItems: Long = 100000L, numBits: Long = 1000000L): Unit = {
    graft.sources.Sinks.recoverPartitionedStore(spark, s"$dir/shingles")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/docs")),
      s"purgeContaminationStore: $dir has no docs bookkeeping — the " +
        "store predates the slice-partitioned layout; rebuild it with " +
        "writeContaminationStore before purging")
    val ids = purgedIds.select(col(idCol).as("sid")).distinct()
    ids.write.mode("append").parquet(s"$dir/tombstones")
    val docs = spark.read.parquet(s"$dir/docs")
    // shingles to remove = referenced by purged docs AND by no survivor
    // settled BEFORE the docs rewrite below
    val removed = Iterate.checkpoint(
      docs.join(broadcast(ids), Seq("sid"), "left_semi")
      .select(col("sh")).distinct()
      .join(docs.join(broadcast(ids), Seq("sid"), "left_anti")
        .select(col("sh")).distinct(), Seq("sh"), "left_anti"))
    // bounded collect: at most `slices` distinct values
    val affected = spark.read.parquet(s"$dir/shingles")
      .join(broadcast(removed), Seq("sh"), "left_semi")
      .select(col("slice")).distinct()
      .collect().map(_.getInt(0)).sorted
    graft.sources.Sinks.rewriteParquet(spark, s"$dir/docs",
      _.join(broadcast(ids), Seq("sid"), "left_anti"))
    affected.foreach { s =>
      // partition-scoped rewrite: only the affected slice's leaf dir
      graft.sources.Sinks.rewriteParquet(spark, s"$dir/shingles/slice=$s",
        _.join(broadcast(removed), Seq("sh"), "left_anti"))
    }
    if (affected.nonEmpty) {
      val rebuiltSrc = spark.read.parquet(s"$dir/shingles")
        .filter(col("slice").isin(affected.map(Integer.valueOf): _*))
      // read the OLD rows before the swap
      val keptRows = Iterate.checkpoint(spark.read.parquet(s"$dir/blooms")
        .filter(!col("slice").isin(affected.map(Integer.valueOf): _*)))
      val rebuilt = bloomRowsFor(rebuiltSrc, expectedItems, numBits)
      graft.sources.Sinks.rewriteParquet(spark, s"$dir/blooms",
        _ => keptRows.unionByName(rebuilt))
    }
  }

  /** [[contaminationReport]] scored AGAINST THE STORE — the
    * score-nightly half: the benchmark text is never re-scanned. The
    * bloom rows (slices × numBits/8 bytes, a bounded driver read) merge
    * into one filter via the public sketch API and prefilter the
    * training shingles MAP-SIDE exactly like
    * [[contaminationReportBloom]]'s inline blob; the stored shingle
    * relation then settles the exact semi-join, so bloom false
    * positives vanish and the output is IDENTICAL to
    * [[contaminationReport]] (q_d16 shares q_d10's oracle verbatim).
    * An empty store (zero bloom rows — empty benchmark) degenerates to
    * the all-zero report through the same null-blob contract the
    * inline variant documents. */
  def contaminationAgainstStore(trainShing: DataFrame, dir: String): DataFrame = {
    val spark = trainShing.sparkSession
    // bounded driver read: one row per slice, numBits/8 bytes each —
    // the same blob size a broadcast would ship
    val blobs = spark.read.parquet(s"$dir/blooms").select(col("bf"))
      .collect().map(_.getAs[Array[Byte]]("bf"))
    val blob: Array[Byte] =
      if (blobs.isEmpty) null
      else {
        val merged = blobs.map(b => org.apache.spark.util.sketch.BloomFilter
          .readFrom(new java.io.ByteArrayInputStream(b)))
          .reduce((a, b) => a.mergeInPlace(b))
        val out = new java.io.ByteArrayOutputStream()
        merged.writeTo(out)
        out.toByteArray
      }
    contaminationTail(trainShing, bloomPrefilter(trainShing, blob),
      spark.read.parquet(s"$dir/shingles"))
  }

  /** Connected components over an undirected candidate-pair graph — the
    * step that turns near-dup PAIRS into dedup CLUSTERS (keep the
    * min-id doc per component, drop the rest). Iterative min-label
    * propagation: every node starts labeled with itself; each round a
    * node takes the min of its own and its neighbors' labels; fixpoint
    * after diameter rounds (near-dup clusters are shallow — a handful).
    *
    * Scale shape: each round is one keyed shuffle join (edges × labels) +
    * one aggregation — the standard Spark formulation;
    * [[Iterate.checkpoint]] truncates lineage so plan size stays O(1)
    * across rounds instead of O(rounds) (reliable checkpoint files when
    * the deployment sets a checkpoint dir, executor-local blocks
    * otherwise). Deterministic: labels are min() folds of ids.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val fwd = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
    val edges = Iterate.checkpoint(fwd.unionByName(
      fwd.select(col("dst").as("src"), col("src").as("dst"))).distinct())
    // round 0 fused into initialization: every node starts at
    // min(self, neighbors) — one aggregation instead of the first
    // join+aggregate propagation round
    val init = Iterate.checkpoint(edges.groupBy(col("src").as("node"))
      .agg(least(col("src"), min(col("dst"))).as("label")))
    // one propagation round: min of (own label, neighbors' labels, the
    // own label's CURRENT label). The third term is pointer
    // shortcutting — label values are node ids, so L(L(v)) is one
    // labels-keyed self-join — which turns the min-label walk into
    // doubling: rounds drop from the component diameter to O(log
    // diameter). Each round is a full join + checkpoint + probe cycle,
    // and the ROUND COUNT is what an iterative job's fixed cost scales
    // with (guide §1.2) — a diameter-17 hash chain paid ~100 stage
    // jobs here before. The fixpoint is unchanged: shortcut values are
    // labels already present in the component, updates only decrease,
    // and a state stable under this update is stable under plain
    // propagation too, whose unique fixpoint is the component min.
    // `improved` marks rows the round actually changed. Round 1 runs
    // PLAIN propagation (after the fused round 0, L(L(v)) only equals
    // what round 1's neighbor fold already sees on the shallow graphs
    // dedup clusters usually are — the extra self-join would be pure
    // tax there); the shortcut joins in from round 2, when a still-
    // unconverged graph has demonstrated depth.
    //
    // A graph that converges on exactly the maxIter-th round still
    // reports improved rows in that round even though the labels are
    // already final — one extra confirming round (a no-op when
    // converged) distinguishes that from a genuinely unconverged graph
    // before we fail, hence maxIter + 1 rounds.
    val cc = Iterate.fixpoint(init, maxIter + 1,
        Some(Iterate.noRow(col("improved")))) { (prev, round) =>
      val labels = prev.select(col("node"), col("label"))
      val viaNbr = edges
        .join(labels.select(col("node").as("src"), col("label")), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(min(col("label")).as("nbr_label"))
      if (round == 1 && maxIter > 0)
        labels.join(viaNbr, Seq("node"), "left")
          .select(col("node"),
            least(col("label"), coalesce(col("nbr_label"), col("label")))
              .as("label"),
            (col("nbr_label") < col("label")).as("improved"))
      else {
        // L(v) is always a node id of this graph (the init folds min
        // over self + neighbors; updates fold other nodes' labels), so
        // the self-join always matches — inner, every node keeps a row
        val viaPtr = labels.select(col("node"), col("label").as("__l"))
          .join(labels.select(col("node").as("__l"),
            col("label").as("ptr_label")), Seq("__l"))
          .select(col("node"), col("ptr_label"))
        labels.join(viaNbr, Seq("node"), "left")
          .join(viaPtr, Seq("node"))
          .select(col("node"),
            least(col("label"), coalesce(col("nbr_label"), col("label")),
              col("ptr_label")).as("label"),
            (least(coalesce(col("nbr_label"), col("label")),
              col("ptr_label")) < col("label")).as("improved"))
      }
    }
    // fail fast rather than return partially-propagated labels: a graph
    // whose diameter exceeds maxIter would otherwise silently yield wrong
    // components (near-dup clusters are shallow, so hitting this means the
    // input is not the expected cluster shape — raise maxIter explicitly)
    require(cc.converged,
      s"connectedComponents did not converge in $maxIter rounds " +
        "(labels still improving) — raise maxIter")
    cc.frame.select(col("node"), col("label").as("component"))
  }

  /** SimHash near-dup pairs at Hamming distance <= `maxDist`, found by
    * pigeonhole banding: the 64-bit signature splits into 4 bands of 16
    * bits, and any pair differing in at most 3 bits must agree EXACTLY on
    * at least one band — so candidates come from an equi-join on
    * (band, band_value), never a cross join, and the full 64-bit Hamming
    * distance is only computed for band-collision candidates. The
    * standard simhash index shape (Manku et al., WWW'07) at corpus scale.
    */
  def simhashNearDup(sig: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist <= 3, "4-band pigeonhole guarantees recall only for Hamming <= 3")
    val withBands = sig.select(col("sid"), col("simhash"),
      posexplode(array((0 until 4).map(b =>
        col("simhash").substr(lit(1 + 4 * b), lit(4))): _*)))
      .toDF("sid", "simhash", "band", "bv")
    val l = withBands.select(col("sid").as("a_id"), col("simhash").as("sh_a"),
      col("band"), col("bv"))
    val r = withBands.select(col("sid").as("b_id"), col("simhash").as("sh_b"),
      col("band"), col("bv"))
    // distinct: a pair agreeing on several bands collides once per band
    val cand = l.join(r, Seq("band", "bv")).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("sh_a"), col("sh_b")).distinct()
    // codegen'd single-pass kernel (graft.functions.HexHamming) — the
    // composed 4 × conv/substr/xor/bit_count form walks the strings 4×
    cand.select(col("a_id"), col("b_id"),
        column(HexHamming(expression(col("sh_a")), expression(col("sh_b")))).as("hamming"))
      .filter(col("hamming") <= maxDist)
  }

  /** SimHash signatures computed MAP-ONLY via the native
    * [[graft.functions.SimHash64]] kernel: token array → 16-hex signature
    * in one projection — no token explode, no 64-sum aggregation, zero
    * shuffles. Bit-identical to [[simhashSignature]] (the
    * oracle-documented relational reference); empty docs are filtered on
    * the cheap token count to match its doc set. */
  def simhashSignatureMapOnly(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    spread(df.select(col(idCol).as("sid"), TextAnalysis.tokens(col(textCol)).as("toks")))
      .filter(size(col("toks")) > 0)
      .select(col("sid"), column(SimHash64(expression(col("toks")))).as("simhash"))
  }

  /** SimHash signature (16 hex chars = 64 bits): per token, md5 → 16 hex
    * digits → 4 bits each; per bit position take the sign of Σ(±1) over
    * all tokens; reassemble the majority bits into a hex string.
    * One explode + two keyed aggregations — no pairwise work. */
  def simhashSignature(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val hexChars = lit("0123456789abcdef")
    val toks = spread(df.select(col(idCol).as("sid"),
      TextAnalysis.tokens(col(textCol)).as("toks")))
      .select(col("sid"), explode(col("toks")).as("t"))
    val hx = toks.select(col("sid"), md5(col("t")).as("hx"))
    // materialize the 16 hex digits ONCE per token row; the 64 conditional
    // sums then read cheap int attributes (shiftright+parity) instead of
    // re-running conv(substr(..)) per bit — 4× less parse work per row
    val digits = hx.select(col("sid") +: (0 until 16).map(p =>
      conv(col("hx").substr(lit(p + 1), lit(1)), 16, 10).cast("int").as(s"d$p")): _*)
    // one groupBy(sid) with 64 conditional sums — no (p,b) row explosion,
    // so the only shuffle carries one row per (doc × 64 ints)
    def bitSum(p: Int, b: Int): Column =
      sum(when(shiftright(col(s"d$p"), b) % 2 === 1, lit(1)).otherwise(lit(-1)))
        .as(s"s_${p}_$b")
    val aggs = for { p <- 0 until 16; b <- 0 until 4 } yield bitSum(p, b)
    val sums = digits.groupBy(col("sid")).agg(aggs.head, aggs.tail: _*)
    val chars = (0 until 16).map { p =>
      val digit = (0 until 4).map(b =>
        when(col(s"s_${p}_$b") > 0, lit(1 << b)).otherwise(lit(0)))
        .reduce(_ + _)
      hexChars.substr(digit + 1, lit(1))
    }
    sums.select(col("sid"), concat(chars: _*).as("simhash"))
  }
}
