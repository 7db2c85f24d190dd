package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftSqlBridge.{column, expression}

import graft.functions.DeflateLen

import graft.Q
import graft.operators.{Similarity, TextAnalysis}
import graft.sources.Tables

/** Text-analysis extension surface over the `documents` table: token
  * counting, quality scoring, language ID, document fingerprinting.
  * All pure column expressions over one scan — pruned to (doc_id, text).
  */
object TextQueries extends graft.QueryPack {

  private val duckToks =
    "list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')"

  /** One merge-application recursion: start every word of `src` as its
    * space-separated code-point symbols (state padded with sentinel
    * spaces), and at each step merge the LEFTMOST occurrence of the
    * LOWEST-ranked applicable pair from `merges` — exactly the
    * [[graft.functions.BpeEncode]] contract, one merge per step so
    * cascades re-select from rank 0. `out` ends as (w, final state). */
  private def duckBpeApply(name: String, src: String, merges: String): String =
    s"""$name AS (
       |  SELECT w, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS st, 0 AS step FROM $src
       |  UNION ALL
       |  SELECT w,
       |    substr(st, 1, strpos(st, pat) - 1) || ' ' || mm.a || mm.b || ' ' ||
       |      substr(st, strpos(st, pat) + len(pat)) AS st,
       |    step + 1
       |  FROM (SELECT w, st, step, mm, ' ' || mm.a || ' ' || mm.b || ' ' AS pat
       |        FROM (SELECT w, st, step,
       |                (SELECT {'a': m.a, 'b': m.b} FROM $merges m
       |                 WHERE strpos(st, ' ' || m.a || ' ' || m.b || ' ') > 0
       |                 ORDER BY m.rnk LIMIT 1) AS mm
       |              FROM $name))
       |  WHERE mm IS NOT NULL),
       |${name}_f AS (SELECT w, st FROM (
       |  SELECT w, st, row_number() OVER (PARTITION BY w ORDER BY step DESC) AS rn
       |  FROM $name) WHERE rn = 1)""".stripMargin

  /** The full table-driven-BPE replay, ending in
    * `bpe AS (doc_id, bpe, n_bpe)`: learn 24 char-pair merges over the
    * lowercase-alnum vocabulary (count desc, pair asc), apply them,
    * learn 24 compound symbol-pair merges at ranks 24..47, then apply
    * the full table to every distinct word and reassemble per document
    * in word order. Mirrors `TextAnalysis.learnBpeMerges` +
    * `bpeTokenize` stage for stage. */
  private lazy val duckBpe: String =
    s"""WITH RECURSIVE
       |dw AS (
       |  SELECT doc_id, i AS idx, w FROM (
       |    SELECT doc_id, unnest(ws) AS w, unnest(range(1, len(ws) + 1)) AS i
       |    FROM (SELECT doc_id, $duckToks AS ws FROM documents))),
       |lw AS (SELECT w, COUNT(*) AS wc FROM dw
       |       WHERE regexp_matches(w, '^[a-z0-9]+$$') GROUP BY 1),
       |p1 AS (
       |  SELECT substr(w, i, 1) AS a, substr(w, i + 1, 1) AS b, SUM(wc) AS cnt
       |  FROM (SELECT w, wc, unnest(range(1, len(w))) AS i FROM lw WHERE len(w) >= 2)
       |  GROUP BY 1, 2),
       |m1 AS (SELECT a, b, row_number() OVER (ORDER BY cnt DESC, a, b) - 1 AS rnk
       |       FROM p1 ORDER BY cnt DESC, a, b LIMIT 24),
       |${duckBpeApply("r1", "lw", "m1")},
       |p2 AS (
       |  SELECT ss[i] AS a, ss[i + 1] AS b, SUM(wc) AS cnt
       |  FROM (SELECT l.wc, s.ss, unnest(range(1, len(s.ss))) AS i
       |        FROM (SELECT w, string_split(trim(st), ' ') AS ss FROM r1_f) s
       |        JOIN lw l USING (w)
       |        WHERE len(s.ss) >= 2)
       |  GROUP BY 1, 2),
       |m2 AS (SELECT a, b, 24 + row_number() OVER (ORDER BY cnt DESC, a, b) - 1 AS rnk
       |       FROM p2 ORDER BY cnt DESC, a, b LIMIT 24),
       |mall AS (SELECT a, b, rnk FROM m1 UNION ALL SELECT a, b, rnk FROM m2),
       |aw AS (SELECT DISTINCT w FROM dw),
       |${duckBpeApply("r2", "aw", "mall")},
       |bagg AS (
       |  SELECT d.doc_id,
       |    string_agg(trim(t.st), ' ' ORDER BY d.idx) AS bpe,
       |    SUM(len(string_split(trim(t.st), ' '))) AS n_bpe
       |  FROM dw d JOIN r2_f t ON t.w = d.w
       |  GROUP BY 1),
       |bpe AS (
       |  -- anchor on documents so token-less docs survive: Spark's
       |  -- bpe_encode keeps (doc_id, '', 0) for empty/whitespace text
       |  -- and (doc_id, NULL, NULL) for NULL text (nullSafeEval +
       |  -- size(null)=null); dw has no rows for either, so joining
       |  -- from dw would silently drop them
       |  SELECT doc.doc_id,
       |    CASE WHEN doc.text IS NULL THEN NULL
       |         ELSE COALESCE(a.bpe, '') END AS bpe,
       |    CAST(CASE WHEN doc.text IS NULL THEN NULL
       |         ELSE COALESCE(a.n_bpe, 0) END AS BIGINT) AS n_bpe
       |  FROM documents doc LEFT JOIN bagg a USING (doc_id))""".stripMargin

  /** q_x27's oracle, shared verbatim by q_x41_ppl_store (the
    * store-scored variant must reproduce the in-job result exactly —
    * output equality is the equivalence proof). */
  private lazy val duckPpl: String =
    """WITH t AS (SELECT doc_id,
             |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
             |  FROM documents),
             |bi AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS gram, toks[i] AS w1
             |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
             |        FROM t WHERE len(toks) >= 2)),
             |bc AS (SELECT gram, COUNT(*) AS cb FROM bi GROUP BY 1),
             |un AS (SELECT unnest(toks) AS w FROM t),
             |uc AS (SELECT w, COUNT(*) AS cu FROM un GROUP BY 1),
             |v AS (SELECT COUNT(DISTINCT w) AS vsz FROM un),
             |sc AS (SELECT doc_id,
             |    CAST(ROUND(ln((cb + 1.0) / (cu + 1.0 * vsz)), 6) AS DECIMAL(18,6)) AS lp
             |  FROM bi JOIN bc USING (gram) JOIN uc ON uc.w = bi.w1, v),
             |pd AS (SELECT doc_id, COUNT(*) AS n_bigrams,
             |    CAST((2 * CAST(-SUM(lp) * 1000000 AS BIGINT) + COUNT(*))
             |         // (2 * COUNT(*)) AS DOUBLE) / 1000000.0 AS avg_nll
             |  FROM sc GROUP BY 1)
             |SELECT d.doc_id,
             |  CAST(COALESCE(pd.n_bigrams, 0) AS BIGINT) AS n_bigrams,
             |  pd.avg_nll,
             |  ROUND(exp(pd.avg_nll), 4) AS ppl,
             |  CASE WHEN pd.avg_nll IS NULL THEN 'empty'
             |       WHEN ROUND(exp(pd.avg_nll), 4) <= 29.7 THEN 'head'
             |       WHEN ROUND(exp(pd.avg_nll), 4) >= 30.45 THEN 'tail'
             |       ELSE 'middle' END AS bucket
             |FROM documents d LEFT JOIN pd USING (doc_id)""".stripMargin

  /** Shared by q_x57 (in-job hybrid chain) and q_x60 (the same chain
    * from persisted stores): replays BM25, the hashed-tf dense path,
    * and the RRF fusion end to end. */
  private val duckHybridCtes =
    s"""WITH t AS (SELECT doc_id,
             |    list_filter(regexp_split_to_array(lower(text), '\\s+'),
             |      x -> x <> '') AS toks
             |  FROM documents),
             |tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM (
             |    SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM t)
             |  GROUP BY 1, 2, 3),
             |dfr AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
             |st AS (SELECT COUNT(*) AS n_docs,
             |    CAST(SUM(len(toks)) AS DOUBLE) / COUNT(*) AS avgdl FROM t),
             |q AS (SELECT * FROM (VALUES
             |    (0, 'spark'), (0, 'join'), (0, 'fast'),
             |    (1, 'window'), (1, 'stream'),
             |    (2, 'customer'), (2, 'merge'), (2, 'table'))
             |    AS v(query_id, term)),
             |sc AS (SELECT query_id, doc_id,
             |    CAST(ROUND(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 6)
             |      AS DECIMAL(18,6)) *
             |    CAST(ROUND(tf * (1.2 + 1.0) /
             |      (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)), 6)
             |      AS DECIMAL(18,6)) AS c
             |  FROM q JOIN tf USING (term) JOIN dfr USING (term), st),
             |bagg AS (SELECT query_id, doc_id,
             |    ROUND(CAST(SUM(c) AS DOUBLE), 6) AS score
             |  FROM sc GROUP BY 1, 2),
             |bm25r AS (SELECT query_id, doc_id, rnk FROM (
             |  SELECT *, row_number() OVER (
             |      PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
             |  FROM bagg) WHERE rnk <= 10),
             |htf AS (SELECT doc_id,
             |    CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % 16 AS b,
             |    COUNT(*) AS tf
             |  FROM (SELECT doc_id, unnest(toks) AS tok FROM t
             |    WHERE len(toks) > 0) GROUP BY 1, 2),
             |dn AS (SELECT doc_id, sqrt(CAST(SUM(tf * tf) AS DOUBLE)) AS nrm
             |  FROM htf GROUP BY 1),
             |qd AS (SELECT * FROM (VALUES
             |    (0, 'spark join fast'), (1, 'window stream'),
             |    (2, 'customer merge table')) AS v(qid, qtext)),
             |qhtf AS (SELECT qid,
             |    CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % 16 AS b,
             |    COUNT(*) AS tf
             |  FROM (SELECT qid, unnest(list_filter(
             |      regexp_split_to_array(lower(qtext), '\\s+'), x -> x <> ''))
             |      AS tok FROM qd) GROUP BY 1, 2),
             |qn AS (SELECT qid, sqrt(CAST(SUM(tf * tf) AS DOUBLE)) AS nrm
             |  FROM qhtf GROUP BY 1),
             |dots AS (SELECT q.qid AS query_id, h.doc_id,
             |    SUM(q.tf * h.tf) AS dot
             |  FROM qhtf q JOIN htf h ON q.b = h.b GROUP BY 1, 2),
             |dscored AS (SELECT d.query_id, d.doc_id,
             |    ROUND(d.dot / (qn.nrm * dn.nrm), 6) AS score
             |  FROM dots d
             |  JOIN qn ON qn.qid = d.query_id
             |  JOIN dn ON dn.doc_id = d.doc_id),
             |denser AS (SELECT query_id, doc_id, rnk FROM (
             |  SELECT *, row_number() OVER (
             |      PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
             |  FROM dscored) WHERE rnk <= 10),
             |runs AS (SELECT * FROM bm25r UNION ALL SELECT * FROM denser),
             |fused AS (SELECT query_id, doc_id,
             |    CAST(SUM(CAST(ROUND(CAST(1 AS DOUBLE) / (60 + rnk), 9)
             |      AS DECIMAL(18,9))) AS DOUBLE) AS rrf
             |  FROM runs GROUP BY 1, 2)""".stripMargin

  private val duckHybrid =
    s"""$duckHybridCtes
       |SELECT query_id, doc_id, rrf, rnk FROM (
       |  SELECT *, row_number() OVER (
       |      PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rnk
       |  FROM fused)
       |WHERE rnk <= 10""".stripMargin

  /** The q_x28/q_x31 query set and its DuckDB oracle (shared verbatim —
    * the index-backed variant must score byte-identically). */
  private val bm25Queries: Seq[(Int, Seq[String])] = Seq(
    0 -> Seq("spark", "join", "fast"),
    1 -> Seq("window", "stream"),
    2 -> Seq("customer", "merge", "table"))

  /** q_x52's oracle — shared verbatim by q_x53 (the persisted count
    * store must reproduce the inline scoring byte-for-byte). */
  private lazy val duckStupidBackoff: Option[String] =
    Some("""WITH trd AS (SELECT
             |    list_filter(regexp_split_to_array(lower(text), '\s+'),
             |      x -> x <> '') AS toks
             |  FROM documents WHERE doc_id % 2 = 0),
             |tri AS (SELECT g, COUNT(*) AS c3 FROM (
             |    SELECT unnest(list_transform(range(1, len(toks) - 1),
             |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
             |    FROM trd WHERE len(toks) >= 3) GROUP BY 1),
             |big AS (SELECT g, COUNT(*) AS c2 FROM (
             |    SELECT unnest(list_transform(range(1, len(toks)),
             |      i -> toks[i] || ' ' || toks[i+1])) AS g
             |    FROM trd WHERE len(toks) >= 2) GROUP BY 1),
             |uni AS (SELECT w, COUNT(*) AS c1 FROM (
             |    SELECT unnest(toks) AS w FROM trd) GROUP BY 1),
             |tot AS (SELECT COALESCE(SUM(len(toks)), 0) AS tn FROM trd),
             |tgt AS (SELECT doc_id,
             |    list_filter(regexp_split_to_array(lower(text), '\s+'),
             |      x -> x <> '') AS toks
             |  FROM documents WHERE doc_id % 2 <> 0),
             |p AS (SELECT doc_id, g, string_split(g, ' ') AS parts FROM (
             |    SELECT doc_id,
             |      unnest(list_transform(range(1, len(toks) - 1),
             |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
             |    FROM tgt WHERE len(toks) >= 3)),
             |lp AS (SELECT doc_id,
             |    CASE WHEN sc IS NOT NULL
             |      THEN CAST(ROUND(LN(sc), 6) AS DECIMAL(18,6)) END AS lp
             |  FROM (SELECT p.doc_id,
             |      CASE
             |        WHEN t.c3 IS NOT NULL
             |          THEN CAST(t.c3 AS DOUBLE) / b12.c2
             |        WHEN b23.c2 IS NOT NULL
             |          THEN CAST(0.4 AS DOUBLE) *
             |            (CAST(b23.c2 AS DOUBLE) / u2.c1)
             |        WHEN u3.c1 IS NOT NULL
             |          THEN CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE) *
             |            (CAST(u3.c1 AS DOUBLE) / tot.tn)
             |      END AS sc
             |    FROM p
             |    LEFT JOIN tri t ON t.g = p.g
             |    LEFT JOIN big b12 ON b12.g = parts[1] || ' ' || parts[2]
             |    LEFT JOIN big b23 ON b23.g = parts[2] || ' ' || parts[3]
             |    LEFT JOIN uni u2 ON u2.w = parts[2]
             |    LEFT JOIN uni u3 ON u3.w = parts[3]
             |    CROSS JOIN tot)),
             |agg AS (SELECT doc_id, COUNT(*) AS n_trigrams,
             |    COUNT(lp) AS n_scored, SUM(lp) AS s
             |  FROM lp GROUP BY 1),
             |fin AS (SELECT d.doc_id,
             |    COALESCE(a.n_trigrams, 0) AS n_trigrams,
             |    COALESCE(a.n_trigrams - a.n_scored, 0) AS n_oov,
             |    CASE WHEN a.n_scored > 0 THEN
             |      CAST((2 * CAST(-a.s * 1000000 AS BIGINT) + a.n_scored)
             |           // (2 * a.n_scored) AS DOUBLE) / 1000000.0
             |    END AS avg_nls
             |  FROM (SELECT doc_id FROM documents WHERE doc_id % 2 <> 0) d
             |  LEFT JOIN agg a ON a.doc_id = d.doc_id)
             |SELECT doc_id, CAST(n_trigrams AS BIGINT) AS n_trigrams,
             |  CAST(n_oov AS BIGINT) AS n_oov, avg_nls,
             |  ROUND(EXP(avg_nls), 4) AS sbo_ppl,
             |  CASE WHEN n_trigrams = 0 THEN 'empty'
             |    WHEN ROUND(EXP(avg_nls), 4) IS NULL THEN 'oov'
             |    WHEN ROUND(EXP(avg_nls), 4) <= 35.0 THEN 'head'
             |    WHEN ROUND(EXP(avg_nls), 4) >= 50.0 THEN 'tail'
             |    ELSE 'middle' END AS bucket
             |FROM fin""".stripMargin)

  private lazy val duckBm25: String =
    """WITH t AS (SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
      |  FROM documents),
      |tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM (
      |    SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM t)
      |  GROUP BY 1, 2, 3),
      |dfr AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |st AS (SELECT COUNT(*) AS n_docs,
      |    CAST(SUM(len(toks)) AS DOUBLE) / COUNT(*) AS avgdl FROM t),
      |q AS (SELECT * FROM (VALUES
      |    (0, 'spark'), (0, 'join'), (0, 'fast'),
      |    (1, 'window'), (1, 'stream'),
      |    (2, 'customer'), (2, 'merge'), (2, 'table')) AS v(query_id, term)),
      |sc AS (SELECT query_id, doc_id,
      |    CAST(ROUND(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 6) AS DECIMAL(18,6)) *
      |    CAST(ROUND(tf * (1.2 + 1.0) /
      |      (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)), 6) AS DECIMAL(18,6)) AS c
      |  FROM q JOIN tf USING (term) JOIN dfr USING (term), st),
      |agg AS (SELECT query_id, doc_id,
      |    ROUND(CAST(SUM(c) AS DOUBLE), 6) AS score
      |  FROM sc GROUP BY 1, 2)
      |SELECT query_id, doc_id, score, rnk FROM (
      |  SELECT *, row_number() OVER (
      |      PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
      |  FROM agg)
      |WHERE rnk <= 10""".stripMargin

  /** The q_x30/q_x35 oracle (shared verbatim — assignment against the
    * persisted quantizer must equal train-and-assign in one job):
    * hashed-tf vector build + both Lloyd iterations + final argmax via
    * the shared [[DuckKmeansSql]] chain. */
  private lazy val duckTopicClusters: String =
    s"""WITH t AS (SELECT doc_id,
       |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS toks
       |  FROM documents),
       |tnz AS (SELECT doc_id, toks FROM t WHERE len(toks) > 0),
       |htf AS (SELECT doc_id,
       |    CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % 16 AS b,
       |    COUNT(*) AS tf
       |  FROM (SELECT doc_id, unnest(toks) AS tok FROM tnz) GROUP BY 1, 2),
       |ex AS (SELECT d.doc_id AS vec_id, r.i,
       |    CAST(CAST(COALESCE(h.tf, 0) AS FLOAT) AS DOUBLE) AS v
       |  FROM (SELECT doc_id FROM tnz) d
       |  CROSS JOIN (SELECT unnest(range(1, 17)) AS i) r
       |  LEFT JOIN htf h ON h.doc_id = d.doc_id AND h.b = r.i - 1),
       |norms AS (SELECT vec_id,
       |    sqrt(SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE))) AS nrm
       |  FROM ex GROUP BY 1),
       |c0 AS (SELECT vec_id AS centroid_id, CAST(v AS DOUBLE) AS cv, i
       |  FROM ex WHERE vec_id < 8),
       |${DuckKmeansSql.kmIter(1)},
       |${DuckKmeansSql.kmIter(2)},
       |${DuckKmeansSql.assignTail}
       |SELECT vec_id AS doc_id, centroid_id FROM (
       |  SELECT vec_id, centroid_id, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY score DESC, centroid_id) AS rn
       |  FROM s3) WHERE rn = 1""".stripMargin

  /** The q_x6 oracle, shared verbatim by q_x43_top_tokens_store (the
    * store-twin discipline): exact corpus token counts, top 20, ties to
    * the token. */
  private lazy val duckTopTokens: String =
    s"""SELECT token, COUNT(*) AS n FROM (
       |  SELECT unnest($duckToks) AS token FROM documents)
       |GROUP BY 1 ORDER BY n DESC, token LIMIT 20""".stripMargin

  /** The q_x39 oracle, shared verbatim by q_x42_token_ids_store (the
    * store-twin discipline): BPE chain → positional piece explode →
    * lexicographic dense vocab ids → order-preserving reassembly. */
  private lazy val duckTokenIds: String =
    s"""$duckBpe,
       |px AS (
       |  SELECT doc_id,
       |    generate_subscripts(string_split(bpe, ' '), 1) AS pos,
       |    unnest(string_split(bpe, ' ')) AS piece
       |  FROM bpe WHERE n_bpe > 0),
       |vocab AS (
       |  SELECT piece,
       |    CAST(row_number() OVER (ORDER BY piece) - 1 AS INT) AS token_id
       |  FROM (SELECT DISTINCT piece FROM px)),
       |ids AS (
       |  SELECT px.doc_id,
       |    string_agg(CAST(v.token_id AS VARCHAR), ',' ORDER BY px.pos)
       |      AS ids_csv
       |  FROM px JOIN vocab v USING (piece) GROUP BY 1)
       |SELECT b.doc_id, COALESCE(i.ids_csv, '') AS ids_csv,
       |  b.n_bpe AS n_tokens
       |FROM bpe b LEFT JOIN ids i USING (doc_id)""".stripMargin

  /** The q_x54 oracle: replay the whole byte-fallback contract — learn
    * merges + vocab on the ORIGINAL corpus (the q_x39 chain verbatim,
    * ids shifted +256 past the reserved byte range), re-apply the merges
    * to the OOV-injected corpus, then encode each piece as its shifted
    * vocab id or, when absent, its UTF-8 bytes via hex-pair digits. */
  private lazy val duckByteFallbackIds: String =
    s"""$duckBpe,
       |px0 AS (
       |  SELECT generate_subscripts(string_split(bpe, ' '), 1) AS pos,
       |    unnest(string_split(bpe, ' ')) AS piece
       |  FROM bpe WHERE n_bpe > 0),
       |vocab AS (
       |  SELECT piece,
       |    CAST(row_number() OVER (ORDER BY piece) - 1 + 256 AS INT)
       |      AS token_id
       |  FROM (SELECT DISTINCT piece FROM px0)),
       |doc2 AS (
       |  SELECT doc_id, COALESCE(text, '') || ' zq' ||
       |    CAST(doc_id % 7 AS VARCHAR) || 'ßø' AS text
       |  FROM documents),
       |dwa AS (
       |  SELECT doc_id, i AS idx, w FROM (
       |    SELECT doc_id, unnest(ws) AS w, unnest(range(1, len(ws) + 1)) AS i
       |    FROM (SELECT doc_id, $duckToks AS ws FROM doc2))),
       |awa AS (SELECT DISTINCT w FROM dwa),
       |${duckBpeApply("r4", "awa", "mall")},
       |bagg2 AS (
       |  SELECT d.doc_id,
       |    string_agg(trim(t.st), ' ' ORDER BY d.idx) AS bpe
       |  FROM dwa d JOIN r4_f t ON t.w = d.w
       |  GROUP BY 1),
       |px2 AS (
       |  SELECT doc_id,
       |    generate_subscripts(string_split(bpe, ' '), 1) AS pos,
       |    unnest(string_split(bpe, ' ')) AS piece
       |  FROM bagg2),
       |pid AS (
       |  SELECT p.doc_id, p.pos,
       |    CASE WHEN v.token_id IS NOT NULL THEN [v.token_id]
       |    ELSE list_transform(range(1, octet_length(encode(p.piece)) + 1),
       |      i -> CAST(
       |        (strpos('0123456789abcdef',
       |           substring(lower(hex(encode(p.piece))), 2 * i - 1, 1)) - 1) * 16
       |        + (strpos('0123456789abcdef',
       |           substring(lower(hex(encode(p.piece))), 2 * i, 1)) - 1)
       |        AS INT))
       |    END AS ids
       |  FROM px2 p LEFT JOIN vocab v USING (piece))
       |SELECT doc_id,
       |  string_agg(array_to_string(ids, ','), ',' ORDER BY pos) AS ids_csv,
       |  CAST(SUM(len(ids)) AS BIGINT) AS n_tokens,
       |  TRUE AS no_unk, TRUE AS roundtrip_ok
       |FROM pid GROUP BY doc_id""".stripMargin

  /** The q_x72 train->classify chain as oracle CTEs, ending in
    * `best` = (doc_id, lang, margin_m) — shared by q_x72 and q_v30 (the
    * margin-reliability grading must replay the exact same fit). */
  private lazy val duckLangIdChain: String =
    """WITH v AS (SELECT doc_id,
             |    CASE CAST(doc_id % 3 AS INT)
             |      WHEN 0 THEN lower(text)
             |      WHEN 1 THEN translate(lower(text), 'aeiou', '01234')
             |      ELSE reverse(lower(text)) END AS txt
             |  FROM documents WHERE text IS NOT NULL),
             |gidx AS (SELECT doc_id, txt, k,
             |    unnest(range(1, len(txt) - k + 2)) AS i
             |  FROM v, (SELECT unnest([2, 3]) AS k)),
             |htf AS (SELECT doc_id,
             |    CAST('0x' || substr(md5(substr(txt, i, k)), 1, 8) AS BIGINT)
             |      % 64 AS b,
             |    COUNT(*) AS tf
             |  FROM gidx GROUP BY 1, 2),
             |lab AS (SELECT doc_id, 'l' || CAST(doc_id % 3 AS VARCHAR)
             |    AS lang
             |  FROM v WHERE doc_id % 4 < 2),
             |tfl AS (SELECT h.doc_id, l.lang, h.b, h.tf
             |  FROM htf h JOIN lab l USING (doc_id)),
             |tflc AS (SELECT t.doc_id, c.c,
             |    CASE WHEN t.lang = c.c THEN 1 ELSE -1 END AS y, t.b, t.tf
             |  FROM tfl t, (SELECT DISTINCT lang AS c FROM tfl) c),
             |w1 AS (SELECT c, b, SUM(y * tf) AS wm FROM tflc
             |  WHERE y = -1 GROUP BY 1, 2),
             |m2 AS (SELECT f.doc_id, f.c, f.y,
             |    SUM(f.tf * COALESCE(w.wm, 0)) AS m
             |  FROM tflc f LEFT JOIN w1 w ON w.c = f.c AND w.b = f.b
             |  GROUP BY 1, 2, 3),
             |u2 AS (SELECT f.c, f.b, SUM(f.y * f.tf) AS u FROM tflc f
             |  JOIN m2 ON m2.doc_id = f.doc_id AND m2.c = f.c
             |  WHERE (m2.m >= 0) <> (m2.y > 0) GROUP BY 1, 2),
             |w2 AS (SELECT COALESCE(a.c, u.c) AS c,
             |    COALESCE(a.b, u.b) AS b,
             |    COALESCE(a.wm, 0) + COALESCE(u.u, 0) AS wm
             |  FROM w1 a FULL OUTER JOIN u2 u ON a.c = u.c AND a.b = u.b),
             |spine AS (SELECT h.doc_id, h.b, h.tf, c.c
             |  FROM htf h CROSS JOIN (SELECT DISTINCT c FROM w2) c),
             |sc AS (SELECT s.doc_id, s.c,
             |    CAST(SUM(s.tf * COALESCE(w.wm, 0)) AS BIGINT) AS m
             |  FROM spine s LEFT JOIN w2 w ON w.c = s.c AND w.b = s.b
             |  GROUP BY 1, 2),
             |best AS (SELECT doc_id, c AS lang, m AS margin_m FROM (
             |    SELECT *, row_number() OVER (
             |      PARTITION BY doc_id ORDER BY m DESC, c) AS rn FROM sc)
             |  WHERE rn = 1)""".stripMargin

  /** The q_v33 calibrated-abstention CTE chain (the LID fit + per-class
    * stats + learned direction + per-row z), ending in `czz` — shared
    * by q_v33 (the verdict) and q_v34 (the risk-coverage curve over
    * the same signal). */
  private lazy val duckLidAbstainChain: String =
    s"""$duckLangIdChain,
       |pc AS (SELECT b.doc_id, b.lang, b.margin_m,
       |    CASE WHEN b.doc_id % 4 < 2 THEN
       |      b.lang = 'l' || CAST(b.doc_id % 3 AS VARCHAR) END AS lab
       |  FROM best b
       |  WHERE b.lang IS NOT NULL AND b.margin_m IS NOT NULL),
       |cst AS (SELECT lang, COUNT(*) AS ncl, SUM(margin_m) AS sr,
       |    SUM(CAST(margin_m AS HUGEINT) * margin_m) AS srr,
       |    COUNT(lab) AS nlb,
       |    SUM(CASE WHEN lab THEN 1 ELSE 0 END) AS ncr,
       |    SUM(CASE WHEN lab THEN margin_m END) AS scr,
       |    SUM(CASE WHEN NOT lab THEN margin_m END) AS swr
       |  FROM pc GROUP BY 1),
       |cdd AS (SELECT lang, ncl, nlb, ncr, sr,
       |    sqrt(CAST(srr AS DOUBLE) / ncl
       |      - (CAST(sr AS DOUBLE) / ncl)
       |      * (CAST(sr AS DOUBLE) / ncl)) AS stdd,
       |    CAST(CASE WHEN ncr > 0 AND nlb - ncr > 0 THEN
       |      CASE WHEN CAST(scr AS HUGEINT) * (nlb - ncr)
       |          > CAST(swr AS HUGEINT) * ncr THEN 1
       |        WHEN CAST(scr AS HUGEINT) * (nlb - ncr)
       |          < CAST(swr AS HUGEINT) * ncr THEN -1
       |        ELSE 0 END ELSE 0 END AS INT) AS dir
       |  FROM cst),
       |czz AS (SELECT p.doc_id, p.lang, p.margin_m, p.lab,
       |    d2.ncl, d2.nlb, d2.ncr, d2.dir,
       |    CAST(CASE WHEN d2.ncl > 1 AND d2.stdd > 0 THEN
       |      ROUND(ROUND((CAST(p.margin_m AS DOUBLE)
       |        - CAST(d2.sr AS DOUBLE) / d2.ncl) / d2.stdd, 6)
       |        * 1e6) END AS BIGINT) AS z
       |  FROM pc p JOIN cdd d2 USING (lang))""".stripMargin

  /** The q_x72 Spark chain (3 synthetic languages, OvR char-gram
    * train, whole-corpus classify) — shared by q_x72 and q_v30. */
  private def trainedLangId(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val v = Tables.documents(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 0, lower(col("text")))
          .when(col("doc_id") % 3 === 1,
            translate(lower(col("text")), "aeiou", "01234"))
          .otherwise(reverse(lower(col("text")))).as("txt"))
    val labeled = v.filter(col("doc_id") % 4 < 2)
      .withColumn("lang",
        concat(lit("l"), (col("doc_id") % 3).cast("string")))
    val w = TextAnalysis.trainLangId(labeled, "lang", dims = 64,
      rounds = 2, nMin = 2, nMax = 3, textCol = "txt")
    TextAnalysis.langIdTrained(v, w, dims = 64, nMin = 2, nMax = 3,
      textCol = "txt")
  }

  override def queries: Seq[Q] = Seq(

    // ---- X1: token counting -------------------------------------------
    Q("q_x1_token_count",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), length(col("text")).as("n_chars_calc"),
          TextAnalysis.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          size(col("toks")).as("n_tokens"),
          size(array_distinct(col("toks"))).as("n_distinct_tokens"),
          col("n_chars_calc")),
      Some(s"""SELECT doc_id,
              |  len($duckToks) AS n_tokens,
              |  len(list_distinct($duckToks)) AS n_distinct_tokens,
              |  length(text) AS n_chars_calc
              |FROM documents""".stripMargin)),

    // ---- X2: quality scoring ------------------------------------------
    Q("q_x2_quality",
      (s, d) => {
        val nTok = size(col("toks"))
        val tokChars = length(array_join(col("toks"), ""))
        val stopHits = TextAnalysis.hitCount(col("toks"), TextAnalysis.langStopwords.head._2)
        val avgLen = round(tokChars.cast("double") / nTok, 4)
        val stopRatio = round(stopHits.cast("double") / nTok, 4)
        Tables.documents(s, d)
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
          .select(
            col("doc_id"),
            nTok.as("n_tokens"),
            avgLen.as("avg_token_len"),
            stopRatio.as("stopword_ratio"),
            (nTok >= 20 && avgLen >= 2.0 && avgLen <= 10.0 && stopRatio >= 0.02)
              .as("is_quality"))
      },
      Some(s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
              |m AS (SELECT doc_id,
              |  len(toks) AS n_tokens,
              |  ROUND(CAST(length(list_aggregate(toks, 'string_agg', '')) AS DOUBLE) / len(toks), 4) AS avg_token_len,
              |  ROUND(CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','is','to','in'], x))) AS DOUBLE) / len(toks), 4) AS stopword_ratio
              |  FROM t)
              |SELECT doc_id, n_tokens, avg_token_len, stopword_ratio,
              |  (n_tokens >= 20 AND avg_token_len >= 2.0 AND avg_token_len <= 10.0
              |   AND stopword_ratio >= 0.02) AS is_quality
              |FROM m""".stripMargin)),

    // ---- X3: language ID (stopword-hit argmax, fixed priority) ---------
    Q("q_x3_langid",
      (s, d) => {
        val scoreCols = TextAnalysis.langStopwords.map { case (l, ws) =>
          TextAnalysis.hitCount(col("toks"), ws).as(s"s_$l")
        }
        Tables.documents(s, d)
          .select(col("doc_id"), col("lang").as("lang_label"),
            TextAnalysis.tokens(col("text")).as("toks"))
          .select((col("doc_id") +: col("lang_label") +: scoreCols) :+
            TextAnalysis.langId(col("toks")).as("lang_pred"): _*)
      },
      Some(s"""WITH t AS (SELECT doc_id, lang, $duckToks AS toks FROM documents),
              |sc AS (SELECT doc_id, lang AS lang_label,
              |  len(list_filter(toks, x -> list_contains(['the','a','of','and','is','to','in'], x))) AS s_en,
              |  len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','ein','zu'], x))) AS s_de,
              |  len(list_filter(toks, x -> list_contains(['el','la','de','y','es','un','en'], x))) AS s_es,
              |  len(list_filter(toks, x -> list_contains(['le','la','de','et','est','un','dans'], x))) AS s_fr
              |  FROM t)
              |SELECT doc_id, lang_label, s_en, s_de, s_es, s_fr,
              |  CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
              |       WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
              |       WHEN s_es >= s_fr THEN 'es'
              |       ELSE 'fr' END AS lang_pred
              |FROM sc""".stripMargin)),

    // ---- X5: BPE-ish piece counting (regex pre-tokenization) -----------
    Q("q_x5_bpe_tokens",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.bpeTokens(col("text")).as("pieces"))
        .select(col("doc_id"),
          size(col("pieces")).as("n_pieces"),
          size(filter(col("pieces"), p => p.rlike("^[A-Za-z]"))).as("n_alpha"),
          size(filter(col("pieces"), p => p.rlike("^[0-9]"))).as("n_num")),
      Some("""WITH p AS (SELECT doc_id,
             |  regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]') AS pieces
             |  FROM documents)
             |SELECT doc_id, len(pieces) AS n_pieces,
             |  len(list_filter(pieces, x -> regexp_matches(x, '^[A-Za-z]'))) AS n_alpha,
             |  len(list_filter(pieces, x -> regexp_matches(x, '^[0-9]'))) AS n_num
             |FROM p""".stripMargin)),

    // ---- X6: corpus heavy hitters (exact top tokens) -------------------
    // Global top-k compiles to TakeOrderedAndProject: each partition
    // keeps k rows after the partial agg, so the driver merges 32×k rows
    // — never a full sort. Ties break on the token for determinism.
    Q("q_x6_top_tokens",
      (s, d) => Tables.documents(s, d)
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(20),
      Some(duckTopTokens)),

    // ---- X43: top tokens from the PERSISTED frequent-items store --------
    // The q_x6 store twin (vocabulary-drift monitoring at 100 TB reads
    // the sketches-sized store, not the corpora): two nightly batches
    // accumulate approx_top_k sketches, the query combines the STORE and
    // re-ranks. Below maxItemsTracked the sketch counts are exact, so
    // this shares q_x6's exact oracle verbatim — output equality IS the
    // store-equivalence proof (the q_x41/q_x42 discipline).
    Q("q_x43_top_tokens_store",
      (s, d) => {
        val store = TempDirs.scratch("graft-topk-store")
        val docs = Tables.documents(s, d)
        TextAnalysis.appendTopTokenSketch(
          docs.filter(col("doc_id") % 2 === 0), "text", store)
        TextAnalysis.appendTopTokenSketch(
          docs.filter(col("doc_id") % 2 === 1), "text", store)
        TextAnalysis.topTokensFromSketches(s, store, 20)
      },
      Some(duckTopTokens)),

    // ---- X7: deterministic train/val/test split + downsample ------------
    // ---- X21: sliding-window chunking (RAG / context prep) --------------
    // 64-token windows advancing by 48 (16-token overlap); the oracle
    // replays tokenization, start enumeration, the adds-new-tokens
    // filter, and the slice/join per chunk.
    Q("q_x21_chunks",
      (s, d) => graft.operators.TextAnalysis.chunk(
        Tables.documents(s, d), chunkTokens = 64, overlap = 16),
      Some(s"""WITH t AS (
              |  SELECT doc_id, $duckToks AS toks FROM documents),
              |n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
              |st AS (SELECT doc_id, toks, n, unnest(range(0, n, 48)) AS s FROM n)
              |SELECT doc_id, CAST(s // 48 AS INT) AS chunk_id,
              |  LEAST(64, n - s) AS chunk_tokens,
              |  array_to_string(list_slice(toks, s + 1, s + 64), ' ') AS chunk_text
              |FROM st WHERE s = 0 OR s + 16 < n""".stripMargin)),

    // ---- X20: sequence packing (token-budget training batches) ----------
    // The oracle replays the whole layout: md5 sharding, within-shard
    // hash order, exclusive-cumsum pack assignment at a 512-token budget.
    Q("q_x20_pack_sequences",
      (s, d) => graft.operators.Packing.packSequences(
        Tables.documents(s, d), budget = 512, shards = 4, salt = "pk"),
      Some(s"""WITH b AS (
              |  SELECT doc_id,
              |    CAST('0x' || substr(md5('pk|' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 4 AS shard,
              |    md5('pk|' || CAST(doc_id AS VARCHAR)) AS hk,
              |    len($duckToks) AS n_tokens
              |  FROM documents),
              |c AS (
              |  SELECT doc_id, shard, n_tokens,
              |    SUM(n_tokens) OVER (PARTITION BY shard ORDER BY hk, doc_id
              |      ROWS UNBOUNDED PRECEDING) AS cum
              |  FROM b)
              |SELECT doc_id, shard,
              |  CAST(DENSE_RANK() OVER (PARTITION BY shard
              |    ORDER BY (cum - n_tokens) // 512) - 1 AS INT) AS pack,
              |  n_tokens
              |FROM c""".stripMargin)),

    // ---- X92: length-bucketed batch planning (padded-batch layout) -------
    // The q_x20 salted-hash discipline under the PADDED regime: power-
    // of-2 buckets via binary digit count (exact integer — no float
    // log2 at the boundary), fixed batches of 8 within (shard, bucket),
    // the per-batch padding audit in half-up ppm. The oracle replays
    // the md5 shard, bin() bucket, row_number batching, and window
    // stats.
    Q("q_x92_length_buckets",
      (s, d) => graft.operators.Packing.lengthBucketBatches(
        Tables.documents(s, d).select(col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).cast("long")
            .as("n_tokens")),
        batchSize = 8, shards = 4, salt = "lb"),
      Some(s"""WITH b AS (
              |  SELECT doc_id,
              |    CAST('0x' || substr(md5('lb|' || CAST(doc_id AS VARCHAR)),
              |      1, 8) AS BIGINT) % 4 AS shard,
              |    md5('lb|' || CAST(doc_id AS VARCHAR)) AS hk,
              |    CAST(len($duckToks) AS BIGINT) AS n_tokens
              |  FROM documents),
              |bk AS (SELECT doc_id, shard, hk, n_tokens,
              |    CAST(len(bin(n_tokens)) AS BIGINT) AS bucket
              |  FROM b),
              |asg AS (SELECT doc_id, shard, bucket, n_tokens,
              |    (ROW_NUMBER() OVER (PARTITION BY shard, bucket
              |      ORDER BY hk, doc_id) - 1) // 8 AS batch
              |  FROM bk),
              |st AS (SELECT shard, bucket, batch,
              |    CAST(COUNT(*) AS BIGINT) AS batch_docs,
              |    CAST(MAX(n_tokens) AS BIGINT) AS batch_max,
              |    CAST(SUM(n_tokens) AS BIGINT) AS bsum
              |  FROM asg GROUP BY 1, 2, 3)
              |SELECT a.doc_id, a.shard, a.bucket, a.batch, a.n_tokens,
              |  s.batch_docs, s.batch_max,
              |  CAST(CASE WHEN s.batch_max > 0 THEN
              |    (2 * (s.batch_max * s.batch_docs - s.bsum) * 1000000
              |      + s.batch_max * s.batch_docs)
              |      // (2 * s.batch_max * s.batch_docs)
              |    ELSE 0 END AS BIGINT) AS padding_ppm
              |FROM asg a JOIN st s USING (shard, bucket, batch)""".stripMargin)),

    // ---- X100: pack-fill audit (truncation-loss observability) -----------
    // The q_x20 layout audited: per (shard, pack) fill ppm against the
    // 512-token budget and the overflow tokens a hard-truncating
    // trainer would lose. The oracle extends the q_x20 chain with the
    // group tail.
    Q("q_x100_pack_fill",
      (s, d) => graft.operators.Packing.packFill(
        graft.operators.Packing.packSequences(
          Tables.documents(s, d), budget = 512, shards = 4, salt = "pk"),
        budget = 512),
      Some(s"""WITH b AS (
              |  SELECT doc_id,
              |    CAST('0x' || substr(md5('pk|' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 4 AS shard,
              |    md5('pk|' || CAST(doc_id AS VARCHAR)) AS hk,
              |    len($duckToks) AS n_tokens
              |  FROM documents),
              |c AS (
              |  SELECT doc_id, shard, n_tokens,
              |    SUM(n_tokens) OVER (PARTITION BY shard ORDER BY hk, doc_id
              |      ROWS UNBOUNDED PRECEDING) AS cum
              |  FROM b),
              |asg AS (
              |  SELECT doc_id, shard,
              |    CAST(DENSE_RANK() OVER (PARTITION BY shard
              |      ORDER BY (cum - n_tokens) // 512) - 1 AS INT) AS pack,
              |    n_tokens
              |  FROM c)
              |SELECT shard, pack, CAST(COUNT(*) AS BIGINT) AS n_docs,
              |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
              |  CAST((2 * SUM(n_tokens) * 1000000 + 512) // 1024
              |    AS BIGINT) AS fill_ppm,
              |  CAST(GREATEST(0, SUM(n_tokens) - 512) AS BIGINT)
              |    AS overflow_tokens
              |FROM asg GROUP BY 1, 2""".stripMargin)),

    // ---- X24: REAL table-driven BPE (corpus-learned merges table) -------
    // The merges TABLE is the artifact: learned deterministically from
    // the corpus in two rounds (char pairs, then compound symbol pairs),
    // inlined into the map-only bpe_encode kernel, and re-derived by the
    // oracle from the same parquet — so the hash pins the table AND the
    // rank-order/leftmost application semantics end-to-end.
    Q("q_x24_bpe_real",
      (s, d) => {
        val docs = Tables.documents(s, d)
        TextAnalysis.bpeTokenize(docs,
          TextAnalysis.learnBpeMerges(docs, "text"), "text", "doc_id")
      },
      Some(s"""$duckBpe
              |SELECT doc_id, bpe, n_bpe FROM bpe""".stripMargin)),

    // ---- X39: integer token-id encoding (the training handoff format) ---
    // Learn merges → build the deterministic piece→id vocab (lexicographic
    // dense ids) → encode every doc to its id sequence. The oracle replays
    // the whole chain: the q_x24 BPE CTE, positional piece explode, the
    // same vocab ranking, and order-preserving id reassembly.
    Q("q_x39_token_ids",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val merges = TextAnalysis.learnBpeMerges(docs, "text")
        // the id sequence rides the driver compare as a joined string —
        // the registry convention for array payloads (cell-level list
        // compare isn't in the oracle contract); the operator itself
        // returns the real array<int>
        TextAnalysis.encodeTokenIds(docs, merges,
            TextAnalysis.buildBpeVocab(docs, merges))
          .select(col("doc_id"),
            array_join(transform(col("token_ids"), t => t.cast("string")), ",")
              .as("ids_csv"),
            col("n_tokens"))
      },
      Some(duckTokenIds)),

    // ---- X42: token-id encoding from the PERSISTED tokenizer store ------
    // The nightly-batch shape a 100 TB pipeline actually runs: merges AND
    // vocab land in parquet ONCE (train), and the registered scoring path
    // reads both stores and encodes — zero learning aggregations in its
    // plan (TextOpsSpec pins the vocab side to a parquet scan of the
    // store, not a freshly built local relation). Shares q_x39's oracle
    // verbatim: output equality IS the store-equivalence proof (the
    // q_x41/q_x35 store-twin discipline).
    Q("q_x42_token_ids_store",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val store = TempDirs.scratch("graft-bpe-store")
        val merges = TextAnalysis.learnBpeMerges(docs, "text")
        TextAnalysis.writeBpeMerges(s, merges, s"$store/merges")
        TextAnalysis.writeBpeVocab(docs, merges, s"$store/vocab")
        // everything below this line touches ONLY the stores + the batch
        TextAnalysis.encodeTokenIds(docs,
            TextAnalysis.readBpeMerges(s, s"$store/merges"),
            s.read.parquet(s"$store/vocab"))
          .select(col("doc_id"),
            array_join(transform(col("token_ids"), t => t.cast("string")), ",")
              .as("ids_csv"),
            col("n_tokens"))
      },
      Some(duckTokenIds)),

    // ---- X54: byte-fallback token-id encoding (no token is ever unk) ----
    // The production tokenizer contract on top of the q_x39 chain: learn
    // merges + vocab on the corpus, then encode an OOV-INJECTED copy —
    // every doc gains a word containing characters the corpus never has
    // (ß, ø: multi-byte UTF-8), so the fallback branch provably fires.
    // Unknown pieces decompose to reserved byte ids 0–255 (learned ids
    // shift +256); `no_unk` proves no −1 survives anywhere and
    // `roundtrip_ok` proves each fallback piece rebuilds exactly from
    // its emitted byte ids. The fixture derives purely from parquet
    // columns, so the oracle replays the whole contract byte-for-byte.
    Q("q_x54_byte_fallback_ids",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val merges = TextAnalysis.learnBpeMerges(docs, "text")
        val vocab = TextAnalysis.buildBpeVocab(docs, merges)
        val oov = docs.select(col("doc_id"),
          concat(coalesce(col("text"), lit("")), lit(" zq"),
            (col("doc_id") % 7).cast("string"), lit("ßø")).as("text"))
        TextAnalysis.encodeTokenIdsByteFallback(oov, merges, vocab)
          .select(col("doc_id"),
            array_join(transform(col("token_ids"), t => t.cast("string")), ",")
              .as("ids_csv"),
            col("n_tokens"),
            (!array_contains(col("token_ids"), -1)).as("no_unk"),
            col("roundtrip_ok"))
      },
      Some(duckByteFallbackIds)),

    // ---- X41: perplexity gate from the PERSISTED LM ---------------------
    // Train-once/score-nightly: counts land in a parquet store, the batch
    // scores against it without the reference corpus rescanning. Shares
    // q_x27's oracle verbatim — output equality IS the equivalence proof
    // (the q_x31/q_d13 store discipline).
    Q("q_x41_ppl_store",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val store = TempDirs.scratch("graft-lm-store")
        TextAnalysis.writeLmCounts(docs, "text", store)
        TextAnalysis.bigramPerplexityFromLm(s, store, docs,
          "text", "doc_id", headPpl = 29.7, tailPpl = 30.45)
      },
      Some(duckPpl)),

    // ---- X61: Min-K% Prob membership gate (pretraining-data audit) ------
    // Shi et al. 2023: mean of the k% LOWEST token log-probs under the
    // persisted reference LM — the contamination-audit signal that
    // catches leakage exact/near-dup matching misses. The per-doc lp
    // multiset sorts IN ROW (doc-length-bounded array, no window); the
    // lowest max(1, floor(n·20/100)) sum as exact DECIMAL. The oracle
    // replays tokenize → add-1 bigram lp → sort → slice → mean, and the
    // member verdict at tau = -8.25.
    Q("q_x61_mink_prob",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val store = TempDirs.scratch("graft-lm-mink")
        TextAnalysis.writeLmCounts(docs, "text", store)
        TextAnalysis.minKProbFromLm(s, store, docs, "text", "doc_id",
          kPct = 20, tau = -8.25)
      },
      Some("""WITH t AS (SELECT doc_id,
             |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
             |  FROM documents),
             |bi AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS gram, toks[i] AS w1
             |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
             |        FROM t WHERE len(toks) >= 2)),
             |bc AS (SELECT gram, COUNT(*) AS cb FROM bi GROUP BY 1),
             |un AS (SELECT unnest(toks) AS w FROM t),
             |uc AS (SELECT w, COUNT(*) AS cu FROM un GROUP BY 1),
             |v AS (SELECT COUNT(DISTINCT w) AS vsz FROM un),
             |sc AS (SELECT doc_id,
             |    CAST(ROUND(ln((cb + 1.0) / (cu + 1.0 * vsz)), 6) AS DECIMAL(18,6)) AS lp
             |  FROM bi JOIN bc USING (gram) JOIN uc ON uc.w = bi.w1, v),
             |pd AS (SELECT doc_id, list_sort(list(lp)) AS lps FROM sc GROUP BY 1),
             |mk AS (SELECT doc_id, len(lps) AS n,
             |    GREATEST(1, CAST(FLOOR(len(lps) * 20 / 100.0) AS BIGINT)) AS m,
             |    lps FROM pd),
             |s2 AS (SELECT doc_id, CAST(n AS BIGINT) AS n_bigrams,
             |    -(CAST((2 * CAST(-list_aggregate(list_slice(lps, 1, m), 'sum')
             |        * 1000000 AS BIGINT) + m) // (2 * m) AS DOUBLE))
             |      / 1000000.0 AS mink_avg_lp
             |  FROM mk)
             |SELECT d.doc_id,
             |  CAST(COALESCE(s2.n_bigrams, 0) AS BIGINT) AS n_bigrams,
             |  s2.mink_avg_lp,
             |  s2.mink_avg_lp >= -8.25 AS member
             |FROM documents d LEFT JOIN s2 USING (doc_id)""".stripMargin)),

    // ---- X62: HTML -> text extraction (crawl first transform) -----------
    // HTML constructed engine-independently around documents.text (the
    // q_x18/q_x40 discipline): script+style+comment blocks, attributed
    // tags, the six dominant named entities incl. a double-encoded
    // &amp;amp; (must decode exactly ONE level), and numeric character
    // references: smart quotes &#8220;/&#8221;, hex em-dash &#x2014;,
    // a double-encoded &amp;#8230; (one level -> literal &#8230;), an
    // out-of-range &#9999999;, an astral &#x1F600;, a control &#0;, and
    // a malformed &#zz; — the last four must survive as literal text.
    // The oracle replays the identical RE2-compatible chain, numeric
    // decode via string_split + list_transform + chr BEFORE the named
    // replaces; null text stays null through the whole pipe.
    Q("q_x62_html_strip",
      (s, d) => {
        val html = concat(
          lit("<html><head><style>p{c:1}</style>" +
            "<script type=\"x\">var a=1<2;</script></head>" +
            "<body><p class=\"t\">"),
          col("text"),
          lit("</p><!-- nav --><div>&amp;amp; &lt;b&gt; &quot;q&quot;" +
            " &#39;s&#39;&nbsp;end</div>" +
            "<div>&#8220;nq&#8221; d&#x2014;d &amp;#8230; &#9999999;" +
            " &#x1F600; &#0; &#zz; tail</div></body></html>"))
        Tables.documents(s, d).select(col("doc_id"),
          graft.operators.TextAnalysis.stripHtml(html).as("clean"))
      },
      Some("""WITH h AS (SELECT doc_id,
             |    '<html><head><style>p{c:1}</style>' ||
             |    '<script type="x">var a=1<2;</script></head>' ||
             |    '<body><p class="t">' || text ||
             |    '</p><!-- nav --><div>&amp;amp; &lt;b&gt; &quot;q&quot;' ||
             |    ' &#39;s&#39;&nbsp;end</div>' ||
             |    '<div>&#8220;nq&#8221; d&#x2014;d &amp;#8230; &#9999999;' ||
             |    ' &#x1F600; &#0; &#zz; tail</div></body></html>' AS html
             |  FROM documents),
             |t AS (SELECT doc_id, string_split(
             |    regexp_replace(
             |      regexp_replace(
             |        regexp_replace(
             |          regexp_replace(html,
             |            '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
             |          '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
             |        '(?s)<!--.*?-->', ' ', 'g'),
             |      '<[^>]+>', ' ', 'g'), '&#') AS p
             |  FROM h),
             |n AS (SELECT doc_id, p[1] || COALESCE(array_to_string(
             |    list_transform(p[2:], x -> CASE
             |      WHEN regexp_matches(x, '^[0-9]{1,7};') THEN
             |        (CASE WHEN
             |            (CAST(regexp_extract(x, '^([0-9]{1,7});', 1)
             |              AS BIGINT) BETWEEN 32 AND 55295)
             |            OR (CAST(regexp_extract(x, '^([0-9]{1,7});', 1)
             |              AS BIGINT) BETWEEN 57344 AND 65535)
             |            OR CAST(regexp_extract(x, '^([0-9]{1,7});', 1)
             |              AS BIGINT) IN (9, 10, 13)
             |          THEN chr(CAST(regexp_extract(x, '^([0-9]{1,7});', 1)
             |            AS INT))
             |          ELSE '&#' || regexp_extract(x, '^([0-9]{1,7};)', 1)
             |          END) || regexp_replace(x, '^[0-9]{1,7};', '')
             |      WHEN regexp_matches(x, '^[xX][0-9a-fA-F]{1,6};') THEN
             |        (CASE WHEN
             |            (CAST(('0x' || regexp_extract(x,
             |              '^[xX]([0-9a-fA-F]{1,6});', 1)) AS BIGINT)
             |              BETWEEN 32 AND 55295)
             |            OR (CAST(('0x' || regexp_extract(x,
             |              '^[xX]([0-9a-fA-F]{1,6});', 1)) AS BIGINT)
             |              BETWEEN 57344 AND 65535)
             |            OR CAST(('0x' || regexp_extract(x,
             |              '^[xX]([0-9a-fA-F]{1,6});', 1)) AS BIGINT)
             |              IN (9, 10, 13)
             |          THEN chr(CAST(('0x' || regexp_extract(x,
             |            '^[xX]([0-9a-fA-F]{1,6});', 1)) AS INT))
             |          ELSE '&#' || regexp_extract(x,
             |            '^([xX][0-9a-fA-F]{1,6};)', 1)
             |          END) || regexp_replace(x, '^[xX][0-9a-fA-F]{1,6};', '')
             |      ELSE '&#' || x END), ''), '') AS d
             |  FROM t)
             |SELECT doc_id,
             |  trim(regexp_replace(
             |    replace(replace(replace(replace(replace(replace(d,
             |      '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
             |      '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
             |    '\s+', ' ', 'g')) AS clean
             |FROM n""".stripMargin)),

    // ---- X85: main-content extraction (jusText-style block gating) ------
    // Pages constructed engine-independently around documents.text: a
    // link-pure nav, a short heading, the prose block, a mixed-link
    // aside, a script (strips to nothing — never counted), a link-heavy
    // footer. Gates: >= 5 words, link density <= 400000 ppm, stopword
    // density >= 10000 ppm (docs with no stopwords at all lose their
    // prose too — a real outcome, both engines agree). Fixture is
    // entity-free by construction (entity decode is q_x62's gate), so
    // the oracle replays the strip chain without the numeric-ref CTE.
    Q("q_x85_main_content",
      (s, d) => {
        val html = concat(
          lit("<html><body><nav><a href=\"/\">home</a> " +
            "<a href=\"/a\">about</a> <a href=\"/c\">contact</a></nav>" +
            "<h1>doc "),
          col("doc_id"),
          lit("</h1><p>"), col("text"),
          lit("</p><aside>related <a href=\"/x\">links</a> here</aside>" +
            "<script>var x = 1;</script><footer>copyright 2020 " +
            "<a href=\"/p\">privacy</a> <a href=\"/t\">terms</a>" +
            "</footer></body></html>"))
        TextAnalysis.mainContent(
          Tables.documents(s, d).select(col("doc_id"), html.as("html")),
          "html", "doc_id",
          minWords = 5, maxLinkPpm = 400000L, minStopPpm = 10000L)
      },
      Some("""WITH h AS (SELECT doc_id,
             |    '<html><body><nav><a href="/">home</a> ' ||
             |    '<a href="/a">about</a> <a href="/c">contact</a></nav>' ||
             |    '<h1>doc ' || CAST(doc_id AS VARCHAR) || '</h1><p>' ||
             |    text ||
             |    '</p><aside>related <a href="/x">links</a> here</aside>' ||
             |    '<script>var x = 1;</script><footer>copyright 2020 ' ||
             |    '<a href="/p">privacy</a> <a href="/t">terms</a>' ||
             |    '</footer></body></html>' AS html
             |  FROM documents),
             |b AS (SELECT doc_id, unnest(bs) AS raw,
             |    unnest(range(1, len(bs) + 1)) AS bi
             |  FROM (SELECT doc_id, regexp_split_to_array(html,
             |      '(?i)</?(?:p|div|h[1-6]|ul|ol|li|table|thead|tbody|' ||
             |      'tr|td|th|section|article|header|footer|nav|aside|' ||
             |      'blockquote|br|hr|form|main)(?:\s[^>]*)?>') AS bs
             |    FROM h WHERE html IS NOT NULL)),
             |s AS (SELECT doc_id, bi,
             |    trim(regexp_replace(regexp_replace(regexp_replace(
             |      regexp_replace(regexp_replace(raw,
             |        '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
             |        '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
             |        '(?s)<!--.*?-->', ' ', 'g'),
             |        '<[^>]+>', ' ', 'g'), '\s+', ' ', 'g')) AS btext,
             |    trim(regexp_replace(regexp_replace(COALESCE(
             |      array_to_string(regexp_extract_all(raw,
             |        '(?is)<a\b[^>]*>(.*?)</a>', 1), ' '), ''),
             |      '<[^>]+>', ' ', 'g'), '\s+', ' ', 'g')) AS atext
             |  FROM b),
             |g AS (SELECT doc_id, bi, btext,
             |    len(list_filter(regexp_split_to_array(lower(btext),
             |      '\s+'), x -> x <> '')) AS nw,
             |    CAST(length(atext) AS BIGINT) AS la,
             |    CAST(length(btext) AS BIGINT) AS lb,
             |    len(list_filter(regexp_split_to_array(lower(btext),
             |      '\s+'), x -> x IN ('the', 'be', 'to', 'of', 'and',
             |      'that', 'have', 'with'))) AS ns
             |  FROM s WHERE length(btext) > 0),
             |k AS (SELECT doc_id, bi, btext, nw,
             |    (2 * la * 1000000 + lb) // (2 * lb) AS link_ppm,
             |    CASE WHEN nw > 0 THEN (2 * ns * 1000000 + nw) // (2 * nw)
             |      ELSE 0 END AS stop_ppm
             |  FROM g),
             |f AS (SELECT doc_id, bi, btext, nw,
             |    (nw >= 5 AND link_ppm <= 400000 AND stop_ppm >= 10000)
             |      AS kept
             |  FROM k),
             |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_blocks,
             |    CAST(COUNT(CASE WHEN kept THEN 1 END) AS BIGINT)
             |      AS n_kept,
             |    CAST(SUM(CASE WHEN kept THEN nw ELSE 0 END) AS BIGINT)
             |      AS n_words_kept,
             |    COALESCE(string_agg(CASE WHEN kept THEN btext END,
             |      chr(10) ORDER BY bi), '') AS main_text
             |  FROM f GROUP BY 1)
             |SELECT d.doc_id, COALESCE(a.n_blocks, 0) AS n_blocks,
             |  COALESCE(a.n_kept, 0) AS n_kept,
             |  COALESCE(a.n_words_kept, 0) AS n_words_kept,
             |  COALESCE(a.main_text, '') AS main_text
             |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin)),

    // ---- X63: host-level quality gate (RefinedWeb whole-host drop) ------
    // URLs constructed engine-independently (3 hosts per source, an
    // uppercase authority + :443 port to exercise normalization, and
    // every 19th doc an unparseable URL -> null host, kept). The bad
    // flag is null text or under 40 tokens; hosts with >= 5 docs and
    // bad fraction strictly above 0.3 drop wholesale.
    Q("q_x63_host_gate",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val url = when(col("doc_id") % 19 === 0, lit("not a url"))
          .otherwise(concat(lit("https://H"), col("doc_id") % 3,
            lit("."), col("source"), lit(".com:443/p/"), col("doc_id")))
        val bad = col("text").isNull ||
          size(TextAnalysis.tokens(col("text"))) < 40
        TextAnalysis.hostQualityGate(
          docs.select(col("doc_id"), url.as("url"), bad.as("bad")),
          "url", "bad", maxBadRatio = 0.3, minDocs = 5L)
      },
      Some("""WITH u AS (SELECT doc_id,
             |    CASE WHEN doc_id % 19 = 0 THEN 'not a url'
             |      ELSE 'https://H' || (doc_id % 3) || '.' || source ||
             |        '.com:443/p/' || doc_id END AS url,
             |    (text IS NULL OR len(list_filter(
             |      regexp_split_to_array(text, '\s+'), x -> x <> '')) < 40)
             |      AS bad
             |  FROM documents),
             |h AS (SELECT doc_id, bad,
             |    CASE WHEN COALESCE(regexp_extract(url,
             |        '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), '') = ''
             |      THEN NULL
             |      ELSE lower(regexp_replace(regexp_extract(url,
             |        '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
             |        ':[0-9]+$', '')) END AS host
             |  FROM u),
             |s AS (SELECT host, CAST(COUNT(*) AS BIGINT) AS host_docs,
             |    CAST(SUM(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT)
             |      AS host_bad
             |  FROM h WHERE host IS NOT NULL GROUP BY 1),
             |s2 AS (SELECT *, ROUND(CAST(host_bad AS DOUBLE) / host_docs, 6)
             |    AS bad_ratio FROM s)
             |SELECT h.doc_id, h.host, s2.host_docs, s2.host_bad,
             |  s2.bad_ratio,
             |  (h.host IS NULL OR s2.host_docs < 5 OR s2.bad_ratio <= 0.3)
             |    AS keep
             |FROM h LEFT JOIN s2 ON s2.host = h.host""".stripMargin)),

    // ---- X40: URL canonicalization (web-corpus first-pass dedup key) ----
    // URLs constructed engine-independently from documents columns (the
    // q_x18 discipline) covering the rule matrix: noisy case + default
    // port + tracking params + fragment / duplicate params needing a sort
    // / trailing slash. The oracle replays every rule with the same
    // regexes and list ops.
    Q("q_x40_url_canon",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val url = concat(lit("HTTP://Example-"), col("source"), lit(".COM:80/Docs/"),
          col("doc_id"),
          when(col("doc_id") % 3 === 0, lit("/?utm_source=feed&b=2&a=1#frag"))
            .when(col("doc_id") % 3 === 1, lit("?z=9&utm_campaign=x&z=1"))
            .otherwise(lit("/")))
        docs.select(col("doc_id"), url.as("url"),
          TextAnalysis.canonicalUrl(url).as("canon_url"))
      },
      Some("""WITH u AS (SELECT doc_id,
             |    'HTTP://Example-' || source || '.COM:80/Docs/' || doc_id ||
             |    CASE doc_id % 3 WHEN 0 THEN '/?utm_source=feed&b=2&a=1#frag'
             |                    WHEN 1 THEN '?z=9&utm_campaign=x&z=1'
             |                    ELSE '/' END AS url
             |  FROM documents),
             |c AS (SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS nf FROM u),
             |p AS (SELECT doc_id, url,
             |    lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
             |    lower(regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS auth0,
             |    regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path0,
             |    COALESCE(regexp_extract(nf, '\?(.*)$', 1), '') AS q0
             |  FROM c),
             |q AS (SELECT *, COALESCE(array_to_string(list_sort(list_filter(
             |    string_split(q0, '&'),
             |    x -> NOT regexp_matches(x, '^(utm_[^=]*|fbclid|gclid)(=.*)?$')
             |         AND x <> '')), '&'), '') AS qs FROM p)
             |SELECT doc_id, url,
             |  CASE WHEN scheme = '' THEN url ELSE
             |    scheme || '://' ||
             |    CASE WHEN scheme = 'http' THEN regexp_replace(auth0, ':80$', '')
             |         WHEN scheme = 'https' THEN regexp_replace(auth0, ':443$', '')
             |         ELSE auth0 END ||
             |    CASE WHEN length(path0) > 1 THEN regexp_replace(path0, '/$', '')
             |         ELSE path0 END ||
             |    CASE WHEN qs = '' THEN '' ELSE '?' || qs END
             |  END AS canon_url
             |FROM q""".stripMargin)),

    // ---- X25: sequence packing under the REAL tokenizer's budget --------
    // q_x20's layout with n_tokens from the learned BPE instead of the
    // whitespace proxy — the wiring a real pipeline uses (quota sampling,
    // packing, and chunking all key off true token counts).
    Q("q_x25_pack_bpe",
      (s, d) => {
        val docs = Tables.documents(s, d)
        graft.operators.Packing.packByCount(
          TextAnalysis.bpeTokenize(docs,
            TextAnalysis.learnBpeMerges(docs, "text"), "text", "doc_id"),
          budget = 512, shards = 4, salt = "pk", countCol = "n_bpe")
      },
      Some(s"""$duckBpe,
              |b AS (
              |  SELECT doc_id,
              |    CAST('0x' || substr(md5('pk|' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 4 AS shard,
              |    md5('pk|' || CAST(doc_id AS VARCHAR)) AS hk,
              |    n_bpe AS n_tokens
              |  FROM bpe),
              |c AS (
              |  SELECT doc_id, shard, n_tokens,
              |    SUM(n_tokens) OVER (PARTITION BY shard ORDER BY hk, doc_id
              |      ROWS UNBOUNDED PRECEDING) AS cum
              |  FROM b)
              |SELECT doc_id, shard,
              |  CAST(DENSE_RANK() OVER (PARTITION BY shard
              |    ORDER BY (cum - n_tokens) // 512) - 1 AS INT) AS pack,
              |  n_tokens
              |FROM c""".stripMargin)),

    // ---- X27: CCNet-style bigram-LM perplexity filter -------------------
    // Corpus-trained add-1 bigram LM; fixed head/tail cutoffs (29.7 /
    // 30.45 ≈ the corpus tertiles at both SFs) bucket the crawl.
    Q("q_x27_lm_perplexity",
      (s, d) => TextAnalysis.bigramPerplexity(Tables.documents(s, d),
        "text", "doc_id", headPpl = 29.7, tailPpl = 30.45),
      Some(duckPpl)),

    // ---- X28: BM25 keyword retrieval, bounded top-k per query -----------
    Q("q_x28_bm25",
      (s, d) => TextAnalysis.bm25TopK(Tables.documents(s, d), "text", "doc_id",
        queries = bm25Queries, k = 10),
      Some(duckBm25)),

    // ---- X31: BM25 from a PERSISTED index (nightly retrieval shape) -----
    // Index written once (postings + raw stats parquet), queries scored
    // without touching the corpus text. Shares q_x28's oracle VERBATIM:
    // output equality is the proof.
    Q("q_x31_bm25_index",
      (s, d) => {
        val dir = TempDirs.scratch("graft_bm25_")
        TextAnalysis.writeBm25Index(Tables.documents(s, d), "text", "doc_id", dir)
        TextAnalysis.bm25TopKFromIndex(s, dir, bm25Queries, k = 10)
      },
      Some(duckBm25)),

    // ---- X57: hybrid retrieval — BM25 + dense ranks fused by RRF --------
    // The standard hybrid-search recipe: the SAME query set retrieves
    // through the lexical path (BM25 top-10) AND the dense path
    // (hashed-tf cosine top-10, the model-free embedding bridge), and
    // reciprocal-rank fusion combines the two lists WITHOUT score
    // calibration — RRF consumes only ranks. Hashed-tf components are
    // exact integers, so the dense dot products replay exactly; the
    // fused score is a DECIMAL(18,9) sum of 9-dp reciprocal terms. The
    // oracle replays both retrieval chains and the fusion end to end.
    Q("q_x57_hybrid_rrf",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
        val bm25 = TextAnalysis.bm25TopK(docs, "text", "doc_id",
            bm25Queries, k = 10)
          .select(col("query_id"), col("doc_id"), col("rnk"))
        val docVecs = TextAnalysis.hashedTfVectors(docs, "text", "doc_id", 16)
        val qVecs = bm25Queries
          .map { case (qid, terms) => (qid, terms.mkString(" ")) }
          .toDF("qid", "qtext")
        val dense = Similarity.perQueryTopK(
          docVecs.crossJoin(broadcast(
            TextAnalysis.hashedTfVectors(qVecs, "qtext", "qid", 16)
              .select(col("doc_id").as("query_id"), col("vec").as("qv"))))
            .select(col("query_id"), col("doc_id").as("neighbor_id"),
              Similarity.cosine(col("qv"), col("vec")).as("score")), 10)
          .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rnk"))
        Similarity.rrfFuse(Seq(bm25, dense), k = 10)
      },
      Some(duckHybrid)),

    // ---- X60: hybrid retrieval from PERSISTED stores only ---------------
    // q_x57's fused query path in its nightly shape: the BM25 postings/
    // stats index and the hashed-tf vector store are written once, then
    // BOTH retrieval runs and the RRF fusion read only the stores — the
    // corpus text is never in the query plan (HybridStoreSpec pins
    // that). Exact-integer postings and vectors persist losslessly, so
    // this shares q_x57's oracle VERBATIM — output equality is the
    // proof that the store round-trip changes nothing.
    Q("q_x60_hybrid_store",
      (s, d) => {
        val dir = TempDirs.scratch("graft_hybrid_")
        TextAnalysis.writeHybridIndex(Tables.documents(s, d), "text",
          "doc_id", dims = 16, dir)
        TextAnalysis.hybridTopKFromIndex(s, dir, bm25Queries, k = 10,
          dims = 16)
      },
      Some(duckHybrid)),

    // ---- X64: hybrid retrieval -> MMR diversity (the full RAG path) -----
    // The composed modern retrieval chain under ONE oracle (the q_x47
    // discipline): BM25 + dense runs fuse by RRF, then the fused top-10
    // re-ranks through greedy MMR (relevance = the exact rank-derived
    // (11-rnk)/10, sims = hashed-tf cosines — both integer-exact in
    // micros). Pairs with no shared hash bucket coalesce to dot 0 in
    // the oracle, matching the engine's true zero cosine.
    Q("q_x64_hybrid_mmr",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
        val bm25 = TextAnalysis.bm25TopK(docs, "text", "doc_id",
            bm25Queries, k = 10)
          .select(col("query_id"), col("doc_id"), col("rnk"))
        val docVecs = TextAnalysis.hashedTfVectors(docs, "text", "doc_id", 16)
        val qVecs = bm25Queries
          .map { case (qid, terms) => (qid, terms.mkString(" ")) }
          .toDF("qid", "qtext")
        val dense = Similarity.perQueryTopK(
          docVecs.crossJoin(broadcast(
            TextAnalysis.hashedTfVectors(qVecs, "qtext", "qid", 16)
              .select(col("doc_id").as("query_id"), col("vec").as("qv"))))
            .select(col("query_id"), col("doc_id").as("neighbor_id"),
              Similarity.cosine(col("qv"), col("vec")).as("score")), 10)
          .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rnk"))
        val fused = Similarity.rrfFuse(Seq(bm25, dense), k = 10)
        Similarity.mmrRerank(
          fused.select(col("query_id"), col("doc_id").as("neighbor_id"),
            ((lit(11) - col("rnk")).cast("double") / lit(10)).as("score")),
          docVecs.select(col("doc_id").as("vec_id"), col("vec").as("embedding")),
          k = 5, lambdaTenths = 7)
      },
      Some(s"""$duckHybridCtes,
              |cand AS MATERIALIZED (
              |  SELECT query_id, doc_id AS neighbor_id,
              |    (11 - rnk) * CAST(100000 AS BIGINT) AS rel_m
              |  FROM (SELECT *, row_number() OVER (
              |      PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rnk
              |    FROM fused)
              |  WHERE rnk <= 10),
              |cids AS MATERIALIZED (SELECT DISTINCT neighbor_id FROM cand),
              |pd AS MATERIALIZED (
              |  SELECT a.doc_id AS aa, b.doc_id AS bb,
              |    SUM(a.tf * b.tf) AS dot
              |  FROM htf a JOIN cids ca ON ca.neighbor_id = a.doc_id
              |  JOIN htf b ON b.b = a.b
              |  JOIN cids cb ON cb.neighbor_id = b.doc_id
              |  WHERE a.doc_id <> b.doc_id
              |  GROUP BY 1, 2),
              |pw AS MATERIALIZED (
              |  SELECT c1.query_id, c1.neighbor_id AS a_id,
              |    c2.neighbor_id AS b_id,
              |    CAST(ROUND(ROUND(COALESCE(p.dot, 0) /
              |      (na.nrm * nb.nrm), 6) * 1000000) AS BIGINT) AS sim_m
              |  FROM cand c1
              |  JOIN cand c2 ON c2.query_id = c1.query_id
              |    AND c2.neighbor_id <> c1.neighbor_id
              |  LEFT JOIN pd p ON p.aa = c1.neighbor_id
              |    AND p.bb = c2.neighbor_id
              |  JOIN dn na ON na.doc_id = c1.neighbor_id
              |  JOIN dn nb ON nb.doc_id = c2.neighbor_id),
              |${SimilarityQueries.duckMmrRounds(5)}
              |SELECT query_id, neighbor_id AS doc_id, mmr_m, rnk
              |FROM (${(1 to 5).map(r => s"SELECT * FROM sel$r")
                .mkString(" UNION ALL ")})""".stripMargin)),

    // ---- X30: topic clustering over hashed-tf doc vectors ---------------
    // The model-free text→vector bridge: feature-hash every doc into a
    // 16-dim tf profile, train the library's own k-means quantizer on
    // it, and assign every doc a topic cluster. The oracle replays
    // hashing, vector build, both Lloyd iterations, and the final
    // argmax via the shared DuckKmeansSql chain (the q_sim6 gate).
    Q("q_x30_topic_clusters",
      (s, d) => {
        import graft.operators.{Kmeans, Similarity}
        val vecs = TextAnalysis.hashedTfVectors(
          Tables.documents(s, d), "text", "doc_id", dims = 16)
        val cents = Kmeans.train(vecs, k = 8, iters = 2, "doc_id", "vec")
        Similarity.assignToCentroids(vecs, cents, "doc_id", "vec")
          .select(col("vec_id").as("doc_id"), col("centroid_id"))
      },
      Some(duckTopicClusters)),

    // ---- X35: topic assignment from a PERSISTED quantizer ---------------
    // The nightly shape: train once, persist the k-row centroid table,
    // classify batches against the store without retraining. Shares
    // q_x30's oracle VERBATIM — output equality is the proof.
    Q("q_x35_topic_assign_store",
      (s, d) => {
        import graft.operators.{Kmeans, Similarity}
        val vecs = TextAnalysis.hashedTfVectors(
          Tables.documents(s, d), "text", "doc_id", dims = 16)
        val dir = TempDirs.scratch("graft_cents_")
        Kmeans.writeCentroids(
          Kmeans.train(vecs, k = 8, iters = 2, "doc_id", "vec"), dir)
        Similarity.assignToCentroids(vecs, Kmeans.readCentroids(s, dir),
            "doc_id", "vec")
          .select(col("vec_id").as("doc_id"), col("centroid_id"))
      },
      Some(duckTopicClusters)),

    // ---- X36: content-defined chunking (rolling-hash boundaries) --------
    // Boundary after token i iff md5 of the 4-gram ending at i ≡ 0 mod
    // 16 — insertion-robust chunking for chunk-level dedup (the
    // LBFS/rsync rule; spanDedup's fixed windows shift on insertion).
    Q("q_x36_cdc_chunks",
      (s, d) => TextAnalysis.cdcChunks(Tables.documents(s, d), "text", "doc_id",
        k = 4, divisor = 16),
      Some(s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
              |g AS (SELECT doc_id, toks, len(toks) AS n,
              |    list_transform(range(1, len(toks) - 4 + 2),
              |      j -> array_to_string(toks[j:j+3], ' ')) AS grams
              |  FROM t WHERE len(toks) > 0),
              |c AS (SELECT doc_id, toks,
              |    [0] || list_filter(list_transform(range(1, len(grams) + 1),
              |        j -> CASE WHEN CAST('0x' || substr(md5(grams[j]), 1, 8)
              |                        AS BIGINT) % 16 = 0
              |                  THEN j + 3 END),
              |      x -> x IS NOT NULL AND x < n) || [n] AS cuts
              |  FROM g),
              |ch AS (SELECT doc_id, ci - 1 AS c,
              |    array_to_string(toks[cuts[ci]+1 : cuts[ci+1]], ' ') AS chunk
              |  FROM (SELECT doc_id, toks, cuts,
              |          unnest(range(1, len(cuts))) AS ci FROM c))
              |SELECT doc_id, c, chunk, md5(chunk) AS chunk_hash FROM ch""".stripMargin)),

    Q("q_x7_train_split",
      (s, d) => {
        import graft.operators.Sampling
        Tables.documents(s, d).select(col("doc_id"),
          Sampling.hashBucket(col("doc_id"), "exp1").as("bucket"),
          Sampling.splitLabel(col("doc_id"), "exp1", 90, 5).as("split"),
          (Sampling.hashBucket(col("doc_id"), "sample") < 10).as("in_10pct"))
      },
      Some("""SELECT doc_id,
             |  CAST('0x' || substr(md5('exp1|' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS bucket,
             |  CASE WHEN CAST('0x' || substr(md5('exp1|' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 90 THEN 'train'
             |       WHEN CAST('0x' || substr(md5('exp1|' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 95 THEN 'val'
             |       ELSE 'test' END AS split,
             |  CAST('0x' || substr(md5('sample|' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 10 AS in_10pct
             |FROM documents""".stripMargin)),

    // ---- P9: array-function surface over token arrays -------------------
    Q("q_p9_array_funcs",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          array_join(slice(array_sort(array_distinct(col("toks"))), 1, 3), ",")
            .as("first3_sorted"),
          array_contains(col("toks"), "the").as("has_the"),
          element_at(col("toks"), 1).as("first_tok"),
          element_at(col("toks"), -1).as("last_tok"),
          size(array_remove(col("toks"), "the")).as("n_sans_the")),
      Some(s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents)
              |SELECT doc_id,
              |  array_to_string(list_sort(list_distinct(toks))[1:3], ',') AS first3_sorted,
              |  list_contains(toks, 'the') AS has_the,
              |  toks[1] AS first_tok,
              |  toks[-1] AS last_tok,
              |  len(list_filter(toks, x -> x <> 'the')) AS n_sans_the
              |FROM t""".stripMargin)),

    // ---- X10: Gopher-style repetition signals ---------------------------
    // The oracle mirrors the two-agg top-gram tie-break with a window (the
    // oracle need not be scale-shaped, only value-identical).
    Q("q_x10_repetition",
      (s, d) => TextAnalysis.repetitionMetrics(Tables.documents(s, d), "text", "doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, length(text) AS n_chars, $duckToks AS toks FROM documents),
              |tok AS (SELECT doc_id, n_chars, len(toks) AS n_tokens,
              |  len(list_distinct(toks)) AS n_distinct FROM t),
              |g2 AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM (
              |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
              |    i -> toks[i] || ' ' || toks[i+1])) AS gram FROM t) GROUP BY 1, 2),
              |top2 AS (SELECT doc_id, gram AS top_2gram, cnt AS top_2gram_cnt FROM (
              |  SELECT *, row_number() OVER (
              |    PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rn FROM g2) WHERE rn = 1),
              |g3 AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM (
              |  SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
              |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gram
              |  FROM t WHERE len(toks) >= 3) GROUP BY 1, 2),
              |dup3 AS (SELECT doc_id, SUM((cnt - 1) * length(gram)) AS dup3_chars
              |  FROM g3 WHERE cnt > 1 GROUP BY 1)
              |SELECT tok.doc_id, n_tokens,
              |  ROUND(CAST(n_tokens - n_distinct AS DOUBLE) / n_tokens, 6) AS dup_token_frac,
              |  top_2gram,
              |  ROUND(CAST(top_2gram_cnt * length(top_2gram) AS DOUBLE) / n_chars, 6) AS top_2gram_frac,
              |  COALESCE(ROUND(CAST(dup3_chars AS DOUBLE) / n_chars, 6), 0.0) AS dup_3gram_frac
              |FROM tok
              |LEFT JOIN top2 ON top2.doc_id = tok.doc_id
              |LEFT JOIN dup3 ON dup3.doc_id = tok.doc_id""".stripMargin)),

    // ---- X11: within-document token dedup (keep first occurrences) ------
    Q("q_x11_within_doc_dedup",
      (s, d) => TextAnalysis.dedupTokensKeepFirst(Tables.documents(s, d), "text", "doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
              |px AS (SELECT doc_id, unnest(toks) AS tok,
              |  unnest(range(1, len(toks) + 1)) AS pos FROM t),
              |f AS (SELECT doc_id, tok, min(pos) AS p, COUNT(*) AS c
              |  FROM px GROUP BY 1, 2)
              |SELECT doc_id,
              |  string_agg(tok, ' ' ORDER BY p) AS dedup_text,
              |  CAST(SUM(c) AS BIGINT) AS n_tokens,
              |  COUNT(*) AS n_kept
              |FROM f GROUP BY doc_id""".stripMargin)),

    // ---- X12: run-length squeeze (collapse consecutive repeats) ---------
    Q("q_x12_squeeze_runs",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          concat_ws(" ", TextAnalysis.squeezeRuns(col("toks"))).as("squeezed"),
          size(col("toks")).as("n_tokens"),
          size(TextAnalysis.squeezeRuns(col("toks"))).as("n_runs")),
      Some(s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents)
              |SELECT doc_id,
              |  array_to_string(list_filter(toks, (x, i) -> i = 1 OR x <> toks[i-1]), ' ') AS squeezed,
              |  len(toks) AS n_tokens,
              |  len(list_filter(toks, (x, i) -> i = 1 OR x <> toks[i-1])) AS n_runs
              |FROM t""".stripMargin)),

    // ---- X13: per-document TF-IDF top terms -----------------------------
    Q("q_x13_tfidf",
      (s, d) => TextAnalysis.tfidfTopTerms(Tables.documents(s, d), "text", "doc_id", 3),
      Some(s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
              |px AS (SELECT doc_id, unnest(toks) AS term FROM t),
              |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM px GROUP BY 1, 2),
              |dfr AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
              |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
              |sc AS (
              |  SELECT tf.doc_id, tf.term, tf.tf, dfr.df,
              |         ROUND(tf.tf * ln((CAST(nd.n_docs AS DOUBLE) + 1) / (dfr.df + 1)), 6) AS tfidf
              |  FROM tf JOIN dfr ON dfr.term = tf.term CROSS JOIN nd)
              |SELECT doc_id, term, tf, df, tfidf, rnk FROM (
              |  SELECT *, row_number() OVER (
              |    PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
              |  FROM sc)
              |WHERE rnk <= 3""".stripMargin)),

    // ---- X16: model-based quality score (logistic inference) ------------
    Q("q_x16_quality_score",
      (s, d) => TextAnalysis.qualityScore(Tables.documents(s, d), "text", "doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
              |f AS (SELECT doc_id,
              |  len(toks) AS n_tokens,
              |  ROUND(CAST(length(list_aggregate(toks, 'string_agg', '')) AS DOUBLE) / len(toks), 4) AS avg_token_len,
              |  ROUND(CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','is','to','in'], x))) AS DOUBLE) / len(toks), 4) AS stopword_ratio,
              |  ROUND(CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS dup_token_frac
              |  FROM t),
              |z AS (SELECT *,
              |  -2.0 + ln(CAST(n_tokens AS DOUBLE)) * 0.55 + avg_token_len * 0.12
              |    + stopword_ratio * 4.0 - dup_token_frac * 1.5 AS zv
              |  FROM f)
              |SELECT doc_id, n_tokens, avg_token_len, stopword_ratio, dup_token_frac,
              |  ROUND(1.0 / (1.0 + exp(-zv)), 6) AS quality_score,
              |  ROUND(1.0 / (1.0 + exp(-zv)), 6) >= 0.5 AS keep
              |FROM z""".stripMargin)),

    // ---- X15: compressibility quality signal (rows-only: zlib output is
    // engine-specific, like the q_hll/q_a8 sketches) ----------------------
    Q("q_x15_compress_ratio",
      (s, d) => TextAnalysis.compressionRatio(Tables.documents(s, d), "text", "doc_id"),
      None),

    // ---- X55: q_x15's DEFLATE invariants, under the FULL oracle ---------
    // zlib byte-lengths stay engine-specific (q_x15 is rows-only by
    // design); what CAN go under rows+schema+hash are the invariants any
    // correct DEFLATE stream satisfies, verified in-row per document:
    //   compress_pos      — a finished stream is never empty;
    //   bounded_overhead  — stored-block fallback caps expansion at
    //                       n + n/1000 + 64 (the documented zlib bound);
    //   doubling_saves    — text||text back-references the first copy
    //                       inside the 32 KB window, so it compresses to
    //                       ≤ 2·deflate(text) + slack; asserted only when
    //                       the doc fits the window (≤ 16 KB), trivially
    //                       true above it where the window can't reach.
    // Only exact byte counts + verdicts leave the engine — the row goes
    // red exactly when the codec's contract breaks. Map-only: two
    // codegen'd deflate_len calls per row inside the scan stage.
    Q("q_x55_compress_verdicts",
      (s, d) => {
        Tables.documents(s, d)
          .select(col("doc_id"), coalesce(col("text"), lit("")).as("__t"))
          .select(col("doc_id"),
            octet_length(col("__t")).cast("long").as("n_bytes"),
            column(DeflateLen(expression(col("__t")))).cast("long").as("__dl"),
            column(DeflateLen(expression(concat(col("__t"), col("__t")))))
              .cast("long").as("__dl2"))
          .select(col("doc_id"), col("n_bytes"),
            (col("__dl") > 0).as("compress_pos"),
            (col("__dl") <= col("n_bytes") + col("n_bytes") / lit(1000L) +
              lit(64L)).as("bounded_overhead"),
            (col("n_bytes") > 16384L ||
              col("__dl2") <= col("__dl") * lit(2L) + lit(64L))
              .as("doubling_saves"))
      },
      Some("""SELECT doc_id,
             |  CAST(octet_length(encode(COALESCE(text, ''))) AS BIGINT)
             |    AS n_bytes,
             |  TRUE AS compress_pos, TRUE AS bounded_overhead,
             |  TRUE AS doubling_saves
             |FROM documents""".stripMargin)),

    // ---- X4: document fingerprint (min-hash over shingle set) ----------
    Q("q_x4_fingerprint",
      // the length guard is on toks, BEFORE shingling: a filter on the
      // shingle array would be pushed below the projection and inline the
      // whole shingle expression into the predicate (O(L²) re-splits)
      (s, d) => graft.operators.Par.spread(Tables.documents(s, d)
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
          .filter(size(col("toks")) >= 3))
        .select(col("doc_id"), TextAnalysis.shingles(col("toks")).as("sh"))
        .select(col("doc_id"),
          TextAnalysis.fingerprint(col("sh")).as("fp"),
          size(array_distinct(col("sh"))).as("n_distinct_shingles")),
      Some(s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
              |sh AS (SELECT doc_id,
              |  list_transform(range(1, len(toks) - 1),
              |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS shingles
              |  FROM t WHERE len(toks) >= 3),
              |ex AS (SELECT doc_id, unnest(shingles) AS sh FROM sh)
              |SELECT doc_id, min(md5(sh)) AS fp,
              |  count(DISTINCT sh) AS n_distinct_shingles
              |FROM ex GROUP BY doc_id""".stripMargin)),

    // ---- X17: PII redaction (emails / URLs / IPs / phones) -------------
    // The corpus carries no organic PII, so the query INJECTS a
    // deterministic sample of every kind — derived purely from parquet
    // columns, replayed identically by the oracle — then redacts and
    // audits it. The redaction chain itself is the operator under test;
    // on a real crawl it runs directly on `text`.
    Q("q_x17_pii_redact",
      (s, d) => {
        val pii = concat(col("text"),
          lit(" contact "), col("source"), lit("@example.com via https://"),
          col("source"), lit(".example.com/d/"), col("doc_id"),
          lit(" from 192.168."), col("doc_id") % 256, lit("."), col("doc_id") % 100,
          lit(" call 555-123-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
        val counts = TextAnalysis.piiCounts(pii).map { case (n, c) => c.as(n) }
        Tables.documents(s, d).select(
          col("doc_id") +: TextAnalysis.redactPii(pii).as("text_clean") +: counts: _*)
      },
      Some("""WITH pii AS (SELECT doc_id,
             |    text || ' contact ' || source || '@example.com via https://' ||
             |    source || '.example.com/d/' || doc_id ||
             |    ' from 192.168.' || (doc_id % 256) || '.' || (doc_id % 100) ||
             |    ' call 555-123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
             |  FROM documents)
             |SELECT doc_id,
             |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
             |    'https?://[^\s]+', '<URL>', 'g'),
             |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
             |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
             |    '\b\+?[0-9]{3}[- .][0-9]{3,4}[- .][0-9]{4}\b', '<PHONE>', 'g') AS text_clean,
             |  len(regexp_extract_all(t, 'https?://[^\s]+')) AS n_urls,
             |  len(regexp_extract_all(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_emails,
             |  len(regexp_extract_all(t, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ips,
             |  len(regexp_extract_all(t, '\b\+?[0-9]{3}[- .][0-9]{3,4}[- .][0-9]{4}\b')) AS n_phones
             |FROM pii""".stripMargin)),

    // ---- X18: Unicode NFC normalization (native kernel) ----------------
    // The corpus is ASCII, so the query appends engine-independently
    // constructed non-ASCII (combining accents + a precomposed char) and
    // normalizes; DuckDB's nfc_normalize cross-checks the kernel. NFKC
    // (the dedup-key form) has no DuckDB twin — spec-covered instead.
    Q("q_x18_unicode_nfc",
      (s, d) => {
        // explicit escapes (DECOMPOSED e+U+0301 / A+U+0300, precomposed
        // U+00E9) keep the source ASCII-stable: a raw combining-mark
        // literal would silently change if any tool NFC-normalized this
        // file. Byte-identical to the oracle's chr() build.
        val raw = concat(col("text"), lit(" e\u0301 A\u0300 x\u00e9"))
        Tables.documents(s, d).select(
          col("doc_id"),
          TextAnalysis.normalizeUnicode(raw, "NFC").as("text_nfc"),
          length(raw).as("n_raw"),
          length(TextAnalysis.normalizeUnicode(raw, "NFC")).as("n_nfc"))
      },
      Some("""WITH r AS (SELECT doc_id,
             |    text || ' e' || chr(769) || ' A' || chr(768) || ' x' || chr(233) AS raw
             |  FROM documents)
             |SELECT doc_id, nfc_normalize(raw) AS text_nfc,
             |  length(raw) AS n_raw, length(nfc_normalize(raw)) AS n_nfc
             |FROM r""".stripMargin)),

    // ---- X48: blocklist gate (the word-list filter) ---------------------
    // The NSFW/toxicity/spam list pass every curation stack runs —
    // here with a stand-in list of common tokens so the sf corpus
    // exercises both verdicts; the mechanism (lowercased token hits,
    // strict-ratio flag, token-less docs keep) is what the oracle pins.
    Q("q_x48_blocklist",
      (s, d) => TextAnalysis.blocklistFilter(Tables.documents(s, d),
        Seq("the", "and", "of"), maxRatio = 0.05),
      Some("""WITH t AS (SELECT doc_id,
             |  list_filter(regexp_split_to_array(lower(text), '\s+'),
             |    x -> x <> '') AS toks
             |  FROM documents),
             |m AS (SELECT doc_id,
             |  CAST(len(toks) AS BIGINT) AS n_tokens,
             |  CAST(len(list_filter(toks,
             |    x -> list_contains(['the','and','of'], x))) AS BIGINT)
             |    AS n_blocked
             |  FROM t)
             |SELECT doc_id, n_tokens, n_blocked,
             |  CASE WHEN n_tokens > 0
             |    THEN ROUND(CAST(n_blocked AS DOUBLE) / n_tokens, 6)
             |    ELSE 0.0 END AS blocked_ratio,
             |  (CASE WHEN n_tokens > 0
             |    THEN ROUND(CAST(n_blocked AS DOUBLE) / n_tokens, 6)
             |    ELSE 0.0 END) <= 0.05 AS keep
             |FROM m""".stripMargin)),

    // ---- X49: encoding-artifact (mojibake) detection --------------------
    // Deterministic artifact injection (the q_x17 synthesis pattern):
    // every 7th doc gains four double-decoded UTF-8 sequences, every
    // 11th a U+FFFD replacement char, so the detector has real positives
    // under the oracle. Literal-alternation regexes — Java and RE2
    // agree by construction.
    Q("q_x49_mojibake",
      (s, d) => {
        val noisy = concat(col("text"),
          when(col("doc_id") % 7 === 0, lit(" cafÃ© â€” nÃ±o Â oui"))
            .otherwise(lit("")),
          when(col("doc_id") % 11 === 0, lit(" bad�decode"))
            .otherwise(lit("")))
        TextAnalysis.mojibakeFlags(
          Tables.documents(s, d).select(col("doc_id"), noisy.as("text")),
          "text", "doc_id")
      },
      Some("""WITH noisy AS (SELECT doc_id,
             |    text ||
             |    CASE WHEN doc_id % 7 = 0
             |      THEN ' cafÃ© â€” nÃ±o Â oui' ELSE '' END ||
             |    CASE WHEN doc_id % 11 = 0
             |      THEN ' bad' || chr(65533) || 'decode' ELSE '' END AS t
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(COALESCE(len(regexp_extract_all(t,
             |    'Ã©|Ã¨|Ã¡|Ã¤|Ã¶|Ã¼|Ã±|â€™|â€œ|â€“|â€”|Â ')), 0) AS BIGINT)
             |    AS n_artifacts,
             |  CAST(COALESCE(len(regexp_extract_all(t, chr(65533))), 0) AS BIGINT)
             |    AS n_replacement,
             |  (CAST(COALESCE(len(regexp_extract_all(t,
             |    'Ã©|Ã¨|Ã¡|Ã¤|Ã¶|Ã¼|Ã±|â€™|â€œ|â€“|â€”|Â ')), 0) AS BIGINT) > 0
             |   OR CAST(COALESCE(len(regexp_extract_all(t, chr(65533))), 0)
             |     AS BIGINT) > 0) AS mojibake
             |FROM noisy""".stripMargin)),

    // ---- X50: corpus datasheet card -------------------------------------
    // The one-row dataset card: doc/token counts, token distribution,
    // empty docs, exact-dup rate — one aggregation pass.
    Q("q_x50_corpus_card",
      (s, d) => TextAnalysis.corpusCard(Tables.documents(s, d), "text"),
      Some("""WITH t AS (SELECT doc_id, md5(text) AS h,
             |    -- nt coalesced AT THE SOURCE (mirrors corpusCard): a
             |    -- null-text doc is 0 tokens in EVERY stat, median included
             |    COALESCE(len(list_filter(regexp_split_to_array(text, '\s+'),
             |      x -> x <> '')), 0) AS nt
             |  FROM documents)
             |SELECT COUNT(*) AS n_docs,
             |  CAST(SUM(nt) AS BIGINT) AS n_tokens,
             |  ROUND(CAST(SUM(nt) AS DOUBLE) / COUNT(*), 6)
             |    AS avg_tokens,
             |  ROUND(quantile_cont(nt, 0.5), 4) AS p50_tokens,
             |  CAST(SUM(CASE WHEN nt = 0 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_empty,
             |  ROUND(CAST(COUNT(h) - COUNT(DISTINCT h) AS DOUBLE)
             |    / COUNT(*), 6) AS dup_rate
             |FROM t""".stripMargin)),

    // ---- X51: Gopher quality rules (published hard-threshold gate) ------
    // Rae et al. 2021 App. A1.1 — word-count bounds, mean-word-length
    // band, symbol ratio, bullet/ellipsis line ratios, alphabetic-word
    // ratio, >=2 distinct stop words. Map-only; every ratio one rounded
    // division.
    Q("q_x51_gopher_rules",
      (s, d) => TextAnalysis.gopherRules(Tables.documents(s, d), "text", "doc_id"),
      Some("""WITH t AS (SELECT doc_id, COALESCE(text, '') AS tx,
             |    list_filter(regexp_split_to_array(COALESCE(text, ''), '\s+'),
             |      x -> x <> '') AS toks,
             |    list_filter(regexp_split_to_array(lower(COALESCE(text, '')), '\s+'),
             |      x -> x <> '') AS ltoks,
             |    string_split(COALESCE(text, ''), chr(10)) AS lines
             |  FROM documents),
             |m AS (SELECT doc_id,
             |    len(toks) AS n, len(lines) AS nl,
             |    length(array_to_string(toks, '')) AS chars,
             |    CAST((length(tx) - length(replace(tx, '#', ''))) AS BIGINT)
             |      + CAST((length(tx) - length(replace(tx, '…', ''))) AS BIGINT)
             |      + CAST((length(tx) - length(replace(tx, '...', ''))) / 3
             |          AS BIGINT) AS nsym,
             |    len(list_filter(lines, l -> starts_with(l, '- ')
             |      OR starts_with(l, '• ') OR starts_with(l, '* '))) AS nbullet,
             |    len(list_filter(lines, l -> ends_with(l, '...')
             |      OR ends_with(l, '…'))) AS nell,
             |    len(list_filter(ltoks,
             |      w -> regexp_matches(w, '[a-z]'))) AS nalpha,
             |    len(list_filter(['the','be','to','of','and','that','have','with'],
             |      sw -> list_contains(ltoks, sw))) AS shits
             |  FROM t)
             |SELECT doc_id, CAST(n AS BIGINT) AS n_words,
             |  CASE WHEN n > 0
             |    THEN ROUND(CAST(chars AS DOUBLE) / n, 4) END AS mean_word_len,
             |  CASE WHEN n > 0
             |    THEN ROUND(CAST(nsym AS DOUBLE) / n, 4) END AS symbol_ratio,
             |  CASE WHEN nl > 0
             |    THEN ROUND(CAST(nbullet AS DOUBLE) / nl, 4) END AS bullet_ratio,
             |  CASE WHEN nl > 0
             |    THEN ROUND(CAST(nell AS DOUBLE) / nl, 4) END AS ellipsis_ratio,
             |  CASE WHEN n > 0
             |    THEN ROUND(CAST(nalpha AS DOUBLE) / n, 4) END AS alpha_ratio,
             |  CAST(shits AS BIGINT) AS stop_hits,
             |  (n >= 50 AND n <= 100000
             |   AND (CASE WHEN n > 0
             |     THEN ROUND(CAST(chars AS DOUBLE) / n, 4) END) >= 3.0
             |   AND (CASE WHEN n > 0
             |     THEN ROUND(CAST(chars AS DOUBLE) / n, 4) END) <= 10.0
             |   AND (CASE WHEN n > 0
             |     THEN ROUND(CAST(nsym AS DOUBLE) / n, 4) END) <= 0.1
             |   AND (CASE WHEN nl > 0
             |     THEN ROUND(CAST(nbullet AS DOUBLE) / nl, 4) END) <= 0.9
             |   AND (CASE WHEN nl > 0
             |     THEN ROUND(CAST(nell AS DOUBLE) / nl, 4) END) <= 0.3
             |   AND (CASE WHEN n > 0
             |     THEN ROUND(CAST(nalpha AS DOUBLE) / n, 4) END) >= 0.8
             |   AND shits >= 2) AS keep
             |FROM m""".stripMargin)),

    // ---- X56: C4 cleaning rules (Raffel et al. 2020 §2.2) ---------------
    // The line-granular published gate next to Gopher's page-granular
    // one. The synthetic corpus has no line structure or punctuation, so
    // the query builds a deterministic page per doc (the q_x49 injection
    // pattern) exercising every rule: terminal-punctuation keep, <5-word
    // drop, javascript-line drop, lorem-ipsum page drop, curly-brace
    // page drop, <3-sentence page drop — replayed verbatim by the
    // oracle, structure and all.
    Q("q_x56_c4_rules",
      (s, d) => {
        val t0 = coalesce(col("text"), lit(""))
        val page = concat(concat_ws("\n",
          concat(substring(t0, 1, 60), lit(".")),
          concat(substring(t0, 61, 60),
            when(col("doc_id") % 3 === 0, lit(" etc.")).otherwise(lit(""))),
          concat(substring(t0, 121, 60),
            when(col("doc_id") % 2 === 0, lit(" done!"))
              .otherwise(lit(" trailing"))),
          lit("too short."),
          when(col("doc_id") % 7 === 0,
            lit("Please enable JavaScript and cookies to continue browsing."))
            .otherwise(
              lit("A perfectly ordinary closing sentence appears right here."))),
          when(col("doc_id") % 11 === 0, lit("\nlorem ipsum dolor sit amet."))
            .otherwise(lit("")),
          when(col("doc_id") % 13 === 0, lit("\nfunction f() { return 1; }"))
            .otherwise(lit("")))
        TextAnalysis.c4Rules(
          Tables.documents(s, d).select(col("doc_id"), page.as("text")),
          "text", "doc_id")
      },
      Some("""WITH base AS (
             |  SELECT doc_id, COALESCE(text, '') AS t FROM documents),
             |pg AS (SELECT doc_id,
             |    substr(t, 1, 60) || '.' || chr(10) ||
             |    substr(t, 61, 60) ||
             |      CASE WHEN doc_id % 3 = 0 THEN ' etc.' ELSE '' END ||
             |      chr(10) ||
             |    substr(t, 121, 60) ||
             |      CASE WHEN doc_id % 2 = 0 THEN ' done!'
             |        ELSE ' trailing' END || chr(10) ||
             |    'too short.' || chr(10) ||
             |    CASE WHEN doc_id % 7 = 0
             |      THEN 'Please enable JavaScript and cookies to continue browsing.'
             |      ELSE 'A perfectly ordinary closing sentence appears right here.'
             |      END ||
             |    CASE WHEN doc_id % 11 = 0
             |      THEN chr(10) || 'lorem ipsum dolor sit amet.' ELSE '' END ||
             |    CASE WHEN doc_id % 13 = 0
             |      THEN chr(10) || 'function f() { return 1; }' ELSE '' END AS p
             |  FROM base),
             |k AS (SELECT doc_id, p,
             |    len(regexp_split_to_array(p, chr(10))) AS n_lines,
             |    list_filter(regexp_split_to_array(p, chr(10)), l ->
             |      len(list_filter(regexp_split_to_array(l, '\s+'),
             |        x -> x <> '')) >= 5
             |      AND right(rtrim(l), 1) IN ('.', '!', '?', '"')
             |      AND NOT contains(lower(l), 'javascript')) AS kept
             |  FROM pg),
             |c AS (SELECT doc_id, p, n_lines, len(kept) AS n_kept,
             |    COALESCE(array_to_string(kept, chr(10)), '') AS clean_text
             |  FROM k)
             |SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
             |  CAST(n_kept AS BIGINT) AS n_kept,
             |  CAST(length(clean_text) -
             |    length(regexp_replace(clean_text, '[.!?]', '', 'g'))
             |    AS BIGINT) AS n_sentences,
             |  clean_text,
             |  (CAST(length(clean_text) -
             |      length(regexp_replace(clean_text, '[.!?]', '', 'g'))
             |      AS BIGINT) >= 3
             |    AND NOT contains(lower(p), 'lorem ipsum')
             |    AND NOT contains(p, '{')) AS keep
             |FROM c""".stripMargin)),

    // ---- X52: stupid-backoff trigram scoring (two-corpus shape) ---------
    // Train counts on the even docs, score the odd docs — unseen
    // trigrams genuinely back off (self-scoring never leaves the first
    // branch). Exact counts, 6-dp ln, DECIMAL sums; thresholds split
    // the sf0.01 corpus into all three buckets.
    Q("q_x52_stupid_backoff",
      (s, d) => {
        val docs = Tables.documents(s, d)
        TextAnalysis.stupidBackoff(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 =!= 0),
          "text", "doc_id", headS = 35.0, tailS = 50.0)
      },
      duckStupidBackoff),

    // ---- X53: stupid backoff from the PERSISTED count store -------------
    // The nightly-production twin of q_x52 (the q_d13/q_x41 store
    // discipline): counts land once, the batch scores against the
    // parquet store — reference corpus never rescanned. Shares q_x52's
    // oracle VERBATIM: output equality is the proof.
    Q("q_x53_backoff_store",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val dir = TempDirs.scratch("graft_sbo_")
        TextAnalysis.writeBackoffCounts(
          docs.filter(col("doc_id") % 2 === 0), "text", dir)
        TextAnalysis.stupidBackoffFromStore(
          docs.filter(col("doc_id") % 2 =!= 0), dir,
          "text", "doc_id", headS = 35.0, tailS = 50.0)
      },
      duckStupidBackoff),

    // ---- X46: model-based quality filtering (linear inference) ----------
    // fastText-style gate, scored engine-exactly: closed-form integer
    // MILLI-weights over the 16-bucket hashed-TF relation, one keyed
    // integer sum, every doc verdicted (token-less docs score the bare
    // bias). The oracle replays the md5 bucket hash, the weight formula,
    // and the exact integer dot.
    Q("q_x46_quality_classifier",
      (s, d) => {
        import s.implicits._
        val weights = (0 until 16)
          .map(b => (b, ((b * 37 % 21) - 10).toLong)).toDF("bucket", "wm")
        TextAnalysis.linearQualityScore(Tables.documents(s, d), weights,
          biasM = 250L, dims = 16, thresholdM = 0L)
      },
      Some("""WITH t AS (SELECT doc_id,
             |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
             |  FROM documents),
             |tnz AS (SELECT doc_id, toks FROM t WHERE len(toks) > 0),
             |htf AS (SELECT doc_id,
             |    CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % 16 AS b,
             |    COUNT(*) AS tf
             |  FROM (SELECT doc_id, unnest(toks) AS tok FROM tnz) GROUP BY 1, 2),
             |sc AS (SELECT doc_id,
             |    CAST(SUM(tf * ((b * 37 % 21) - 10)) AS BIGINT) AS s
             |  FROM htf GROUP BY 1)
             |SELECT d.doc_id,
             |  CAST(COALESCE(sc.s, 0) + 250 AS BIGINT) AS score_m,
             |  (COALESCE(sc.s, 0) + 250) >= 0 AS accept
             |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin)),

    // ---- X69: classifier training closed in-engine (train -> score) -----
    // The fastText-style loop q_x46 was missing the first half of:
    // 3 batch-perceptron rounds over the 16-bucket hashed-TF relation in
    // exact integer weight units, labeled seed = the doc_id % 3 slice
    // with label `token count >= 40`, then the trained weights score the
    // WHOLE corpus through the same linearQualityScore gate — ONE oracle
    // hash over the chain. The oracle unrolls all 3 rounds as CTEs
    // (round 1 collapses to w = -sum of negative-label tf because
    // weights start at zero — pinned in both engines).
    Q("q_x69_train_classifier",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val labeled = docs.filter(col("doc_id") % 3 === 0)
          .withColumn("label",
            size(TextAnalysis.tokens(lower(col("text")))) >= 40)
        val w = TextAnalysis.trainLinearQuality(labeled, "label",
          dims = 16, rounds = 3)
        TextAnalysis.linearQualityScore(docs, w, biasM = 0L, dims = 16,
          thresholdM = 0L)
      },
      Some("""WITH t AS (SELECT doc_id,
             |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
             |  FROM documents),
             |tnz AS (SELECT doc_id, toks FROM t WHERE len(toks) > 0),
             |htf AS (SELECT doc_id,
             |    CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % 16 AS b,
             |    COUNT(*) AS tf
             |  FROM (SELECT doc_id, unnest(toks) AS tok FROM tnz) GROUP BY 1, 2),
             |lab AS (SELECT doc_id,
             |    CASE WHEN len(toks) >= 40 THEN 1 ELSE -1 END AS y
             |  FROM tnz WHERE doc_id % 3 = 0),
             |tfl AS (SELECT h.doc_id, l.y, h.b, h.tf
             |  FROM htf h JOIN lab l USING (doc_id)),
             |w1 AS (SELECT b, SUM(y * tf) AS wm FROM tfl WHERE y = -1 GROUP BY 1),
             |m2 AS (SELECT f.doc_id, f.y, SUM(f.tf * COALESCE(w.wm, 0)) AS m
             |  FROM tfl f LEFT JOIN w1 w ON w.b = f.b GROUP BY 1, 2),
             |u2 AS (SELECT f.b, SUM(f.y * f.tf) AS u FROM tfl f
             |  JOIN m2 ON m2.doc_id = f.doc_id
             |  WHERE (m2.m >= 0) <> (m2.y > 0) GROUP BY 1),
             |w2 AS (SELECT COALESCE(a.b, u.b) AS b,
             |    COALESCE(a.wm, 0) + COALESCE(u.u, 0) AS wm
             |  FROM w1 a FULL OUTER JOIN u2 u ON a.b = u.b),
             |m3 AS (SELECT f.doc_id, f.y, SUM(f.tf * COALESCE(w.wm, 0)) AS m
             |  FROM tfl f LEFT JOIN w2 w ON w.b = f.b GROUP BY 1, 2),
             |u3 AS (SELECT f.b, SUM(f.y * f.tf) AS u FROM tfl f
             |  JOIN m3 ON m3.doc_id = f.doc_id
             |  WHERE (m3.m >= 0) <> (m3.y > 0) GROUP BY 1),
             |w3 AS (SELECT COALESCE(a.b, u.b) AS b,
             |    COALESCE(a.wm, 0) + COALESCE(u.u, 0) AS wm
             |  FROM w2 a FULL OUTER JOIN u3 u ON a.b = u.b),
             |sc AS (SELECT h.doc_id,
             |    CAST(SUM(h.tf * COALESCE(w.wm, 0)) AS BIGINT) AS s
             |  FROM htf h LEFT JOIN w3 w ON w.b = h.b GROUP BY 1)
             |SELECT d.doc_id,
             |  CAST(COALESCE(sc.s, 0) AS BIGINT) AS score_m,
             |  COALESCE(sc.s, 0) >= 0 AS accept
             |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin)),

    // ---- X72: multi-class language-ID training (train -> classify) ------
    // The q_x69 discipline applied to LID: three synthetic "languages"
    // derived engine-independently from documents (l0 = lowered text,
    // l1 = vowels->digits, l2 = reversed — maximally distinct char-gram
    // distributions), the doc_id % 4 < 2 slice labeled as seed, a
    // 2-round one-vs-rest perceptron over 64-bucket hashed char 2-3
    // grams, then the trained weights classify EVERY doc — ONE oracle
    // hash over the whole chain, unrolling both rounds as CTEs and the
    // argmax as a doc-partitioned rank (ties by class name).
    Q("q_x72_train_langid",
      (s, d) => trainedLangId(s, d),
      Some(s"""$duckLangIdChain
             |SELECT v.doc_id, b.lang, b.margin_m
             |FROM v LEFT JOIN best b USING (doc_id)""".stripMargin)),

    // ---- V30: margin-reliability grading of the trained LID -------------
    // The q_x72 chain's argmax margins graded by binaryEval: label =
    // "the prediction was right" (vs the planted language), score = the
    // winning raw margin — AUC answers the confidence-thresholding
    // question (can a margin cut separate right from wrong
    // predictions?). ONE oracle replays the whole fit AND the rank-sum
    // / threshold-sweep arithmetic — the q_v28 discipline on the
    // multi-class classifier.
    Q("q_v30_lid_margin_eval",
      (s, d) => {
        val pred = trainedLangId(s, d)
        val ev = pred
          .filter(col("lang").isNotNull)
          .select(lit("lid").as("model"),
            col("margin_m").as("score"),
            (col("lang") === concat(lit("l"),
              (col("doc_id") % 3).cast("string"))).as("label"))
        graft.operators.Profile.binaryEval(ev, "model", "score", "label",
          bucketWidth = 1L << 20)
      },
      Some(s"""$duckLangIdChain,
             |ev AS (SELECT b.margin_m AS score,
             |    CASE WHEN b.lang = 'l' || CAST(b.doc_id % 3 AS VARCHAR)
             |      THEN 1 ELSE 0 END AS yy
             |  FROM best b WHERE b.lang IS NOT NULL
             |    AND b.margin_m IS NOT NULL),
             |dist AS (SELECT score, CAST(SUM(yy) AS BIGINT) AS dp,
             |    CAST(SUM(1 - yy) AS BIGINT) AS dn,
             |    CAST(COUNT(*) AS BIGINT) AS dc
             |  FROM ev GROUP BY 1),
             |pre AS (SELECT score, dp, dn, dc,
             |    COALESCE(SUM(dp) OVER (ORDER BY score
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS plt,
             |    COALESCE(SUM(dn) OVER (ORDER BY score
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nlt,
             |    COALESCE(SUM(dc) OVER (ORDER BY score
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS clt
             |  FROM dist),
             |tot AS (SELECT CAST(SUM(dp) AS BIGINT) AS tp,
             |    CAST(SUM(dn) AS BIGINT) AS tn,
             |    CAST(SUM(dc) AS BIGINT) AS tc
             |  FROM dist),
             |ag AS (SELECT CAST(SUM(2 * dp * nlt + dp * dn) AS BIGINT) AS u2,
             |    CAST(SUM(CASE WHEN dp > 0 THEN
             |      (2 * CAST(dp AS HUGEINT) * (tot.tp - plt) * 1000000000
             |        + CAST(tot.tp AS HUGEINT) * (tot.tc - clt))
             |      // (2 * CAST(tot.tp AS HUGEINT) * (tot.tc - clt))
             |      ELSE 0 END) AS BIGINT) AS ap_ppb
             |  FROM pre, tot)
             |SELECT 'lid' AS model, tot.tc AS n, tot.tp AS n_pos,
             |  tot.tn AS n_neg, ag.u2,
             |  CAST(CASE WHEN tot.tp > 0 AND tot.tn > 0 THEN
             |    (2 * CAST(ag.u2 AS HUGEINT) * 1000000
             |      + 2 * CAST(tot.tp AS HUGEINT) * tot.tn)
             |    // (2 * 2 * CAST(tot.tp AS HUGEINT) * tot.tn) END
             |    AS BIGINT) AS auc_ppm,
             |  CAST(CASE WHEN tot.tp > 0 AND tot.tn > 0 THEN
             |    (2 * ag.ap_ppb + 1000) // 2000 END AS BIGINT) AS ap_ppm
             |FROM tot, ag""".stripMargin)),


    // ---- V33: calibrated LID abstention (q_v30's finding consumed) ------
    // q_v30 PROVED the trained LID's margins anti-correlate with
    // correctness (AUC 0.024 at sf0.01) — so the accept/abstain gate
    // on the same chain learns its DIRECTION from the labeled slice
    // (exact cross-multiplied mean compare) instead of assuming
    // higher-margin-is-better, and z-normalizes per class before the
    // threshold. ONE oracle replays the fit, the per-class stats, the
    // direction and every verdict.
    Q("q_v33_lid_abstain",
      (s, d) => {
        val scored = trainedLangId(s, d)
          .filter(col("lang").isNotNull && col("margin_m").isNotNull)
          .select(col("doc_id"), col("lang"), col("margin_m"),
            when(col("doc_id") % 4 < 2,
              col("lang") === concat(lit("l"),
                (col("doc_id") % 3).cast("string"))).as("correct"))
        graft.operators.Profile.calibratedAbstain(scored, "doc_id",
          "lang", "margin_m", "correct")
          // nullable-BOOLEAN cells sort differently through the driver
          // compare's stringified row order (None vs NaN) — ride the
          // nullable-INT convention instead
          .withColumn("correct", col("correct").cast("int"))
      },
      Some(s"""$duckLidAbstainChain
             |SELECT doc_id, lang, CAST(margin_m AS BIGINT) AS margin_m,
             |  CAST(lab AS INT) AS correct, CAST(ncl AS BIGINT) AS n_class,
             |  CAST(nlb AS BIGINT) AS n_labeled,
             |  CAST(ncr AS BIGINT) AS n_correct, dir AS direction,
             |  z AS z_micros,
             |  COALESCE(dir <> 0 AND dir * z >= 0, FALSE) AS accept
             |FROM czz""".stripMargin)),

    // ---- V34: risk-coverage curve over the calibrated LID gate ----------
    // The threshold-choice relation (Geifman & El-Yaniv selective
    // classification) composed on q_v33's own signal: score =
    // direction * z (the gate's oriented, cross-class-comparable
    // confidence), labeled rows only; at every distinct score, the
    // coverage of an accept-at-threshold rule and the error rate
    // inside the accepted slice. Rows the gate can never score
    // (direction 0 / no scale) are the always-abstain mass — excluded
    // here, counted by q_v33. ONE oracle replays the fit, the
    // abstention stats, and every prefix sum of the curve.
    Q("q_v34_risk_coverage",
      (s, d) => {
        val scored = trainedLangId(s, d)
          .filter(col("lang").isNotNull && col("margin_m").isNotNull)
          .select(col("doc_id"), col("lang"), col("margin_m"),
            when(col("doc_id") % 4 < 2,
              col("lang") === concat(lit("l"),
                (col("doc_id") % 3).cast("string"))).as("correct"))
        val gated = graft.operators.Profile.calibratedAbstain(scored,
            "doc_id", "lang", "margin_m", "correct")
          .filter(col("correct").isNotNull && col("direction") =!= 0 &&
            col("z_micros").isNotNull)
          .select(lit("lid").as("model"),
            (col("direction").cast("long") * col("z_micros")).as("score"),
            col("correct"))
        graft.operators.Profile.riskCoverage(gated, "model", "score",
          "correct", bucketWidth = 1L << 20)
      },
      Some(s"""$duckLidAbstainChain,
             |rcev AS (SELECT dir * z AS score,
             |    CASE WHEN lab THEN 0 ELSE 1 END AS e
             |  FROM czz
             |  WHERE lab IS NOT NULL AND dir <> 0 AND z IS NOT NULL),
             |rcd AS (SELECT score, CAST(SUM(e) AS BIGINT) AS de,
             |    CAST(COUNT(*) AS BIGINT) AS dc
             |  FROM rcev GROUP BY 1),
             |rcp AS (SELECT score, de, dc,
             |    COALESCE(SUM(de) OVER (ORDER BY score
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS elt,
             |    COALESCE(SUM(dc) OVER (ORDER BY score
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS clt
             |  FROM rcd),
             |rct AS (SELECT CAST(SUM(dc) AS BIGINT) AS n,
             |    CAST(SUM(de) AS BIGINT) AS etot FROM rcd)
             |SELECT 'lid' AS model, CAST(p.score AS BIGINT) AS score,
             |  rct.n,
             |  CAST(rct.n - p.clt AS BIGINT) AS n_accepted,
             |  CAST(rct.etot - p.elt AS BIGINT) AS n_errors,
             |  CAST((2 * (rct.n - p.clt) * 1000000 + rct.n)
             |    // (2 * rct.n) AS BIGINT) AS coverage_ppm,
             |  CAST((2 * (rct.etot - p.elt) * 1000000 + (rct.n - p.clt))
             |    // (2 * (rct.n - p.clt)) AS BIGINT) AS risk_ppm
             |FROM rcp p, rct""".stripMargin)),

    // ---- V32: confusion matrix + macro-F1 for the trained LID -----------
    // The standard per-class table over the q_x72 chain: pred = the
    // argmax language, gold = the planted one. The oracle replays the
    // full fit + the cell aggregation + both roll-up conventions
    // (micro = accuracy, macro = unweighted class means).
    Q("q_v32_lid_confusion",
      (s, d) => {
        val pred = trainedLangId(s, d).filter(col("lang").isNotNull)
          .select(col("lang").as("pred"),
            concat(lit("l"), (col("doc_id") % 3).cast("string"))
              .as("gold"))
        graft.operators.Profile.confusionStats(pred, "pred", "gold")
      },
      Some(s"""$duckLangIdChain,
             |pg AS (SELECT b.lang AS p,
             |    'l' || CAST(b.doc_id % 3 AS VARCHAR) AS g
             |  FROM best b WHERE b.lang IS NOT NULL),
             |cells AS (SELECT p, g, COUNT(*) AS n FROM pg GROUP BY 1, 2),
             |cls AS (SELECT DISTINCT class FROM (
             |  SELECT p AS class FROM cells
             |  UNION ALL SELECT g FROM cells)),
             |tpx AS (SELECT p AS class, n AS tp FROM cells WHERE p = g),
             |pt AS (SELECT p AS class, SUM(n) AS ptot FROM cells GROUP BY 1),
             |gt AS (SELECT g AS class, SUM(n) AS gtot FROM cells GROUP BY 1),
             |per AS (SELECT cls.class,
             |    CAST(COALESCE(tpx.tp, 0) AS BIGINT) AS tp,
             |    CAST(COALESCE(pt.ptot, 0) - COALESCE(tpx.tp, 0)
             |      AS BIGINT) AS fp,
             |    CAST(COALESCE(gt.gtot, 0) - COALESCE(tpx.tp, 0)
             |      AS BIGINT) AS fn
             |  FROM cls LEFT JOIN tpx USING (class)
             |  LEFT JOIN pt USING (class) LEFT JOIN gt USING (class)),
             |perm AS (SELECT class, tp, fp, fn,
             |    CAST(CASE WHEN tp + fp > 0 THEN
             |      (2 * tp * 1000000 + (tp + fp)) // (2 * (tp + fp)) END
             |      AS BIGINT) AS precision_ppm,
             |    CAST(CASE WHEN tp + fn > 0 THEN
             |      (2 * tp * 1000000 + (tp + fn)) // (2 * (tp + fn)) END
             |      AS BIGINT) AS recall_ppm,
             |    CAST(CASE WHEN 2 * tp + fp + fn > 0 THEN
             |      (2 * (2 * tp) * 1000000 + (2 * tp + fp + fn))
             |        // (2 * (2 * tp + fp + fn)) END AS BIGINT) AS f1_ppm
             |  FROM per),
             |allr AS (SELECT '<all>' AS class,
             |    CAST(SUM(tp) AS BIGINT) AS tp, CAST(SUM(fp) AS BIGINT) AS fp,
             |    CAST(SUM(fn) AS BIGINT) AS fn,
             |    CAST((2 * SUM(tp) * 1000000 + (SUM(tp) + SUM(fp)))
             |      // (2 * (SUM(tp) + SUM(fp))) AS BIGINT) AS precision_ppm,
             |    CAST((2 * SUM(tp) * 1000000 + (SUM(tp) + SUM(fn)))
             |      // (2 * (SUM(tp) + SUM(fn))) AS BIGINT) AS recall_ppm,
             |    CAST((2 * SUM(tp) * 1000000 + (SUM(tp) + SUM(fp)))
             |      // (2 * (SUM(tp) + SUM(fp))) AS BIGINT) AS f1_ppm
             |  FROM perm),
             |macror AS (SELECT '<macro>' AS class,
             |    CAST(SUM(tp) AS BIGINT) AS tp, CAST(SUM(fp) AS BIGINT) AS fp,
             |    CAST(SUM(fn) AS BIGINT) AS fn,
             |    CAST((2 * SUM(COALESCE(precision_ppm, 0)) + COUNT(*))
             |      // (2 * COUNT(*)) AS BIGINT) AS precision_ppm,
             |    CAST((2 * SUM(COALESCE(recall_ppm, 0)) + COUNT(*))
             |      // (2 * COUNT(*)) AS BIGINT) AS recall_ppm,
             |    CAST((2 * SUM(COALESCE(f1_ppm, 0)) + COUNT(*))
             |      // (2 * COUNT(*)) AS BIGINT) AS f1_ppm
             |  FROM perm)
             |SELECT * FROM perm
             |UNION ALL SELECT * FROM allr
             |UNION ALL SELECT * FROM macror""".stripMargin)),

    // ---- X73: unigram-LM (SentencePiece) tokenization -------------------
    // The OTHER standard subword tokenizer next to BPE (Kudo 2018):
    // learn a 48-piece table from within-word substrings (micro
    // log-probs quantized to the exponent — bitlen arithmetic both
    // engines compute exactly, no libm race), persist it, read it back,
    // Viterbi-segment every doc against the stored table (codegen
    // kernel, map-only, memoized per distinct word). ONE oracle hash
    // over learn -> store -> encode: the DuckDB side re-derives the
    // table from the same parquet and replays the DP as a recursive CTE
    // over (word, position) with the tie-to-longest contract, plus the
    // backtrace as a second recursion.
    Q("q_x73_unigram_tokenize",
      (s, d) => {
        val docs = Tables.documents(s, d).filter(col("text").isNotNull)
        val store = TempDirs.scratch("graft-unigram-store")
        TextAnalysis.writeUnigramPieces(s,
          TextAnalysis.learnUnigramPieces(docs, maxLen = 4, vocabSize = 48),
          store)
        TextAnalysis.unigramTokenize(docs,
          TextAnalysis.readUnigramPieces(s, store))
      },
      // Anchored on documents (LEFT JOIN + COALESCE): the Spark side
      // emits (doc_id, sp='', n_sp=0) for a non-null zero-word doc, so
      // the oracle must keep such docs too — an inner join on the word
      // stream would silently drop them on any data refresh.
      Some(s"""$duckUnigramCtes,
             |seg AS (SELECT wds.doc_id,
             |    string_agg(ws.stoks, chr(31) ORDER BY wds.ord) AS sp,
             |    CAST(SUM(ws.np) AS BIGINT) AS n_sp
             |  FROM wds JOIN wseg ws ON ws.w = wds.w
             |  GROUP BY 1)
             |SELECT d.doc_id, COALESCE(seg.sp, '') AS sp,
             |  CAST(COALESCE(seg.n_sp, 0) AS BIGINT) AS n_sp
             |FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
             |LEFT JOIN seg USING (doc_id)""".stripMargin)),

    // ---- X80: Luhn-validated PAN audit (DLP with the checksum cut) ------
    // One third of docs get a planted VALID test PAN (spaced groups),
    // one third a checksum-INVALID lookalike — the audit must count
    // both as candidates but quarantine only the valid one. The oracle
    // replays the candidate regex and the mod-10 fold digit by digit.
    Q("q_x80_pan_audit",
      (s, d) => TextAnalysis.panAudit(
        Tables.documents(s, d).filter(col("text").isNotNull)
          .select(col("doc_id"), concat(col("text"),
            when(col("doc_id") % 3 === 0,
              lit(" card 4539 5787 6362 1486 on file"))
              .when(col("doc_id") % 3 === 1,
                lit(" order 4539578763621487 confirmed"))
              .otherwise(lit(""))).as("txt")),
        "txt"),
      Some("""WITH s AS (SELECT doc_id, text ||
             |    CASE CAST(doc_id % 3 AS INT)
             |      WHEN 0 THEN ' card 4539 5787 6362 1486 on file'
             |      WHEN 1 THEN ' order 4539578763621487 confirmed'
             |      ELSE '' END AS txt
             |  FROM documents WHERE text IS NOT NULL),
             |c AS (SELECT doc_id, unnest(regexp_extract_all(txt,
             |    '\b[0-9][0-9 -]{11,21}[0-9]\b')) AS cand FROM s),
             |v AS (SELECT doc_id,
             |    reverse(regexp_replace(cand, '[^0-9]', '', 'g')) AS rd
             |  FROM c),
             |lv AS (SELECT doc_id, len(rd) AS nd,
             |    list_sum(list_transform(range(1, len(rd) + 1), i ->
             |      CASE WHEN i % 2 = 1 THEN CAST(substr(rd, i, 1) AS INT)
             |        WHEN CAST(substr(rd, i, 1) AS INT) * 2 > 9
             |          THEN CAST(substr(rd, i, 1) AS INT) * 2 - 9
             |        ELSE CAST(substr(rd, i, 1) AS INT) * 2 END)) AS lsum
             |  FROM v),
             |agg AS (SELECT doc_id,
             |    CAST(COUNT(*) AS BIGINT) AS n_candidates,
             |    CAST(COUNT(CASE WHEN nd BETWEEN 13 AND 19
             |      AND lsum % 10 = 0 THEN 1 END) AS BIGINT) AS n_valid
             |  FROM lv GROUP BY 1)
             |SELECT s.doc_id,
             |  COALESCE(agg.n_candidates, 0) AS n_candidates,
             |  COALESCE(agg.n_valid, 0) AS n_valid,
             |  COALESCE(agg.n_valid, 0) > 0 AS has_pan
             |FROM s LEFT JOIN agg USING (doc_id)""".stripMargin)),

    // ---- X78: distinct-n diversity per source ----------------------------
    // The Li et al. mode-collapse detector over documents.source at
    // n = 1, 2, 3 — exact half-up ppm of distinct n-grams over total
    // occurrences; the oracle replays the shingle multiset and both
    // aggregation levels.
    Q("q_x78_distinct_ngrams",
      (s, d) => TextAnalysis.distinctNgramRatio(
        Tables.documents(s, d), "text", "source", ns = Seq(1, 2, 3)),
      Some("""WITH t AS (SELECT source,
             |    list_filter(regexp_split_to_array(lower(text), '\s+'),
             |      x -> x <> '') AS toks
             |  FROM documents WHERE text IS NOT NULL),
             |g AS (SELECT source, n,
             |    list_aggregate(list_transform(range(1, len(toks) - n + 2),
             |      i -> array_to_string(list_slice(toks, i, i + n - 1),
             |        ' ')), 'string_agg', chr(7)) AS gs
             |  FROM t, (SELECT unnest([1, 2, 3]) AS n)
             |  WHERE len(toks) >= n),
             |e AS (SELECT source, n, unnest(string_split(gs, chr(7))) AS gram
             |  FROM g),
             |pg AS (SELECT source, n, gram, COUNT(*) AS c
             |  FROM e GROUP BY 1, 2, 3),
             |agg AS (SELECT source, CAST(n AS INT) AS n,
             |    CAST(SUM(c) AS BIGINT) AS n_total,
             |    CAST(COUNT(*) AS BIGINT) AS n_distinct
             |  FROM pg GROUP BY 1, 2)
             |SELECT source, n, n_total, n_distinct,
             |  CAST((2 * CAST(n_distinct AS HUGEINT) * 1000000 + n_total)
             |    // (2 * n_total) AS BIGINT) AS distinct_ppm
             |FROM agg""".stripMargin)),

    // ---- X77: ROUGE-L (token-level LCS P/R/F, the generation eval) ------
    // Each doc scored against its successor's text (real partial
    // vocabulary overlap, different order — a nontrivial LCS). The
    // kernel's two-row DP replays in the oracle as an ANTI-DIAGONAL
    // recursion: cells on one diagonal are independent, so a recursive
    // CTE carries whole diagonals as lists and the sequential-in-j
    // dependency disappears. P/R/F are exact half-up ppm (F = 2L/(m+n)
    // — the 2PR/(P+R) algebra collapses, no float anywhere).
    Q("q_x77_rouge_l",
      (s, d) => {
        val docs = Tables.documents(s, d).filter(col("text").isNotNull)
        TextAnalysis.rougeL(
          docs.select(col("doc_id"), col("text").as("ref"))
            .join(docs.select((col("doc_id") - 1).as("doc_id"),
              col("text").as("hyp")), Seq("doc_id")),
          "ref", "hyp")
      },
      Some("""WITH RECURSIVE
             |p AS (SELECT a.doc_id,
             |    list_filter(regexp_split_to_array(a.text, '\s+'),
             |      x -> x <> '') AS rt,
             |    list_filter(regexp_split_to_array(b.text, '\s+'),
             |      x -> x <> '') AS ht
             |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
             |  WHERE a.text IS NOT NULL AND b.text IS NOT NULL),
             |dims AS (SELECT doc_id, rt, ht, len(rt) AS m, len(ht) AS n
             |  FROM p),
             |r AS (
             |  SELECT doc_id, 0 AS d,
             |    list_transform(range(0, m + 1), i -> 0) AS cur,
             |    list_transform(range(0, m + 1), i -> 0) AS prev
             |  FROM dims
             |  UNION ALL
             |  SELECT r.doc_id, r.d + 1,
             |    list_transform(range(0, dm.m + 1), i ->
             |      CASE WHEN i = 0 OR r.d + 1 - i < 1 OR r.d + 1 - i > dm.n
             |        THEN 0
             |      ELSE greatest(
             |        r.cur[i],
             |        r.cur[i + 1],
             |        r.prev[i] + CASE WHEN dm.rt[i] = dm.ht[r.d + 1 - i]
             |          THEN 1 ELSE 0 END)
             |      END) AS cur,
             |    r.cur AS prev
             |  FROM r JOIN dims dm USING (doc_id)
             |  WHERE r.d < dm.m + dm.n),
             |fin AS (SELECT r.doc_id, r.cur[dm.m + 1] AS lcs,
             |    dm.m AS n_ref, dm.n AS n_hyp
             |  FROM r JOIN dims dm USING (doc_id)
             |  WHERE r.d = dm.m + dm.n)
             |SELECT doc_id, CAST(lcs AS BIGINT) AS lcs,
             |  CAST(n_ref AS BIGINT) AS n_ref, CAST(n_hyp AS BIGINT) AS n_hyp,
             |  CAST(CASE WHEN n_hyp > 0 THEN
             |    (2 * lcs * 1000000 + n_hyp) // (2 * n_hyp) END
             |    AS BIGINT) AS p_ppm,
             |  CAST(CASE WHEN n_ref > 0 THEN
             |    (2 * lcs * 1000000 + n_ref) // (2 * n_ref) END
             |    AS BIGINT) AS r_ppm,
             |  CAST(CASE WHEN n_ref + n_hyp > 0 THEN
             |    (4 * lcs * 1000000 + (n_ref + n_hyp))
             |      // (2 * (n_ref + n_hyp)) END AS BIGINT) AS f_ppm
             |FROM fin""".stripMargin)),

    // ---- X105: Self-Instruct novelty gate (banded ROUGE-L dedup) --------
    // Synthetic instruction pool: each doc's first 12 tokens + a
    // family-rare 'tagK' token (doc_id % 23 — coprime with the % 5
    // candidate split, so every family holds both sides), candidates =
    // the % 5 slice vs the rest as seeds. Banding on rare tokens
    // (df <= 25) confines pairs to tag families; the oracle replays the band, the
    // pair-keyed LCS anti-diagonal recursion, and the (f desc, seed
    // asc) argmax.
    Q("q_x105_self_instruct_gate",
      (s, d) => {
        val docs = Tables.documents(s, d).filter(col("text").isNotNull)
          .withColumn("__t", TextAnalysis.tokens(col("text")))
        val instr = docs.select(col("doc_id"),
          concat(array_join(slice(col("__t"), 1, 12), " "),
            lit(" tag"), (col("doc_id") % 23).cast("string")).as("itext"))
        TextAnalysis.selfInstructFilter(
          instr.filter(col("doc_id") % 5 === 0),
          instr.filter(col("doc_id") % 5 =!= 0),
          "itext", "doc_id", thresholdPpm = 500000L, maxTokenDf = 25)
      },
      Some("""WITH RECURSIVE
             |tt AS (SELECT doc_id,
             |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
             |  FROM documents WHERE text IS NOT NULL),
             |ins AS (SELECT doc_id,
             |    COALESCE(array_to_string(list_slice(toks, 1, 12), ' '), '')
             |      || ' tag' || CAST(doc_id % 23 AS VARCHAR) AS itext
             |  FROM tt),
             |ctx AS (SELECT doc_id AS cid, itext,
             |    list_filter(regexp_split_to_array(itext, '\s+'), x -> x <> '') AS ctoks
             |  FROM ins WHERE doc_id % 5 = 0),
             |stx AS (SELECT doc_id AS sid, itext,
             |    list_filter(regexp_split_to_array(itext, '\s+'), x -> x <> '') AS stoks
             |  FROM ins WHERE doc_id % 5 <> 0),
             |ctok AS (SELECT DISTINCT cid, tok FROM (
             |  SELECT cid, unnest(ctoks) AS tok FROM ctx)),
             |stok AS (SELECT DISTINCT sid, tok FROM (
             |  SELECT sid, unnest(stoks) AS tok FROM stx)),
             |rare AS (SELECT tok FROM (
             |  SELECT tok, COUNT(*) AS dfc FROM (
             |    SELECT tok FROM ctok UNION ALL SELECT tok FROM stok)
             |  GROUP BY 1) WHERE dfc <= 25),
             |prs AS (SELECT DISTINCT c.cid, s.sid
             |  FROM ctok c JOIN rare USING (tok)
             |  JOIN stok s USING (tok)),
             |dims AS (SELECT p.cid, p.sid, s.stoks AS rt, c.ctoks AS ht,
             |    len(s.stoks) AS m, len(c.ctoks) AS n
             |  FROM prs p JOIN ctx c USING (cid) JOIN stx s USING (sid)),
             |r AS (
             |  SELECT cid, sid, 0 AS d,
             |    list_transform(range(0, m + 1), i -> 0) AS cur,
             |    list_transform(range(0, m + 1), i -> 0) AS prev
             |  FROM dims
             |  UNION ALL
             |  SELECT r.cid, r.sid, r.d + 1,
             |    list_transform(range(0, dm.m + 1), i ->
             |      CASE WHEN i = 0 OR r.d + 1 - i < 1 OR r.d + 1 - i > dm.n
             |        THEN 0
             |      ELSE greatest(
             |        r.cur[i],
             |        r.cur[i + 1],
             |        r.prev[i] + CASE WHEN dm.rt[i] = dm.ht[r.d + 1 - i]
             |          THEN 1 ELSE 0 END)
             |      END) AS cur,
             |    r.cur AS prev
             |  FROM r JOIN dims dm ON dm.cid = r.cid AND dm.sid = r.sid
             |  WHERE r.d < dm.m + dm.n),
             |sc AS (SELECT r.cid, r.sid,
             |    (4 * r.cur[dm.m + 1] * 1000000 + (dm.m + dm.n))
             |      // (2 * (dm.m + dm.n)) AS f
             |  FROM r JOIN dims dm ON dm.cid = r.cid AND dm.sid = r.sid
             |  WHERE r.d = dm.m + dm.n),
             |bst AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_banded,
             |    wf AS max_f_ppm, ws AS nearest_seed_id FROM (
             |  SELECT cid, sid, f,
             |    first_value(f) OVER (PARTITION BY cid
             |      ORDER BY f DESC, sid) AS wf,
             |    first_value(sid) OVER (PARTITION BY cid
             |      ORDER BY f DESC, sid) AS ws
             |  FROM sc) GROUP BY cid, wf, ws)
             |SELECT c.cid AS doc_id,
             |  COALESCE(b.n_banded, 0) AS n_banded,
             |  CAST(b.max_f_ppm AS BIGINT) AS max_f_ppm,
             |  b.nearest_seed_id,
             |  COALESCE(b.max_f_ppm < 500000, true) AS keep
             |FROM ctx c LEFT JOIN bst b ON b.cid = c.cid""".stripMargin)),

    // ---- X106: intra-batch Self-Instruct stage (lower-id-first keep) ----
    // The q_x105 candidate slice deduplicated against ITSELF: a
    // candidate keeps only if no lower-id candidate in the same batch
    // scores ROUGE-L F >= the threshold — the same-batch hole the
    // seed-only gate leaves open (two near-identical generations both
    // pass q_x105). Same band (rare tokens, df <= 25 over the batch),
    // same exact LCS rescore; the oracle replays the lo < hi pair
    // band, the anti-diagonal LCS recursion, and the (f desc, lo asc)
    // argmax.
    Q("q_x106_self_instruct_intra",
      (s, d) => {
        val docs = Tables.documents(s, d).filter(col("text").isNotNull)
          .withColumn("__t", TextAnalysis.tokens(col("text")))
        val instr = docs.select(col("doc_id"),
          concat(array_join(slice(col("__t"), 1, 12), " "),
            lit(" tag"), (col("doc_id") % 23).cast("string")).as("itext"))
        TextAnalysis.selfInstructIntraBatch(
          instr.filter(col("doc_id") % 5 === 0),
          "itext", "doc_id", thresholdPpm = 500000L, maxTokenDf = 25)
      },
      Some("""WITH RECURSIVE
             |tt AS (SELECT doc_id,
             |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
             |  FROM documents WHERE text IS NOT NULL),
             |ins AS (SELECT doc_id,
             |    COALESCE(array_to_string(list_slice(toks, 1, 12), ' '), '')
             |      || ' tag' || CAST(doc_id % 23 AS VARCHAR) AS itext
             |  FROM tt),
             |ctx AS (SELECT doc_id AS cid, itext,
             |    list_filter(regexp_split_to_array(itext, '\s+'), x -> x <> '') AS ctoks
             |  FROM ins WHERE doc_id % 5 = 0),
             |ctok AS (SELECT DISTINCT cid, tok FROM (
             |  SELECT cid, unnest(ctoks) AS tok FROM ctx)),
             |rare AS (SELECT tok FROM (
             |  SELECT tok, COUNT(*) AS dfc FROM ctok
             |  GROUP BY 1) WHERE dfc <= 25),
             |prs AS (SELECT DISTINCT a.cid AS lo, b.cid AS hi
             |  FROM ctok a JOIN rare USING (tok)
             |  JOIN ctok b USING (tok)
             |  WHERE a.cid < b.cid),
             |dims AS (SELECT p.hi, p.lo, cl.ctoks AS rt, ch.ctoks AS ht,
             |    len(cl.ctoks) AS m, len(ch.ctoks) AS n
             |  FROM prs p JOIN ctx cl ON cl.cid = p.lo
             |  JOIN ctx ch ON ch.cid = p.hi),
             |r AS (
             |  SELECT hi, lo, 0 AS d,
             |    list_transform(range(0, m + 1), i -> 0) AS cur,
             |    list_transform(range(0, m + 1), i -> 0) AS prev
             |  FROM dims
             |  UNION ALL
             |  SELECT r.hi, r.lo, r.d + 1,
             |    list_transform(range(0, dm.m + 1), i ->
             |      CASE WHEN i = 0 OR r.d + 1 - i < 1 OR r.d + 1 - i > dm.n
             |        THEN 0
             |      ELSE greatest(
             |        r.cur[i],
             |        r.cur[i + 1],
             |        r.prev[i] + CASE WHEN dm.rt[i] = dm.ht[r.d + 1 - i]
             |          THEN 1 ELSE 0 END)
             |      END) AS cur,
             |    r.cur AS prev
             |  FROM r JOIN dims dm ON dm.hi = r.hi AND dm.lo = r.lo
             |  WHERE r.d < dm.m + dm.n),
             |sc AS (SELECT r.hi, r.lo,
             |    (4 * r.cur[dm.m + 1] * 1000000 + (dm.m + dm.n))
             |      // (2 * (dm.m + dm.n)) AS f
             |  FROM r JOIN dims dm ON dm.hi = r.hi AND dm.lo = r.lo
             |  WHERE r.d = dm.m + dm.n),
             |bst AS (SELECT hi, CAST(COUNT(*) AS BIGINT) AS n_banded,
             |    wf AS max_f_ppm, wl AS nearest_lower_id FROM (
             |  SELECT hi, lo, f,
             |    first_value(f) OVER (PARTITION BY hi
             |      ORDER BY f DESC, lo) AS wf,
             |    first_value(lo) OVER (PARTITION BY hi
             |      ORDER BY f DESC, lo) AS wl
             |  FROM sc) GROUP BY hi, wf, wl)
             |SELECT c.cid AS doc_id,
             |  COALESCE(b.n_banded, 0) AS n_banded,
             |  CAST(b.max_f_ppm AS BIGINT) AS max_f_ppm,
             |  b.nearest_lower_id,
             |  COALESCE(b.max_f_ppm < 500000, true) AS keep
             |FROM ctx c LEFT JOIN bst b ON b.hi = c.cid""".stripMargin)),

    // ---- X108: Self-Instruct pool-growing loop (sequential-exact) -------
    // The q_x105 fixture resolved with Wang et al.'s ACTUAL recipe:
    // candidates in id (= generation) order, each gated against seeds
    // PLUS previously ACCEPTED candidates — the lex-first MIS of the
    // >=threshold blocker DAG, where the one-pass q_x106 stage gates
    // against every lower id. The oracle replays both LCS scorings
    // (cand x seed, lo < hi cand x cand), then the sequential greedy
    // as a recursive fold over candidates in id order carrying the
    // accepted list.
    // The fixture PLANTS a chain per 20-id block: candidate 20k keeps
    // its natural text, 20k+5 shares its first 8 tokens (F ~ 0.67 >=
    // tau -> blocked by 20k), 20k+10 shares only the first 4 plus
    // 20k+5's 'va vb' filler (F vs 20k ~ 0.33 < tau, F vs 20k+5
    // ~ 0.55 >= tau) — the sequential recipe accepts 20k AND 20k+10
    // where the one-pass stage would keep only 20k.
    Q("q_x108_self_instruct_loop",
      (s, d) => {
        val docs = Tables.documents(s, d).filter(col("text").isNotNull)
          .withColumn("__t", TextAnalysis.tokens(col("text")))
        val baseT = docs.select(col("doc_id").as("__bid"),
          col("__t").as("__bt"))
        val withBase = docs.withColumn("__bref",
            when(col("doc_id") % 20 === 5, col("doc_id") - 5)
              .when(col("doc_id") % 20 === 10, col("doc_id") - 10))
          .join(baseT, col("__bref") === col("__bid"), "left")
        val instr = withBase.select(col("doc_id"),
          when(col("doc_id") % 20 === 5,
            concat(coalesce(array_join(slice(col("__bt"), 1, 8), " "),
                lit("")),
              lit(" va vb tag"), (col("doc_id") % 23).cast("string")))
            .when(col("doc_id") % 20 === 10,
              concat(coalesce(array_join(slice(col("__bt"), 1, 4), " "),
                  lit("")),
                lit(" va vb w"), col("doc_id").cast("string"),
                lit(" x"), col("doc_id").cast("string"),
                lit(" y"), col("doc_id").cast("string"),
                lit(" z"), col("doc_id").cast("string"),
                lit(" tag"), (col("doc_id") % 23).cast("string")))
            .otherwise(concat(array_join(slice(col("__t"), 1, 12), " "),
              lit(" tag"), (col("doc_id") % 23).cast("string")))
            .as("itext"))
        TextAnalysis.selfInstructLoop(
          instr.filter(col("doc_id") % 5 === 0),
          instr.filter(col("doc_id") % 5 =!= 0),
          "itext", "doc_id", thresholdPpm = 500000L, maxTokenDf = 25)
      },
      Some("""WITH RECURSIVE
             |tt AS (SELECT doc_id,
             |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
             |  FROM documents WHERE text IS NOT NULL),
             |ins AS (SELECT t.doc_id,
             |    CASE WHEN t.doc_id % 20 = 5 THEN
             |      COALESCE(array_to_string(list_slice(tb.toks, 1, 8), ' '), '')
             |        || ' va vb tag' || CAST(t.doc_id % 23 AS VARCHAR)
             |    WHEN t.doc_id % 20 = 10 THEN
             |      COALESCE(array_to_string(list_slice(tb.toks, 1, 4), ' '), '')
             |        || ' va vb w' || t.doc_id || ' x' || t.doc_id
             |        || ' y' || t.doc_id || ' z' || t.doc_id
             |        || ' tag' || CAST(t.doc_id % 23 AS VARCHAR)
             |    ELSE
             |      COALESCE(array_to_string(list_slice(t.toks, 1, 12), ' '), '')
             |        || ' tag' || CAST(t.doc_id % 23 AS VARCHAR) END AS itext
             |  FROM tt t LEFT JOIN tt tb ON tb.doc_id = t.doc_id -
             |    CASE WHEN t.doc_id % 20 = 5 THEN 5
             |         WHEN t.doc_id % 20 = 10 THEN 10 END),
             |ctx AS (SELECT doc_id AS cid, itext,
             |    list_filter(regexp_split_to_array(itext, '\s+'), x -> x <> '') AS ctoks
             |  FROM ins WHERE doc_id % 5 = 0),
             |stx AS (SELECT doc_id AS sid, itext,
             |    list_filter(regexp_split_to_array(itext, '\s+'), x -> x <> '') AS stoks
             |  FROM ins WHERE doc_id % 5 <> 0),
             |ctok AS (SELECT DISTINCT cid, tok FROM (
             |  SELECT cid, unnest(ctoks) AS tok FROM ctx)),
             |stok AS (SELECT DISTINCT sid, tok FROM (
             |  SELECT sid, unnest(stoks) AS tok FROM stx)),
             |rare AS (SELECT tok FROM (
             |  SELECT tok, COUNT(*) AS dfc FROM (
             |    SELECT tok FROM ctok UNION ALL SELECT tok FROM stok)
             |  GROUP BY 1) WHERE dfc <= 25),
             |prs AS (SELECT DISTINCT c.cid, s.sid
             |  FROM ctok c JOIN rare USING (tok)
             |  JOIN stok s USING (tok)),
             |dims AS (SELECT p.cid, p.sid, s.stoks AS rt, c.ctoks AS ht,
             |    len(s.stoks) AS m, len(c.ctoks) AS n
             |  FROM prs p JOIN ctx c USING (cid) JOIN stx s USING (sid)),
             |r AS (
             |  SELECT cid, sid, 0 AS d,
             |    list_transform(range(0, m + 1), i -> 0) AS cur,
             |    list_transform(range(0, m + 1), i -> 0) AS prev
             |  FROM dims
             |  UNION ALL
             |  SELECT r.cid, r.sid, r.d + 1,
             |    list_transform(range(0, dm.m + 1), i ->
             |      CASE WHEN i = 0 OR r.d + 1 - i < 1 OR r.d + 1 - i > dm.n
             |        THEN 0
             |      ELSE greatest(
             |        r.cur[i],
             |        r.cur[i + 1],
             |        r.prev[i] + CASE WHEN dm.rt[i] = dm.ht[r.d + 1 - i]
             |          THEN 1 ELSE 0 END)
             |      END) AS cur,
             |    r.cur AS prev
             |  FROM r JOIN dims dm ON dm.cid = r.cid AND dm.sid = r.sid
             |  WHERE r.d < dm.m + dm.n),
             |sc AS MATERIALIZED (SELECT r.cid, r.sid,
             |    (4 * r.cur[dm.m + 1] * 1000000 + (dm.m + dm.n))
             |      // (2 * (dm.m + dm.n)) AS f
             |  FROM r JOIN dims dm ON dm.cid = r.cid AND dm.sid = r.sid
             |  WHERE r.d = dm.m + dm.n),
             |bst AS MATERIALIZED (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_banded,
             |    wf AS max_f_ppm, ws AS nearest_seed_id FROM (
             |  SELECT cid, sid, f,
             |    first_value(f) OVER (PARTITION BY cid
             |      ORDER BY f DESC, sid) AS wf,
             |    first_value(sid) OVER (PARTITION BY cid
             |      ORDER BY f DESC, sid) AS ws
             |  FROM sc) GROUP BY cid, wf, ws),
             |seedv AS MATERIALIZED (SELECT c.cid,
             |    COALESCE(b.n_banded, 0) AS n_banded_seed,
             |    CAST(b.max_f_ppm AS BIGINT) AS max_f_seed_ppm,
             |    b.nearest_seed_id,
             |    COALESCE(b.max_f_ppm < 500000, true) AS seed_keep
             |  FROM ctx c LEFT JOIN bst b ON b.cid = c.cid),
             |crare AS (SELECT tok FROM (
             |  SELECT tok, COUNT(*) AS dfc FROM ctok
             |  GROUP BY 1) WHERE dfc <= 25),
             |prs2 AS (SELECT DISTINCT a.cid AS lo, b.cid AS hi
             |  FROM ctok a JOIN crare USING (tok)
             |  JOIN ctok b USING (tok)
             |  WHERE a.cid < b.cid),
             |dims2 AS (SELECT p.hi, p.lo, cl.ctoks AS rt, ch.ctoks AS ht,
             |    len(cl.ctoks) AS m, len(ch.ctoks) AS n
             |  FROM prs2 p JOIN ctx cl ON cl.cid = p.lo
             |  JOIN ctx ch ON ch.cid = p.hi),
             |r2 AS (
             |  SELECT hi, lo, 0 AS d,
             |    list_transform(range(0, m + 1), i -> 0) AS cur,
             |    list_transform(range(0, m + 1), i -> 0) AS prev
             |  FROM dims2
             |  UNION ALL
             |  SELECT r2.hi, r2.lo, r2.d + 1,
             |    list_transform(range(0, dm.m + 1), i ->
             |      CASE WHEN i = 0 OR r2.d + 1 - i < 1 OR r2.d + 1 - i > dm.n
             |        THEN 0
             |      ELSE greatest(
             |        r2.cur[i],
             |        r2.cur[i + 1],
             |        r2.prev[i] + CASE WHEN dm.rt[i] = dm.ht[r2.d + 1 - i]
             |          THEN 1 ELSE 0 END)
             |      END) AS cur,
             |    r2.cur AS prev
             |  FROM r2 JOIN dims2 dm ON dm.hi = r2.hi AND dm.lo = r2.lo
             |  WHERE r2.d < dm.m + dm.n),
             |sc2 AS MATERIALIZED (SELECT r2.hi, r2.lo,
             |    (4 * r2.cur[dm.m + 1] * 1000000 + (dm.m + dm.n))
             |      // (2 * (dm.m + dm.n)) AS f
             |  FROM r2 JOIN dims2 dm ON dm.hi = r2.hi AND dm.lo = r2.lo
             |  WHERE r2.d = dm.m + dm.n),
             |blk AS MATERIALIZED (SELECT s2.lo, s2.hi FROM sc2 s2
             |  JOIN seedv vl ON vl.cid = s2.lo AND vl.seed_keep
             |  JOIN seedv vh ON vh.cid = s2.hi AND vh.seed_keep
             |  WHERE s2.f >= 500000),
             |blkl AS MATERIALIZED (SELECT hi, list(lo ORDER BY lo) AS los
             |  FROM blk GROUP BY hi),
             |ord AS MATERIALIZED (SELECT cid, row_number() OVER (ORDER BY cid) AS rn
             |  FROM seedv WHERE seed_keep),
             |seq AS (
             |  SELECT 0 AS rn, CAST([] AS BIGINT[]) AS acc
             |  UNION ALL
             |  SELECT s.rn + 1,
             |    CASE WHEN list_has_any(
             |        COALESCE(b.los, CAST([] AS BIGINT[])), s.acc)
             |      THEN s.acc ELSE list_append(s.acc, o.cid) END
             |  FROM seq s
             |  JOIN ord o ON o.rn = s.rn + 1
             |  LEFT JOIN blkl b ON b.hi = o.cid),
             |fin AS MATERIALIZED (SELECT acc FROM seq ORDER BY rn DESC LIMIT 1),
             |bb AS MATERIALIZED (SELECT k.hi, MIN(k.lo) AS bbid
             |  FROM blk k, fin WHERE list_contains(fin.acc, k.lo)
             |  GROUP BY k.hi)
             |SELECT v.cid AS doc_id, v.n_banded_seed, v.max_f_seed_ppm,
             |  v.nearest_seed_id, v.seed_keep,
             |  CASE WHEN v.seed_keep AND NOT list_contains(fin.acc, v.cid)
             |    THEN bb.bbid END AS blocked_by,
             |  COALESCE(v.seed_keep AND list_contains(fin.acc, v.cid),
             |    false) AS keep
             |FROM seedv v CROSS JOIN fin
             |LEFT JOIN bb ON bb.hi = v.cid""".stripMargin)),

    // ---- X107: needle-in-a-haystack synthesis (long-context eval data) --
    // Every doc becomes a haystack with one salted needle at a
    // hash-determined token depth; the expected answer rides along for
    // the grading pass. The oracle replays position draw, value draw,
    // depth ppm and the token-level splice byte-for-byte.
    Q("q_x107_needle_haystack",
      (s, d) => TextAnalysis.plantNeedles(Tables.documents(s, d),
        salt = "niah1"),
      Some(s"""WITH t AS (SELECT doc_id, $duckToks AS toks
              |  FROM documents WHERE text IS NOT NULL),
              |c AS (SELECT doc_id, toks, len(toks) AS n,
              |    CAST('0x' || substr(md5('niah1|pos|' ||
              |      CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
              |      % (len(toks) + 1) AS pos,
              |    substr(md5('niah1|val|' || CAST(doc_id AS VARCHAR)),
              |      1, 8) AS ans
              |  FROM t),
              |seg AS (SELECT doc_id, n, pos, ans,
              |    COALESCE(array_to_string(list_slice(toks, 1, pos), ' '),
              |      '') AS pre,
              |    COALESCE(array_to_string(list_slice(toks, pos + 1, n),
              |      ' '), '') AS post,
              |    'the magic number for document ' ||
              |      CAST(doc_id AS VARCHAR) || ' is ' || ans AS needle
              |  FROM c)
              |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
              |  CAST(pos AS BIGINT) AS needle_pos,
              |  CAST(CASE WHEN n > 0 THEN
              |    (2 * pos * 1000000 + n) // (2 * n) END AS BIGINT)
              |    AS depth_ppm,
              |  ans AS answer,
              |  CASE WHEN pre = '' THEN '' ELSE pre || ' ' END || needle ||
              |    CASE WHEN post = '' THEN '' ELSE ' ' || post END
              |    AS text_out
              |FROM seg""".stripMargin)),

    // ---- X76: tokenizer fertility per language ---------------------------
    // The multilingual tokenizer-quality audit over the q_x73 chain:
    // pieces-per-word in exact ppm per documents.lang — ONE oracle hash
    // over learn -> encode -> per-language aggregate (the tokenize
    // oracle's CTE chain with a different tail).
    Q("q_x76_tokenizer_fertility",
      (s, d) => {
        val docs = Tables.documents(s, d).filter(col("text").isNotNull)
        val store = TempDirs.scratch("graft-unigram-fert")
        TextAnalysis.writeUnigramPieces(s,
          TextAnalysis.learnUnigramPieces(docs, maxLen = 4, vocabSize = 48),
          store)
        val perDoc = TextAnalysis.unigramTokenize(docs,
            TextAnalysis.readUnigramPieces(s, store))
          .join(docs.select(col("doc_id"), col("lang"),
            size(TextAnalysis.tokens(col("text"))).as("n_words")),
            Seq("doc_id"))
        TextAnalysis.tokenizerFertility(perDoc, "lang", "n_sp", "n_words")
      },
      Some(s"""$duckUnigramCtes,
              |wcnt AS (SELECT doc_id, lang,
              |    len(list_filter(regexp_split_to_array(text, '\\s+'),
              |      x -> x <> '')) AS nw
              |  FROM documents WHERE text IS NOT NULL),
              |pcs AS (SELECT wds.doc_id, CAST(SUM(ws.np) AS BIGINT) AS np
              |  FROM wds JOIN wseg ws ON ws.w = wds.w GROUP BY 1)
              |SELECT w.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
              |  CAST(SUM(COALESCE(p.np, 0)) AS BIGINT) AS n_pieces,
              |  CAST(SUM(w.nw) AS BIGINT) AS n_words,
              |  CAST((2 * CAST(SUM(COALESCE(p.np, 0)) AS HUGEINT) * 1000000
              |    + SUM(w.nw)) // (2 * SUM(w.nw)) AS BIGINT)
              |    AS fertility_ppm
              |FROM wcnt w LEFT JOIN pcs p USING (doc_id)
              |GROUP BY 1""".stripMargin)),

    // ---- X81: sentence BLEU (sacrebleu conventions) ----------------------
    // Ref = the document text; hyp synthesized per doc_id % 3 to exercise
    // every branch: 0 -> the first 8 tokens (effective order + brevity
    // penalty; docs <= 8 tokens hit the |h|=|r| edge), 1 -> the text
    // doubled (clipping + BP-free long side), 2 -> four alien tokens
    // (unsmoothed zero). The oracle replays clipped counts, the 6-dp-ln
    // terms, the half-up-micro mean, BP, and the final exp.
    Q("q_x81_bleu",
      (s, d) => {
        val docs = Tables.documents(s, d).filter(col("text").isNotNull)
          .withColumn("toks", TextAnalysis.tokens(col("text")))
          .select(col("doc_id"), col("text").as("ref"),
            when(col("doc_id") % 3 === 0,
              concat_ws(" ", slice(col("toks"), 1, 8)))
            .when(col("doc_id") % 3 === 1,
              concat(col("text"), lit(" "), col("text")))
            .otherwise(lit("zzz qqq xxx yyy")).as("hyp"))
        TextAnalysis.bleu(docs, "ref", "hyp")
      },
      Some("""WITH t AS (SELECT doc_id, text AS ref,
             |    list_filter(regexp_split_to_array(text, '\s+'),
             |      x -> x <> '') AS ws
             |  FROM documents WHERE text IS NOT NULL),
             |s AS (SELECT doc_id, ref,
             |    CASE CAST(doc_id % 3 AS INT)
             |      WHEN 0 THEN array_to_string(list_slice(ws, 1, 8), ' ')
             |      WHEN 1 THEN ref || ' ' || ref
             |      ELSE 'zzz qqq xxx yyy' END AS hyp
             |  FROM t),
             |tok AS (SELECT doc_id,
             |    list_filter(regexp_split_to_array(ref, '\s+'),
             |      x -> x <> '') AS rt,
             |    list_filter(regexp_split_to_array(hyp, '\s+'),
             |      x -> x <> '') AS ht
             |  FROM s),
             |hg AS (SELECT doc_id, n,
             |    array_to_string(list_slice(ht, i, i + n - 1), ' ') AS g,
             |    COUNT(*) AS ch
             |  FROM (SELECT doc_id, ht, n,
             |      unnest(range(1, len(ht) - n + 2)) AS i
             |    FROM tok, (SELECT unnest([1, 2, 3, 4]) AS n))
             |  GROUP BY 1, 2, 3),
             |rg AS (SELECT doc_id, n,
             |    array_to_string(list_slice(rt, i, i + n - 1), ' ') AS g,
             |    COUNT(*) AS cr
             |  FROM (SELECT doc_id, rt, n,
             |      unnest(range(1, len(rt) - n + 2)) AS i
             |    FROM tok, (SELECT unnest([1, 2, 3, 4]) AS n))
             |  GROUP BY 1, 2, 3),
             |cl AS (SELECT hg.doc_id, hg.n,
             |    CAST(SUM(LEAST(hg.ch, rg.cr)) AS BIGINT) AS mm
             |  FROM hg JOIN rg ON rg.doc_id = hg.doc_id AND rg.n = hg.n
             |    AND rg.g = hg.g
             |  GROUP BY 1, 2),
             |wide AS (SELECT l.doc_id,
             |    CAST(len(l.rt) AS BIGINT) AS n_ref,
             |    CAST(len(l.ht) AS BIGINT) AS n_hyp,
             |    COALESCE(MAX(CASE WHEN cl.n = 1 THEN cl.mm END), 0) AS m1,
             |    COALESCE(MAX(CASE WHEN cl.n = 2 THEN cl.mm END), 0) AS m2,
             |    COALESCE(MAX(CASE WHEN cl.n = 3 THEN cl.mm END), 0) AS m3,
             |    COALESCE(MAX(CASE WHEN cl.n = 4 THEN cl.mm END), 0) AS m4
             |  FROM tok l LEFT JOIN cl ON cl.doc_id = l.doc_id
             |  GROUP BY 1, 2, 3),
             |tw AS (SELECT *,
             |    GREATEST(n_hyp, 0) AS t1,
             |    GREATEST(n_hyp - 1, 0) AS t2,
             |    GREATEST(n_hyp - 2, 0) AS t3,
             |    GREATEST(n_hyp - 3, 0) AS t4
             |  FROM wide),
             |sc AS (SELECT *,
             |    CAST((CASE WHEN t1 > 0 THEN 1 ELSE 0 END)
             |      + (CASE WHEN t2 > 0 THEN 1 ELSE 0 END)
             |      + (CASE WHEN t3 > 0 THEN 1 ELSE 0 END)
             |      + (CASE WHEN t4 > 0 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS eff_order,
             |    ((t1 > 0 AND m1 = 0) OR (t2 > 0 AND m2 = 0)
             |      OR (t3 > 0 AND m3 = 0) OR (t4 > 0 AND m4 = 0))
             |      AS any_zero,
             |    CAST((
             |      (CASE WHEN t1 > 0 AND m1 > 0 THEN CAST(ROUND(
             |        ln(CAST(m1 AS DOUBLE) / t1), 6) AS DECIMAL(18,6))
             |        ELSE CAST(0 AS DECIMAL(18,6)) END)
             |      + (CASE WHEN t2 > 0 AND m2 > 0 THEN CAST(ROUND(
             |        ln(CAST(m2 AS DOUBLE) / t2), 6) AS DECIMAL(18,6))
             |        ELSE CAST(0 AS DECIMAL(18,6)) END)
             |      + (CASE WHEN t3 > 0 AND m3 > 0 THEN CAST(ROUND(
             |        ln(CAST(m3 AS DOUBLE) / t3), 6) AS DECIMAL(18,6))
             |        ELSE CAST(0 AS DECIMAL(18,6)) END)
             |      + (CASE WHEN t4 > 0 AND m4 > 0 THEN CAST(ROUND(
             |        ln(CAST(m4 AS DOUBLE) / t4), 6) AS DECIMAL(18,6))
             |        ELSE CAST(0 AS DECIMAL(18,6)) END)
             |    ) * 1000000 AS BIGINT) AS sum_u
             |  FROM tw),
             |fin AS (SELECT *,
             |    CASE WHEN eff_order > 0 THEN
             |      (2 * sum_u + eff_order) // (2 * eff_order) END AS mean_u,
             |    CASE WHEN n_hyp >= n_ref THEN 0
             |      ELSE (2 * (n_hyp - n_ref) * 1000000 + n_hyp)
             |        // (2 * n_hyp) END AS bp_u
             |  FROM sc)
             |SELECT doc_id, n_ref, n_hyp,
             |  m1, t1, m2, t2, m3, t3, m4, t4, eff_order,
             |  CASE WHEN n_hyp = 0 OR eff_order = 0 OR any_zero
             |    THEN CAST(0 AS DOUBLE)
             |    ELSE ROUND(exp(CAST(mean_u + bp_u AS DOUBLE) / 1000000.0),
             |      6) END AS bleu
             |FROM fin""".stripMargin)),

    // ---- X82: chrF (character n-gram F, beta=2) ---------------------------
    // Same synthesized ref/hyp pairs as q_x81; all arithmetic is exact
    // half-up ppm integers (no ln, no exp — the one generation metric
    // that needs no libm at all), so the oracle replays it bit-for-bit.
    Q("q_x82_chrf",
      (s, d) => {
        val docs = Tables.documents(s, d).filter(col("text").isNotNull)
          .withColumn("toks", TextAnalysis.tokens(col("text")))
          .select(col("doc_id"), col("text").as("ref"),
            when(col("doc_id") % 3 === 0,
              concat_ws(" ", slice(col("toks"), 1, 8)))
            .when(col("doc_id") % 3 === 1,
              concat(col("text"), lit(" "), col("text")))
            .otherwise(lit("zzz qqq xxx yyy")).as("hyp"))
        TextAnalysis.chrF(docs, "ref", "hyp")
      },
      Some("""WITH t AS (SELECT doc_id, text AS ref,
             |    list_filter(regexp_split_to_array(text, '\s+'),
             |      x -> x <> '') AS ws
             |  FROM documents WHERE text IS NOT NULL),
             |s AS (SELECT doc_id,
             |    regexp_replace(ref, '\s+', '', 'g') AS r,
             |    regexp_replace(CASE CAST(doc_id % 3 AS INT)
             |      WHEN 0 THEN array_to_string(list_slice(ws, 1, 8), ' ')
             |      WHEN 1 THEN ref || ' ' || ref
             |      ELSE 'zzz qqq xxx yyy' END, '\s+', '', 'g') AS h
             |  FROM t),
             |hg AS (SELECT doc_id, n, substr(h, i, n) AS g, COUNT(*) AS ch
             |  FROM (SELECT doc_id, h, n,
             |      unnest(range(1, len(h) - n + 2)) AS i
             |    FROM s, (SELECT unnest([1, 2, 3, 4, 5, 6]) AS n))
             |  GROUP BY 1, 2, 3),
             |rg AS (SELECT doc_id, n, substr(r, i, n) AS g, COUNT(*) AS cr
             |  FROM (SELECT doc_id, r, n,
             |      unnest(range(1, len(r) - n + 2)) AS i
             |    FROM s, (SELECT unnest([1, 2, 3, 4, 5, 6]) AS n))
             |  GROUP BY 1, 2, 3),
             |cl AS (SELECT hg.doc_id, hg.n,
             |    CAST(SUM(LEAST(hg.ch, rg.cr)) AS BIGINT) AS mm
             |  FROM hg JOIN rg ON rg.doc_id = hg.doc_id AND rg.n = hg.n
             |    AND rg.g = hg.g
             |  GROUP BY 1, 2),
             |po AS (SELECT s.doc_id,
             |    CAST(len(s.r) AS BIGINT) AS n_ref_chars,
             |    CAST(len(s.h) AS BIGINT) AS n_hyp_chars, o.n,
             |    COALESCE(cl.mm, 0) AS mm,
             |    GREATEST(len(s.h) - o.n + 1, 0) AS th,
             |    GREATEST(len(s.r) - o.n + 1, 0) AS tr
             |  FROM s CROSS JOIN (SELECT unnest([1, 2, 3, 4, 5, 6]) AS n) o
             |  LEFT JOIN cl ON cl.doc_id = s.doc_id AND cl.n = o.n),
             |pr AS (SELECT doc_id, n_ref_chars, n_hyp_chars,
             |    CAST(SUM(CASE WHEN th > 0
             |      THEN (2 * mm * 1000000 + th) // (2 * th)
             |      ELSE 0 END) AS BIGINT) AS psum,
             |    CAST(SUM(CASE WHEN tr > 0
             |      THEN (2 * mm * 1000000 + tr) // (2 * tr)
             |      ELSE 0 END) AS BIGINT) AS rsum
             |  FROM po GROUP BY 1, 2, 3),
             |fin AS (SELECT doc_id, n_ref_chars, n_hyp_chars,
             |    (2 * psum + 6) // 12 AS p_ppm,
             |    (2 * rsum + 6) // 12 AS r_ppm
             |  FROM pr)
             |SELECT doc_id, n_ref_chars, n_hyp_chars, p_ppm, r_ppm,
             |  CASE WHEN 4 * p_ppm + r_ppm > 0 THEN
             |    (2 * 5 * p_ppm * r_ppm + (4 * p_ppm + r_ppm))
             |      // (2 * (4 * p_ppm + r_ppm))
             |  ELSE 0 END AS chrf_ppm
             |FROM fin""".stripMargin)),

    // ---- X83: trainer-ready packed SFT with loss-mask spans --------------
    // The q_e32 sftPairs chain -> packSftWithMasks: every (context,
    // response) example packs as one unit at a 512-token budget, and each
    // pack row carries half-open token spans with mask=true exactly on
    // the response tokens. The oracle replays the sft extraction, the
    // md5 shard/order/cumsum pack layout, the intra-pack offsets, and
    // the span strings (list payloads ride the compare as joined
    // strings — the q_x39 registry convention).
    Q("q_x83_pack_sft_masks",
      (s, d) => {
        val turns = Tables.events(s, d)
          .filter(col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("user_id"), col("ts"), col("event_id"),
            when(col("event_type").isin("click", "view"), "user")
              .when(col("event_type") === "purchase", "assistant")
              .otherwise(lit("other")).as("role"),
            concat(col("event_type"), lit("-"),
              (col("event_id") % 100).cast("string")).as("txt"))
        val pairs = graft.operators.Behavior.sftPairs(turns,
          "user_id", "ts", "event_id", "role", "txt")
        graft.operators.Packing.packSftWithMasks(pairs, budget = 512,
            shards = 4, salt = "sft", idCol = "event_id")
          .select(col("shard"), col("pack"), col("n_docs"),
            col("n_tokens"), col("n_masked"),
            array_join(transform(col("segments"), g => concat_ws(":",
              g.getField("doc_id").cast("string"),
              g.getField("tok_start").cast("string"),
              g.getField("tok_end").cast("string"),
              g.getField("mask").cast("string"))), ";").as("segs"))
      },
      Some("""WITH r AS (SELECT user_id, ts, event_id,
             |    CASE WHEN event_type IN ('click', 'view') THEN 'user'
             |      WHEN event_type = 'purchase' THEN 'assistant'
             |      ELSE 'other' END AS role,
             |    event_type || '-' || CAST(event_id % 100 AS VARCHAR)
             |      AS txt
             |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
             |o AS (SELECT user_id, event_id, role, txt,
             |    COALESCE(string_agg(role || ': ' || txt, chr(10)) OVER (
             |      PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), '')
             |      AS context
             |  FROM r),
             |cnt AS (SELECT event_id AS did,
             |    len(list_filter(regexp_split_to_array(context, '\s+'),
             |      x -> x <> '')) AS nc,
             |    len(list_filter(regexp_split_to_array(txt, '\s+'),
             |      x -> x <> '')) AS nr
             |  FROM o WHERE role = 'assistant'),
             |b AS (SELECT did, nc, nr, nc + nr AS nt,
             |    CAST('0x' || substr(md5('sft|' || CAST(did AS VARCHAR)),
             |      1, 8) AS BIGINT) % 4 AS shard,
             |    md5('sft|' || CAST(did AS VARCHAR)) AS hk
             |  FROM cnt),
             |c AS (SELECT *, SUM(nt) OVER (PARTITION BY shard
             |    ORDER BY hk, did ROWS UNBOUNDED PRECEDING) AS cum
             |  FROM b),
             |p AS (SELECT *, CAST(DENSE_RANK() OVER (PARTITION BY shard
             |    ORDER BY (cum - nt) // 512) - 1 AS INT) AS pack
             |  FROM c),
             |q AS (SELECT *, COALESCE(SUM(nt) OVER (
             |    PARTITION BY shard, pack ORDER BY hk, did
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |    AS st
             |  FROM p),
             |seg AS (
             |  SELECT shard, pack, did, st AS s0, st + nc AS e0,
             |    'false' AS msk FROM q WHERE nc > 0
             |  UNION ALL
             |  SELECT shard, pack, did, st + nc, st + nt, 'true'
             |  FROM q WHERE nr > 0),
             |sa AS (SELECT shard, pack,
             |    string_agg(CAST(did AS VARCHAR) || ':' ||
             |      CAST(s0 AS VARCHAR) || ':' || CAST(e0 AS VARCHAR) ||
             |      ':' || msk, ';' ORDER BY s0) AS segs
             |  FROM seg GROUP BY 1, 2),
             |pa AS (SELECT shard, pack,
             |    CAST(COUNT(*) AS BIGINT) AS n_docs,
             |    CAST(SUM(nt) AS BIGINT) AS n_tokens,
             |    CAST(SUM(nr) AS BIGINT) AS n_masked
             |  FROM q GROUP BY 1, 2)
             |SELECT pa.shard, pa.pack, pa.n_docs, pa.n_tokens,
             |  pa.n_masked, COALESCE(sa.segs, '') AS segs
             |FROM pa LEFT JOIN sa ON sa.shard = pa.shard
             |  AND sa.pack = pa.pack""".stripMargin)),

    // ---- X87: CORPUS-level BLEU per source --------------------------------
    // sacrebleu's default granularity (the number papers report): the
    // q_x81 per-example clipped counts SUM per source BEFORE the
    // geometric mean, and BP compares total lengths — NOT a mean of
    // sentence scores. Same hyp synthesis as q_x81; the oracle extends
    // its chain with the per-source sums and re-runs the same tail.
    Q("q_x87_bleu_corpus",
      (s, d) => {
        val docs = Tables.documents(s, d).filter(col("text").isNotNull)
          .withColumn("toks", TextAnalysis.tokens(col("text")))
          .select(col("doc_id"), col("source"), col("text").as("ref"),
            when(col("doc_id") % 3 === 0,
              concat_ws(" ", slice(col("toks"), 1, 8)))
            .when(col("doc_id") % 3 === 1,
              concat(col("text"), lit(" "), col("text")))
            .otherwise(lit("zzz qqq xxx yyy")).as("hyp"))
        TextAnalysis.bleuCorpus(docs, "ref", "hyp", "source")
      },
      Some("""WITH t AS (SELECT doc_id, source, text AS ref,
             |    list_filter(regexp_split_to_array(text, '\s+'),
             |      x -> x <> '') AS ws
             |  FROM documents WHERE text IS NOT NULL),
             |s AS (SELECT doc_id, source, ref,
             |    CASE CAST(doc_id % 3 AS INT)
             |      WHEN 0 THEN array_to_string(list_slice(ws, 1, 8), ' ')
             |      WHEN 1 THEN ref || ' ' || ref
             |      ELSE 'zzz qqq xxx yyy' END AS hyp
             |  FROM t),
             |tok AS (SELECT doc_id, source,
             |    list_filter(regexp_split_to_array(ref, '\s+'),
             |      x -> x <> '') AS rt,
             |    list_filter(regexp_split_to_array(hyp, '\s+'),
             |      x -> x <> '') AS ht
             |  FROM s),
             |hg AS (SELECT doc_id, n,
             |    array_to_string(list_slice(ht, i, i + n - 1), ' ') AS g,
             |    COUNT(*) AS ch
             |  FROM (SELECT doc_id, ht, n,
             |      unnest(range(1, len(ht) - n + 2)) AS i
             |    FROM tok, (SELECT unnest([1, 2, 3, 4]) AS n))
             |  GROUP BY 1, 2, 3),
             |rg AS (SELECT doc_id, n,
             |    array_to_string(list_slice(rt, i, i + n - 1), ' ') AS g,
             |    COUNT(*) AS cr
             |  FROM (SELECT doc_id, rt, n,
             |      unnest(range(1, len(rt) - n + 2)) AS i
             |    FROM tok, (SELECT unnest([1, 2, 3, 4]) AS n))
             |  GROUP BY 1, 2, 3),
             |cl AS (SELECT hg.doc_id, hg.n,
             |    CAST(SUM(LEAST(hg.ch, rg.cr)) AS BIGINT) AS mm
             |  FROM hg JOIN rg ON rg.doc_id = hg.doc_id AND rg.n = hg.n
             |    AND rg.g = hg.g
             |  GROUP BY 1, 2),
             |wide AS (SELECT l.doc_id, l.source,
             |    CAST(len(l.rt) AS BIGINT) AS n_ref,
             |    CAST(len(l.ht) AS BIGINT) AS n_hyp,
             |    COALESCE(MAX(CASE WHEN cl.n = 1 THEN cl.mm END), 0) AS m1,
             |    COALESCE(MAX(CASE WHEN cl.n = 2 THEN cl.mm END), 0) AS m2,
             |    COALESCE(MAX(CASE WHEN cl.n = 3 THEN cl.mm END), 0) AS m3,
             |    COALESCE(MAX(CASE WHEN cl.n = 4 THEN cl.mm END), 0) AS m4
             |  FROM tok l LEFT JOIN cl ON cl.doc_id = l.doc_id
             |  GROUP BY 1, 2, 3, 4),
             |gw AS (SELECT source,
             |    CAST(COUNT(*) AS BIGINT) AS n_examples,
             |    CAST(SUM(n_ref) AS BIGINT) AS n_ref,
             |    CAST(SUM(n_hyp) AS BIGINT) AS n_hyp,
             |    CAST(SUM(m1) AS BIGINT) AS m1,
             |    CAST(SUM(GREATEST(n_hyp, 0)) AS BIGINT) AS t1,
             |    CAST(SUM(m2) AS BIGINT) AS m2,
             |    CAST(SUM(GREATEST(n_hyp - 1, 0)) AS BIGINT) AS t2,
             |    CAST(SUM(m3) AS BIGINT) AS m3,
             |    CAST(SUM(GREATEST(n_hyp - 2, 0)) AS BIGINT) AS t3,
             |    CAST(SUM(m4) AS BIGINT) AS m4,
             |    CAST(SUM(GREATEST(n_hyp - 3, 0)) AS BIGINT) AS t4
             |  FROM wide GROUP BY 1),
             |sc AS (SELECT *,
             |    CAST((CASE WHEN t1 > 0 THEN 1 ELSE 0 END)
             |      + (CASE WHEN t2 > 0 THEN 1 ELSE 0 END)
             |      + (CASE WHEN t3 > 0 THEN 1 ELSE 0 END)
             |      + (CASE WHEN t4 > 0 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS eff_order,
             |    ((t1 > 0 AND m1 = 0) OR (t2 > 0 AND m2 = 0)
             |      OR (t3 > 0 AND m3 = 0) OR (t4 > 0 AND m4 = 0))
             |      AS any_zero,
             |    CAST((
             |      (CASE WHEN t1 > 0 AND m1 > 0 THEN CAST(ROUND(
             |        ln(CAST(m1 AS DOUBLE) / t1), 6) AS DECIMAL(18,6))
             |        ELSE CAST(0 AS DECIMAL(18,6)) END)
             |      + (CASE WHEN t2 > 0 AND m2 > 0 THEN CAST(ROUND(
             |        ln(CAST(m2 AS DOUBLE) / t2), 6) AS DECIMAL(18,6))
             |        ELSE CAST(0 AS DECIMAL(18,6)) END)
             |      + (CASE WHEN t3 > 0 AND m3 > 0 THEN CAST(ROUND(
             |        ln(CAST(m3 AS DOUBLE) / t3), 6) AS DECIMAL(18,6))
             |        ELSE CAST(0 AS DECIMAL(18,6)) END)
             |      + (CASE WHEN t4 > 0 AND m4 > 0 THEN CAST(ROUND(
             |        ln(CAST(m4 AS DOUBLE) / t4), 6) AS DECIMAL(18,6))
             |        ELSE CAST(0 AS DECIMAL(18,6)) END)
             |    ) * 1000000 AS BIGINT) AS sum_u
             |  FROM gw),
             |fin AS (SELECT *,
             |    CASE WHEN eff_order > 0 THEN
             |      (2 * sum_u + eff_order) // (2 * eff_order) END AS mean_u,
             |    CASE WHEN n_hyp >= n_ref THEN 0
             |      ELSE (2 * (n_hyp - n_ref) * 1000000 + n_hyp)
             |        // (2 * n_hyp) END AS bp_u
             |  FROM sc)
             |SELECT source, n_examples, n_ref, n_hyp,
             |  m1, t1, m2, t2, m3, t3, m4, t4, eff_order,
             |  CASE WHEN n_hyp = 0 OR eff_order = 0 OR any_zero
             |    THEN CAST(0 AS DOUBLE)
             |    ELSE ROUND(exp(CAST(mean_u + bp_u AS DOUBLE) / 1000000.0),
             |      6) END AS bleu
             |FROM fin""".stripMargin)),

    // ---- X88: CORPUS-level chrF per source --------------------------------
    // Per-order match/total counts sum per source BEFORE the P/R form
    // (the q_x87 stance at the character level); pure integer ppm.
    Q("q_x88_chrf_corpus",
      (s, d) => {
        val docs = Tables.documents(s, d).filter(col("text").isNotNull)
          .withColumn("toks", TextAnalysis.tokens(col("text")))
          .select(col("doc_id"), col("source"), col("text").as("ref"),
            when(col("doc_id") % 3 === 0,
              concat_ws(" ", slice(col("toks"), 1, 8)))
            .when(col("doc_id") % 3 === 1,
              concat(col("text"), lit(" "), col("text")))
            .otherwise(lit("zzz qqq xxx yyy")).as("hyp"))
        TextAnalysis.chrFCorpus(docs, "ref", "hyp", "source")
      },
      Some("""WITH t AS (SELECT doc_id, source, text AS ref,
             |    list_filter(regexp_split_to_array(text, '\s+'),
             |      x -> x <> '') AS ws
             |  FROM documents WHERE text IS NOT NULL),
             |s AS (SELECT doc_id, source,
             |    regexp_replace(ref, '\s+', '', 'g') AS r,
             |    regexp_replace(CASE CAST(doc_id % 3 AS INT)
             |      WHEN 0 THEN array_to_string(list_slice(ws, 1, 8), ' ')
             |      WHEN 1 THEN ref || ' ' || ref
             |      ELSE 'zzz qqq xxx yyy' END, '\s+', '', 'g') AS h
             |  FROM t),
             |hg AS (SELECT doc_id, n, substr(h, i, n) AS g, COUNT(*) AS ch
             |  FROM (SELECT doc_id, h, n,
             |      unnest(range(1, len(h) - n + 2)) AS i
             |    FROM s, (SELECT unnest([1, 2, 3, 4, 5, 6]) AS n))
             |  GROUP BY 1, 2, 3),
             |rg AS (SELECT doc_id, n, substr(r, i, n) AS g, COUNT(*) AS cr
             |  FROM (SELECT doc_id, r, n,
             |      unnest(range(1, len(r) - n + 2)) AS i
             |    FROM s, (SELECT unnest([1, 2, 3, 4, 5, 6]) AS n))
             |  GROUP BY 1, 2, 3),
             |cl AS (SELECT hg.doc_id, hg.n,
             |    CAST(SUM(LEAST(hg.ch, rg.cr)) AS BIGINT) AS mm
             |  FROM hg JOIN rg ON rg.doc_id = hg.doc_id AND rg.n = hg.n
             |    AND rg.g = hg.g
             |  GROUP BY 1, 2),
             |po AS (SELECT s.doc_id, s.source, o.n,
             |    COALESCE(cl.mm, 0) AS mm,
             |    GREATEST(len(s.h) - o.n + 1, 0) AS th,
             |    GREATEST(len(s.r) - o.n + 1, 0) AS tr,
             |    CAST(len(s.r) AS BIGINT) AS lr,
             |    CAST(len(s.h) AS BIGINT) AS lh
             |  FROM s CROSS JOIN (SELECT unnest([1, 2, 3, 4, 5, 6]) AS n) o
             |  LEFT JOIN cl ON cl.doc_id = s.doc_id AND cl.n = o.n),
             |gsum AS (SELECT source, n,
             |    CAST(SUM(mm) AS BIGINT) AS mm,
             |    CAST(SUM(th) AS BIGINT) AS th,
             |    CAST(SUM(tr) AS BIGINT) AS tr
             |  FROM po GROUP BY 1, 2),
             |lens AS (SELECT source,
             |    CAST(COUNT(*) AS BIGINT) AS n_examples,
             |    CAST(SUM(len(r)) AS BIGINT) AS n_ref_chars,
             |    CAST(SUM(len(h)) AS BIGINT) AS n_hyp_chars
             |  FROM s GROUP BY 1),
             |pr AS (SELECT source,
             |    CAST(SUM(CASE WHEN th > 0
             |      THEN (2 * mm * 1000000 + th) // (2 * th)
             |      ELSE 0 END) AS BIGINT) AS psum,
             |    CAST(SUM(CASE WHEN tr > 0
             |      THEN (2 * mm * 1000000 + tr) // (2 * tr)
             |      ELSE 0 END) AS BIGINT) AS rsum
             |  FROM gsum GROUP BY 1),
             |fin AS (SELECT l.source, l.n_examples, l.n_ref_chars,
             |    l.n_hyp_chars,
             |    (2 * p.psum + 6) // 12 AS p_ppm,
             |    (2 * p.rsum + 6) // 12 AS r_ppm
             |  FROM lens l JOIN pr p USING (source))
             |SELECT source, n_examples, n_ref_chars, n_hyp_chars,
             |  p_ppm, r_ppm,
             |  CASE WHEN 4 * p_ppm + r_ppm > 0 THEN
             |    (2 * 5 * p_ppm * r_ppm + (4 * p_ppm + r_ppm))
             |      // (2 * (4 * p_ppm + r_ppm))
             |  ELSE 0 END AS chrf_ppm
             |FROM fin""".stripMargin)),

    // ---- X90: WER (token-level Levenshtein, the ASR/MT error rate) -------
    // Each doc scored against its successor's text (the q_x77 pairing —
    // real partial overlap, nontrivial distances). The kernel's two-row
    // DP replays in the oracle as the q_x77 ANTI-DIAGONAL recursion with
    // Levenshtein's twists: boundary cells are non-zero (D[i][0]=i,
    // D[0][j]=j), the combiner is least() so dead cells carry m+n+1
    // (zero would win the min and corrupt the frontier), and the
    // substitution cost rides the diagonal neighbor.
    Q("q_x90_wer",
      (s, d) => {
        val docs = Tables.documents(s, d).filter(col("text").isNotNull)
        TextAnalysis.wer(
          docs.select(col("doc_id"), col("text").as("ref"))
            .join(docs.select((col("doc_id") - 1).as("doc_id"),
              col("text").as("hyp")), Seq("doc_id")),
          "ref", "hyp")
      },
      Some("""WITH RECURSIVE
             |p AS (SELECT a.doc_id,
             |    list_filter(regexp_split_to_array(a.text, '\s+'),
             |      x -> x <> '') AS rt,
             |    list_filter(regexp_split_to_array(b.text, '\s+'),
             |      x -> x <> '') AS ht
             |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
             |  WHERE a.text IS NOT NULL AND b.text IS NOT NULL),
             |dims AS (SELECT doc_id, rt, ht, len(rt) AS m, len(ht) AS n
             |  FROM p),
             |r AS (
             |  SELECT doc_id, 0 AS d,
             |    list_transform(range(0, m + 1), i ->
             |      CASE WHEN i = 0 THEN 0 ELSE m + n + 1 END) AS cur,
             |    list_transform(range(0, m + 1), i ->
             |      CASE WHEN i = 0 THEN 0 ELSE m + n + 1 END) AS prev
             |  FROM dims
             |  UNION ALL
             |  SELECT r.doc_id, r.d + 1,
             |    list_transform(range(0, dm.m + 1), i ->
             |      CASE WHEN r.d + 1 - i < 0 OR r.d + 1 - i > dm.n
             |        THEN dm.m + dm.n + 1
             |      WHEN i = 0 THEN r.d + 1
             |      WHEN r.d + 1 - i = 0 THEN i
             |      ELSE least(
             |        r.cur[i] + 1,
             |        r.cur[i + 1] + 1,
             |        r.prev[i] + CASE WHEN dm.rt[i] = dm.ht[r.d + 1 - i]
             |          THEN 0 ELSE 1 END)
             |      END) AS cur,
             |    r.cur AS prev
             |  FROM r JOIN dims dm USING (doc_id)
             |  WHERE r.d < dm.m + dm.n),
             |fin AS (SELECT r.doc_id, r.cur[dm.m + 1] AS edits,
             |    dm.m AS n_ref, dm.n AS n_hyp
             |  FROM r JOIN dims dm USING (doc_id)
             |  WHERE r.d = dm.m + dm.n)
             |SELECT doc_id, CAST(edits AS BIGINT) AS edits,
             |  CAST(n_ref AS BIGINT) AS n_ref, CAST(n_hyp AS BIGINT) AS n_hyp,
             |  CAST(CASE WHEN n_ref > 0 THEN
             |    (2 * edits * 1000000 + n_ref) // (2 * n_ref) END
             |    AS BIGINT) AS wer_ppm
             |FROM fin""".stripMargin)),

    // ---- X97: Flesch readability banding -----------------------------------
    // The educational-quality curation axis in exact micros: per-term
    // half-up ratios, integer constants, the banded verdict. The oracle
    // replays word/sentence/vowel-group counts and both rationals.
    Q("q_x97_readability",
      (s, d) => TextAnalysis.fleschReadability(
        Tables.documents(s, d), "text"),
      Some("""WITH b AS (SELECT doc_id,
             |    list_filter(regexp_split_to_array(lower(text), '\s+'),
             |      x -> x <> '') AS toks,
             |    GREATEST(1, len(regexp_extract_all(text, '[.!?]+')))
             |      AS n_sentences
             |  FROM documents WHERE text IS NOT NULL),
             |syl AS (SELECT doc_id,
             |    SUM(GREATEST(1, len(regexp_extract_all(w, '[aeiouy]+'))))
             |      AS n_syllables
             |  FROM (SELECT doc_id, unnest(toks) AS w FROM b) GROUP BY 1),
             |z AS (SELECT b.doc_id, CAST(len(b.toks) AS BIGINT) AS n_words,
             |    CAST(b.n_sentences AS BIGINT) AS n_sentences,
             |    CAST(COALESCE(syl.n_syllables, 0) AS BIGINT)
             |      AS n_syllables
             |  FROM b LEFT JOIN syl USING (doc_id)),
             |f AS (SELECT *, CASE WHEN n_words > 0 THEN
             |    206835000 -
             |    (2 * 1015000 * n_words + n_sentences)
             |      // (2 * n_sentences) -
             |    (2 * 84600000 * n_syllables + n_words) // (2 * n_words)
             |    END AS flesch_micro
             |  FROM z)
             |SELECT doc_id, n_words, n_sentences, n_syllables,
             |  CAST(flesch_micro AS BIGINT) AS flesch_micro,
             |  CASE WHEN n_words = 0 THEN 'empty'
             |    WHEN flesch_micro >= 90000000 THEN 'very_easy'
             |    WHEN flesch_micro >= 70000000 THEN 'easy'
             |    WHEN flesch_micro >= 50000000 THEN 'standard'
             |    WHEN flesch_micro >= 30000000 THEN 'difficult'
             |    ELSE 'very_difficult' END AS band
             |FROM f""".stripMargin)),

    // ---- X96: source-concentration audit (HHI mixture monitor) ------------
    // One row a mixture planner tracks run-over-run: HHI in exact
    // half-up ppm over documents.source + the effective source count
    // (1e12/hhi) — a drop means one source is quietly eating the mix.
    Q("q_x96_source_hhi",
      (s, d) => graft.operators.Profile.concentration(
        Tables.documents(s, d), "source"),
      Some("""WITH c AS (SELECT source, COUNT(*) AS c FROM documents
             |  GROUP BY 1),
             |z AS (SELECT CAST(SUM(c) AS BIGINT) AS n_rows,
             |    CAST(COUNT(*) AS BIGINT) AS n_groups,
             |    CAST(CASE WHEN SUM(c) > 0 THEN
             |      (2 * SUM(CAST(c AS HUGEINT) * c) * 1000000
             |        + CAST(SUM(c) AS HUGEINT) * SUM(c))
             |      // (2 * CAST(SUM(c) AS HUGEINT) * SUM(c)) END
             |      AS BIGINT) AS hhi_ppm
             |  FROM c)
             |SELECT n_rows, n_groups, hhi_ppm,
             |  CAST(CASE WHEN hhi_ppm > 0 THEN
             |    (2 * CAST(1000000000000 AS HUGEINT) + hhi_ppm)
             |      // (2 * hhi_ppm) END AS BIGINT) AS n_effective_micro
             |FROM z""".stripMargin)),

    // ---- X95: composed DLP audit (PAN x secret-entropy, one verdict) -----
    // The two DLP detectors under ONE quarantine verdict — per doc_id %
    // 6 the text gains: 0 -> a Luhn-VALID PAN, 1 -> a checksum-invalid
    // lookalike, 2 -> a high-entropy key, 3 -> a low-entropy run,
    // 4 -> BOTH quarantine reasons, 5 -> nothing. The fixtures are
    // mutually invisible (spaced PAN groups are under the 20-char key
    // floor; the key alphabet carries no 13-digit run), so each
    // detector's counts stay independent and the composed verdict is
    // exactly has_pan OR n_secrets > 0.
    Q("q_x95_dlp_audit",
      (s, d) => {
        val docs = Tables.documents(s, d).filter(col("text").isNotNull)
          .select(col("doc_id"), concat(col("text"),
            when(col("doc_id") % 6 === 0,
              lit(" card 4539 5787 6362 1486 on file"))
            .when(col("doc_id") % 6 === 1,
              lit(" order 4539578763621487 confirmed"))
            .when(col("doc_id") % 6 === 2, concat(lit(" key "),
              base64(unhex(md5(col("doc_id").cast("string"))))))
            .when(col("doc_id") % 6 === 3,
              lit(" pad aaaaaaaaaaaaaaaaaaaaaaaa"))
            .when(col("doc_id") % 6 === 4, concat(
              lit(" card 4539 5787 6362 1486 key "),
              base64(unhex(md5(col("doc_id").cast("string"))))))
            .otherwise(lit(""))).as("txt"))
        val pan = TextAnalysis.panAudit(docs, "txt")
        val sec = TextAnalysis.secretAudit(docs, "txt")
        pan.select(col("doc_id"),
            col("n_candidates").as("n_pan_candidates"),
            col("n_valid").as("n_valid_pans"), col("has_pan"))
          .join(sec.select(col("doc_id"),
            col("n_candidates").as("n_key_candidates"),
            col("n_secrets")), Seq("doc_id"))
          .withColumn("quarantine",
            col("has_pan") || col("n_secrets") > 0)
      },
      Some("""WITH s AS (SELECT doc_id, text ||
             |    CASE CAST(doc_id % 6 AS INT)
             |      WHEN 0 THEN ' card 4539 5787 6362 1486 on file'
             |      WHEN 1 THEN ' order 4539578763621487 confirmed'
             |      WHEN 2 THEN ' key ' ||
             |        to_base64(unhex(md5(CAST(doc_id AS VARCHAR))))
             |      WHEN 3 THEN ' pad aaaaaaaaaaaaaaaaaaaaaaaa'
             |      WHEN 4 THEN ' card 4539 5787 6362 1486 key ' ||
             |        to_base64(unhex(md5(CAST(doc_id AS VARCHAR))))
             |      ELSE '' END AS txt
             |  FROM documents WHERE text IS NOT NULL),
             |c AS (SELECT doc_id, unnest(regexp_extract_all(txt,
             |    '\b[0-9][0-9 -]{11,21}[0-9]\b')) AS cand FROM s),
             |v AS (SELECT doc_id,
             |    reverse(regexp_replace(cand, '[^0-9]', '', 'g')) AS rd
             |  FROM c),
             |lv AS (SELECT doc_id, len(rd) AS nd,
             |    list_sum(list_transform(range(1, len(rd) + 1), i ->
             |      CASE WHEN i % 2 = 1 THEN CAST(substr(rd, i, 1) AS INT)
             |        WHEN CAST(substr(rd, i, 1) AS INT) * 2 > 9
             |          THEN CAST(substr(rd, i, 1) AS INT) * 2 - 9
             |        ELSE CAST(substr(rd, i, 1) AS INT) * 2 END)) AS lsum
             |  FROM v),
             |pagg AS (SELECT doc_id,
             |    CAST(COUNT(*) AS BIGINT) AS n_pan_candidates,
             |    CAST(COUNT(CASE WHEN nd BETWEEN 13 AND 19
             |      AND lsum % 10 = 0 THEN 1 END) AS BIGINT) AS n_valid_pans
             |  FROM lv GROUP BY 1),
             |kc AS (SELECT doc_id,
             |    unnest(regexp_extract_all(txt,
             |      '[A-Za-z0-9+/=_-]{20,}')) AS cand,
             |    generate_subscripts(regexp_extract_all(txt,
             |      '[A-Za-z0-9+/=_-]{20,}'), 1) AS ci
             |  FROM s),
             |f AS (SELECT doc_id, ci, len(cand) AS n, ch, COUNT(*) AS k
             |  FROM (SELECT doc_id, ci, cand,
             |      unnest(string_split(cand, '')) AS ch FROM kc)
             |  GROUP BY 1, 2, 3, 4),
             |e AS (SELECT doc_id, ci, n,
             |    CAST(SUM(k * CAST(round(ln(k), 6) AS DECIMAL(18,6)))
             |      * 1000000 AS BIGINT) AS klnk_u,
             |    CAST(CAST(round(ln(n), 6) AS DECIMAL(18,6)) * 1000000
             |      AS BIGINT) AS lnn_u
             |  FROM f GROUP BY 1, 2, 3),
             |hb AS (SELECT doc_id,
             |    (2 * GREATEST(0, lnn_u - (2 * klnk_u + n) // (2 * n))
             |      * 1000000 + 693147) // (2 * 693147) AS hbit
             |  FROM e),
             |kagg AS (SELECT doc_id,
             |    CAST(COUNT(*) AS BIGINT) AS n_key_candidates,
             |    CAST(SUM(CASE WHEN hbit >= 4000000 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_secrets
             |  FROM hb GROUP BY 1)
             |SELECT s.doc_id,
             |  COALESCE(pagg.n_pan_candidates, 0) AS n_pan_candidates,
             |  COALESCE(pagg.n_valid_pans, 0) AS n_valid_pans,
             |  COALESCE(pagg.n_valid_pans, 0) > 0 AS has_pan,
             |  COALESCE(kagg.n_key_candidates, 0) AS n_key_candidates,
             |  COALESCE(kagg.n_secrets, 0) AS n_secrets,
             |  (COALESCE(pagg.n_valid_pans, 0) > 0
             |    OR COALESCE(kagg.n_secrets, 0) > 0) AS quarantine
             |FROM s LEFT JOIN pagg USING (doc_id)
             |LEFT JOIN kagg USING (doc_id)""".stripMargin)),

    // ---- X94: WordPiece tokenization (learn -> store -> encode) ----------
    // The BERT-family tokenizer completing the subword trio (BPE q_x24,
    // unigram q_x73). ONE oracle replays the whole chain: position-
    // classed substring candidates (word-initial plain, internal
    // ##-prefixed), the (cnt desc, piece asc) top-64 cut, then greedy
    // longest-match-first as a recursive CTE over (word, pos) with the
    // per-position longest match precomputed as MAX(k) — a mid-word
    // miss UNKs the WHOLE word (the BERT cliff), surfaced in n_unk.
    Q("q_x94_wordpiece",
      (s, d) => {
        val docs = Tables.documents(s, d).filter(col("text").isNotNull)
        val store = TempDirs.scratch("graft-wp-vocab")
        TextAnalysis.writeWordPieceVocab(s,
          TextAnalysis.learnWordPieceVocab(docs, "text",
            maxLen = 4, vocabSize = 64), store)
        TextAnalysis.wordPieceTokenize(docs,
          TextAnalysis.readWordPieceVocab(s, store))
      },
      Some("""WITH RECURSIVE
             |wds AS (SELECT doc_id, unnest(ws) AS w,
             |    unnest(range(1, len(ws) + 1)) AS ord
             |  FROM (SELECT doc_id,
             |          list_filter(regexp_split_to_array(text, '\s+'),
             |            x -> x <> '') AS ws
             |        FROM documents WHERE text IS NOT NULL)),
             |wc AS (SELECT w, COUNT(*) AS occ, len(w) AS n FROM wds
             |  GROUP BY 1),
             |gidx AS (SELECT w, occ, n, k, unnest(range(1, n - k + 2)) AS i
             |  FROM wc, (SELECT unnest([1, 2, 3, 4]) AS k)),
             |cand AS (SELECT CASE WHEN i = 1 THEN substr(w, i, k)
             |    ELSE '##' || substr(w, i, k) END AS piece,
             |    SUM(occ) AS cnt
             |  FROM gidx GROUP BY 1),
             |voc AS (SELECT piece FROM cand
             |  ORDER BY cnt DESC, piece LIMIT 64),
             |bm AS (SELECT g.w, g.i, MAX(g.k) AS bk
             |  FROM gidx g JOIN voc v ON v.piece = CASE WHEN g.i = 1
             |    THEN substr(g.w, g.i, g.k)
             |    ELSE '##' || substr(g.w, g.i, g.k) END
             |  GROUP BY 1, 2),
             |r AS (
             |  SELECT wc.w, wc.n, 1 AS pos, CAST('' AS VARCHAR) AS out,
             |    CAST(0 AS BIGINT) AS np, (wc.n > 100) AS unk
             |  FROM wc
             |  UNION ALL
             |  SELECT r.w, r.n,
             |    CASE WHEN b.bk IS NULL THEN r.n + 1
             |      ELSE r.pos + b.bk END,
             |    CASE WHEN b.bk IS NULL THEN r.out
             |      ELSE r.out ||
             |        CASE WHEN r.out = '' THEN '' ELSE chr(31) END ||
             |        CASE WHEN r.pos = 1 THEN substr(r.w, r.pos, b.bk)
             |          ELSE '##' || substr(r.w, r.pos, b.bk) END END,
             |    CASE WHEN b.bk IS NULL THEN r.np ELSE r.np + 1 END,
             |    r.unk OR b.bk IS NULL
             |  FROM r LEFT JOIN bm b ON b.w = r.w AND b.i = r.pos
             |  WHERE r.pos <= r.n AND NOT r.unk),
             |fin AS (SELECT w,
             |    CASE WHEN unk THEN '[UNK]' ELSE out END AS stoks,
             |    CASE WHEN unk THEN 1 ELSE np END AS np,
             |    CASE WHEN unk THEN 1 ELSE 0 END AS nu
             |  FROM r WHERE unk OR pos = n + 1),
             |seg AS (SELECT wds.doc_id,
             |    string_agg(f.stoks, chr(31) ORDER BY wds.ord) AS wp,
             |    CAST(SUM(f.np) AS BIGINT) AS n_wp,
             |    CAST(SUM(f.nu) AS BIGINT) AS n_unk
             |  FROM wds JOIN fin f ON f.w = wds.w
             |  GROUP BY 1)
             |SELECT d.doc_id, COALESCE(seg.wp, '') AS wp,
             |  CAST(COALESCE(seg.n_wp, 0) AS BIGINT) AS n_wp,
             |  CAST(COALESCE(seg.n_unk, 0) AS BIGINT) AS n_unk
             |FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
             |LEFT JOIN seg USING (doc_id)""".stripMargin)),

    // ---- X101: GPT-2 byte-level pre-tokenizer -> BPE (trainer-visible) --
    // The production split the whitespace proxy was missing: contraction
    // suffixes, space-prefixed runs, whitespace runs yielding their last
    // space. The oracle replays the RE2-safe protected-split rendering
    // (sentinel before each \s\S boundary — provably equivalent to the
    // reference lookahead, PropertySpec pins it against Java's true
    // lookahead), the byte-to-printable whitespace mapping, and the
    // merge-replay over a fixed rank table.
    Q("q_x101_gpt2_pretok",
      (s, d) => TextAnalysis.bpeTokenizeGpt2(Tables.documents(s, d),
        Seq(("Ġ", "t"), ("Ġt", "h"), ("Ġth", "e"),
          ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("e", "r"),
          ("o", "n"), ("r", "e"))),
      Some("""WITH RECURSIVE
             |pt AS (SELECT doc_id, text, flatten(list_transform(
             |    string_split(regexp_replace(text, '(\s)(\S)',
             |      chr(30) || '\1\2', 'g'), chr(30)),
             |    p -> regexp_extract_all(p,
             |      '''s|''t|''re|''ve|''m|''ll|''d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+')))
             |    AS pcs
             |  FROM documents),
             |mp AS (SELECT doc_id, text, list_transform(pcs,
             |    p -> translate(p,
             |      ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13),
             |      chr(288) || chr(265) || chr(266) || chr(267) || chr(268)
             |        || chr(269))) AS mps
             |  FROM pt),
             |mfix AS (SELECT * FROM (VALUES
             |    (chr(288), 't', 0), (chr(288) || 't', 'h', 1),
             |    (chr(288) || 'th', 'e', 2), ('t', 'h', 3), ('th', 'e', 4),
             |    ('i', 'n', 5), ('a', 'n', 6), ('e', 'r', 7), ('o', 'n', 8),
             |    ('r', 'e', 9)) m(a, b, rnk)),
             |pw AS (SELECT DISTINCT w FROM
             |  (SELECT unnest(mps) AS w FROM mp)),
             |""".stripMargin +
        duckBpeApply("rp", "pw", "mfix") + """,
             |pidx AS (SELECT doc_id, i AS idx, w FROM (
             |  SELECT doc_id, unnest(mps) AS w,
             |    unnest(range(1, len(mps) + 1)) AS i FROM mp)),
             |bagg AS (SELECT pidx.doc_id,
             |    string_agg(trim(t.st), ' ' ORDER BY pidx.idx) AS bpe,
             |    SUM(len(string_split(trim(t.st), ' '))) AS n_bpe
             |  FROM pidx JOIN rp_f t ON t.w = pidx.w
             |  GROUP BY 1)
             |SELECT mp.doc_id,
             |  CASE WHEN mp.text IS NULL THEN NULL
             |    ELSE COALESCE(array_to_string(mp.mps, ' '), '') END
             |    AS pretok,
             |  CAST(CASE WHEN mp.text IS NULL THEN NULL
             |    ELSE COALESCE(len(mp.mps), 0) END AS BIGINT) AS n_pieces,
             |  CASE WHEN mp.text IS NULL THEN NULL
             |    ELSE COALESCE(b.bpe, '') END AS bpe,
             |  CAST(CASE WHEN mp.text IS NULL THEN NULL
             |    ELSE COALESCE(b.n_bpe, 0) END AS BIGINT) AS n_bpe
             |FROM mp LEFT JOIN bagg b USING (doc_id)""".stripMargin)),

    // ---- X104: token-distribution KL drift (corpus-refresh alarm) -------
    // Even vs odd doc_ids as reference/new batches; both KL directions
    // over the union vocab with add-1 smoothing. The oracle replays the
    // per-token 6-dp-rounded terms and the exact DECIMAL sum.
    Q("q_x104_token_kl_drift",
      (s, d) => {
        val docs = Tables.documents(s, d)
        TextAnalysis.tokenKlDrift(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1))
      },
      Some("""WITH ta AS (SELECT unnest(list_filter(
             |    regexp_split_to_array(lower(text), '\s+'), x -> x <> ''))
             |    AS tok
             |  FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 0),
             |tb AS (SELECT unnest(list_filter(
             |    regexp_split_to_array(lower(text), '\s+'), x -> x <> ''))
             |    AS tok
             |  FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 1),
             |ca AS (SELECT tok, COUNT(*) AS c FROM ta GROUP BY 1),
             |cb AS (SELECT tok, COUNT(*) AS c FROM tb GROUP BY 1),
             |j AS (SELECT COALESCE(ca.tok, cb.tok) AS tok,
             |    COALESCE(ca.c, 0) AS cca, COALESCE(cb.c, 0) AS ccb
             |  FROM ca FULL OUTER JOIN cb ON cb.tok = ca.tok),
             |tt AS (SELECT SUM(cca) AS na, SUM(ccb) AS nb,
             |    COUNT(*) AS vs FROM j),
             |terms AS (SELECT
             |    CAST(ROUND((CAST(cca + 1 AS DOUBLE) / (na + vs))
             |      * ln((CAST(cca + 1 AS DOUBLE) * (nb + vs))
             |        / (CAST(ccb + 1 AS DOUBLE) * (na + vs))), 6)
             |      AS DECIMAL(18,6)) AS tka,
             |    CAST(ROUND((CAST(ccb + 1 AS DOUBLE) / (nb + vs))
             |      * ln((CAST(ccb + 1 AS DOUBLE) * (na + vs))
             |        / (CAST(cca + 1 AS DOUBLE) * (nb + vs))), 6)
             |      AS DECIMAL(18,6)) AS tkb,
             |    na, nb, vs
             |  FROM j, tt)
             |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
             |  CAST(vs AS BIGINT) AS vocab_size,
             |  CAST(SUM(tka) * 1000000 AS BIGINT) AS kl_ab_micro,
             |  CAST(SUM(tkb) * 1000000 AS BIGINT) AS kl_ba_micro
             |FROM terms GROUP BY na, nb, vs""".stripMargin)),

    // ---- X93: Mikolov phrase mining (collocations for vocab learning) ----
    // The raw (not PMI) score form: one exact cross-multiplied rational
    // per surviving bigram, no logarithm anywhere — the oracle replays
    // every row. min-count 5, discount 5, threshold 1e6 over the natural
    // corpus bigrams.
    Q("q_x93_phrase_mining",
      (s, d) => graft.operators.TextAnalysis.phraseMining(
        Tables.documents(s, d), "text"),
      Some("""WITH t AS (SELECT list_filter(
             |    regexp_split_to_array(lower(text), '\s+'), x -> x <> '')
             |    AS toks
             |  FROM documents WHERE text IS NOT NULL),
             |u AS (SELECT unnest(toks) AS w FROM t),
             |uc AS (SELECT w, COUNT(*) AS cu FROM u GROUP BY 1),
             |nn AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM u),
             |bc AS (SELECT gram, COUNT(*) AS c_ab FROM (
             |    SELECT toks[i] || ' ' || toks[i + 1] AS gram
             |    FROM (SELECT toks, unnest(range(1, len(toks))) AS i
             |      FROM t))
             |  GROUP BY 1 HAVING COUNT(*) >= 5),
             |j AS (SELECT bc.gram, bc.c_ab, ua.cu AS c_a, ub.cu AS c_b
             |  FROM bc
             |  JOIN uc ua ON ua.w = string_split(bc.gram, ' ')[1]
             |  JOIN uc ub ON ub.w = string_split(bc.gram, ' ')[2])
             |SELECT gram, CAST(c_ab AS BIGINT) AS c_ab,
             |  CAST(c_a AS BIGINT) AS c_a, CAST(c_b AS BIGINT) AS c_b,
             |  CAST((2 * GREATEST(CAST(c_ab AS HUGEINT) - 5, 0) * n
             |      * 1000000 + CAST(c_a AS HUGEINT) * c_b)
             |    // (2 * CAST(c_a AS HUGEINT) * c_b) AS BIGINT)
             |    AS score_micros,
             |  (2 * GREATEST(CAST(c_ab AS HUGEINT) - 5, 0) * n * 1000000
             |    + CAST(c_a AS HUGEINT) * c_b)
             |    // (2 * CAST(c_a AS HUGEINT) * c_b) >= 1000000
             |    AS is_phrase
             |FROM j, nn""".stripMargin)),

    // ---- X91: high-entropy secret audit (the panAudit DLP sibling) -------
    // Per doc_id % 3 the text gains: 0 -> a real random-ish key (base64
    // of the doc_id's md5 — deterministic, ~4.2-4.6 bits/char, flags),
    // 1 -> a 24-char repeated run (candidate, exactly 0 bits, never
    // flags), 2 -> nothing appended (natural text only). The oracle
    // replays extraction, per-char counts, the 6-dp-ln entropy in
    // integer micros, and the bits conversion.
    Q("q_x91_secret_audit",
      (s, d) => {
        val docs = Tables.documents(s, d).filter(col("text").isNotNull)
          .select(col("doc_id"),
            when(col("doc_id") % 3 === 0, concat(col("text"), lit(" "),
              base64(unhex(md5(col("doc_id").cast("string"))))))
            .when(col("doc_id") % 3 === 1,
              concat(col("text"), lit(" aaaaaaaaaaaaaaaaaaaaaaaa")))
            .otherwise(col("text")).as("text"))
        TextAnalysis.secretAudit(docs, "text")
      },
      Some("""WITH src AS (SELECT doc_id,
             |    CASE CAST(doc_id % 3 AS INT)
             |      WHEN 0 THEN text || ' ' ||
             |        to_base64(unhex(md5(CAST(doc_id AS VARCHAR))))
             |      WHEN 1 THEN text || ' aaaaaaaaaaaaaaaaaaaaaaaa'
             |      ELSE text END AS text
             |  FROM documents WHERE text IS NOT NULL),
             |c AS (SELECT doc_id,
             |    unnest(regexp_extract_all(text,
             |      '[A-Za-z0-9+/=_-]{20,}')) AS cand,
             |    generate_subscripts(regexp_extract_all(text,
             |      '[A-Za-z0-9+/=_-]{20,}'), 1) AS ci
             |  FROM src),
             |f AS (SELECT doc_id, ci, len(cand) AS n, ch, COUNT(*) AS k
             |  FROM (SELECT doc_id, ci, cand,
             |      unnest(string_split(cand, '')) AS ch FROM c)
             |  GROUP BY 1, 2, 3, 4),
             |e AS (SELECT doc_id, ci, n,
             |    CAST(SUM(k * CAST(round(ln(k), 6) AS DECIMAL(18,6)))
             |      * 1000000 AS BIGINT) AS klnk_u,
             |    CAST(CAST(round(ln(n), 6) AS DECIMAL(18,6)) * 1000000
             |      AS BIGINT) AS lnn_u
             |  FROM f GROUP BY 1, 2, 3),
             |hb AS (SELECT doc_id,
             |    (2 * GREATEST(0, lnn_u - (2 * klnk_u + n) // (2 * n))
             |      * 1000000 + 693147) // (2 * 693147) AS hbit
             |  FROM e),
             |a AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_candidates,
             |    CAST(SUM(CASE WHEN hbit >= 4000000 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_secrets,
             |    CAST(MAX(hbit) AS BIGINT) AS max_entropy_bits_micro
             |  FROM hb GROUP BY 1)
             |SELECT s.doc_id,
             |  COALESCE(a.n_candidates, 0) AS n_candidates,
             |  COALESCE(a.n_secrets, 0) AS n_secrets,
             |  a.max_entropy_bits_micro
             |FROM src s LEFT JOIN a USING (doc_id)""".stripMargin)),

    // ---- X98: CORPUS-level WER per source ---------------------------------
    // The q_x90 successor pairing rolled up the way ASR reports do:
    // edit TOTALS over reference-word totals per the REF doc's source
    // (never a mean of rates). The oracle extends the anti-diagonal
    // recursion with the group sums.
    Q("q_x98_wer_corpus",
      (s, d) => {
        val docs = Tables.documents(s, d).filter(col("text").isNotNull)
        TextAnalysis.werCorpus(
          docs.select(col("doc_id"), col("source"), col("text").as("ref"))
            .join(docs.select((col("doc_id") - 1).as("doc_id"),
              col("text").as("hyp")), Seq("doc_id")),
          "ref", "hyp", "source")
      },
      Some("""WITH RECURSIVE
             |p AS (SELECT a.doc_id, a.source,
             |    list_filter(regexp_split_to_array(a.text, '\s+'),
             |      x -> x <> '') AS rt,
             |    list_filter(regexp_split_to_array(b.text, '\s+'),
             |      x -> x <> '') AS ht
             |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
             |  WHERE a.text IS NOT NULL AND b.text IS NOT NULL),
             |dims AS (SELECT doc_id, source, rt, ht, len(rt) AS m,
             |    len(ht) AS n
             |  FROM p),
             |r AS (
             |  SELECT doc_id, 0 AS d,
             |    list_transform(range(0, m + 1), i ->
             |      CASE WHEN i = 0 THEN 0 ELSE m + n + 1 END) AS cur,
             |    list_transform(range(0, m + 1), i ->
             |      CASE WHEN i = 0 THEN 0 ELSE m + n + 1 END) AS prev
             |  FROM dims
             |  UNION ALL
             |  SELECT r.doc_id, r.d + 1,
             |    list_transform(range(0, dm.m + 1), i ->
             |      CASE WHEN r.d + 1 - i < 0 OR r.d + 1 - i > dm.n
             |        THEN dm.m + dm.n + 1
             |      WHEN i = 0 THEN r.d + 1
             |      WHEN r.d + 1 - i = 0 THEN i
             |      ELSE least(
             |        r.cur[i] + 1,
             |        r.cur[i + 1] + 1,
             |        r.prev[i] + CASE WHEN dm.rt[i] = dm.ht[r.d + 1 - i]
             |          THEN 0 ELSE 1 END)
             |      END) AS cur,
             |    r.cur AS prev
             |  FROM r JOIN dims dm USING (doc_id)
             |  WHERE r.d < dm.m + dm.n),
             |fin AS (SELECT r.doc_id, dm.source,
             |    r.cur[dm.m + 1] AS edits, dm.m AS n_ref, dm.n AS n_hyp
             |  FROM r JOIN dims dm USING (doc_id)
             |  WHERE r.d = dm.m + dm.n)
             |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_examples,
             |  CAST(SUM(edits) AS BIGINT) AS edits,
             |  CAST(SUM(n_ref) AS BIGINT) AS n_ref,
             |  CAST(SUM(n_hyp) AS BIGINT) AS n_hyp,
             |  CAST(CASE WHEN SUM(n_ref) > 0 THEN
             |    (2 * SUM(edits) * 1000000 + SUM(n_ref))
             |      // (2 * SUM(n_ref)) END AS BIGINT) AS wer_ppm
             |FROM fin GROUP BY 1""".stripMargin)),

    // ---- X99: CORPUS-level QA eval per source ------------------------------
    // The q_x89 fixture rolled up SQuAD's way: EM RATE + MEAN of
    // per-example best-F1 per source (the one corpus metric in the
    // family that IS a mean — the official script's convention).
    Q("q_x99_qa_eval_corpus",
      (s, d) => {
        val docs = Tables.documents(s, d).filter(col("text").isNotNull)
          .withColumn("toks", TextAnalysis.tokens(col("text")))
          .select(col("doc_id"), col("source"),
            array(col("text"),
              concat_ws(" ", slice(col("toks"), 1, 3))).as("golds"),
            when(col("doc_id") % 4 === 0, col("text"))
              .when(col("doc_id") % 4 === 1,
                concat_ws(" ", slice(col("toks"), 1, 6)))
              .when(col("doc_id") % 4 === 2,
                concat(upper(col("text")), lit("!!!")))
              .otherwise(lit("zzz qqq")).as("pred"))
        TextAnalysis.qaEvalCorpus(docs, "golds", "pred", "source")
      },
      Some("""WITH d AS (SELECT doc_id, source, text,
             |    list_filter(regexp_split_to_array(text, '\s+'),
             |      x -> x <> '') AS tk
             |  FROM documents WHERE text IS NOT NULL),
             |b AS (SELECT doc_id, source,
             |    [text, COALESCE(array_to_string(list_slice(tk, 1, 3), ' '),
             |      '')] AS golds,
             |    CASE CAST(doc_id % 4 AS INT)
             |      WHEN 0 THEN text
             |      WHEN 1 THEN COALESCE(
             |        array_to_string(list_slice(tk, 1, 6), ' '), '')
             |      WHEN 2 THEN upper(text) || '!!!'
             |      ELSE 'zzz qqq' END AS pred
             |  FROM d),
             |pt AS (SELECT doc_id,
             |    list_filter(regexp_split_to_array(
             |      regexp_replace(lower(pred), '[^a-z0-9\s]', '', 'g'),
             |      '\s+'),
             |      t -> t <> '' AND t NOT IN ('a', 'an', 'the')) AS ptk
             |  FROM b),
             |g AS (SELECT doc_id, gi,
             |    list_filter(regexp_split_to_array(
             |      regexp_replace(lower(gold), '[^a-z0-9\s]', '', 'g'),
             |      '\s+'),
             |      t -> t <> '' AND t NOT IN ('a', 'an', 'the')) AS gtk
             |  FROM (SELECT doc_id, unnest(golds) AS gold,
             |      generate_subscripts(golds, 1) AS gi FROM b)),
             |gc AS (SELECT doc_id, gi, tok, COUNT(*) AS cg
             |  FROM (SELECT doc_id, gi, unnest(gtk) AS tok FROM g)
             |  GROUP BY 1, 2, 3),
             |pcnt AS (SELECT doc_id, tok, COUNT(*) AS cp
             |  FROM (SELECT doc_id, unnest(ptk) AS tok FROM pt)
             |  GROUP BY 1, 2),
             |m AS (SELECT doc_id, gi, SUM(LEAST(cg, cp)) AS m
             |  FROM gc JOIN pcnt USING (doc_id, tok) GROUP BY 1, 2),
             |per AS (SELECT g.doc_id, g.gi, len(g.gtk) AS ng,
             |    len(p.ptk) AS np, COALESCE(m.m, 0) AS m,
             |    COALESCE(array_to_string(g.gtk, ' '), '') AS gn,
             |    COALESCE(array_to_string(p.ptk, ' '), '') AS pn
             |  FROM g JOIN pt p USING (doc_id)
             |  LEFT JOIN m USING (doc_id, gi)),
             |f AS (SELECT doc_id,
             |    CASE WHEN ng = 0 OR np = 0 THEN
             |      CASE WHEN ng = 0 AND np = 0 THEN 1000000 ELSE 0 END
             |    ELSE (4 * m * 1000000 + (ng + np)) // (2 * (ng + np))
             |    END AS f1,
             |    CASE WHEN gn = pn THEN 1 ELSE 0 END AS em
             |  FROM per),
             |ex AS (SELECT doc_id, MAX(em) AS em, MAX(f1) AS bf
             |  FROM f GROUP BY 1)
             |SELECT b.source, CAST(COUNT(*) AS BIGINT) AS n_examples,
             |  CAST(SUM(ex.em) AS BIGINT) AS n_exact,
             |  CAST((2 * SUM(ex.em) * 1000000 + COUNT(*))
             |    // (2 * COUNT(*)) AS BIGINT) AS em_ppm,
             |  CAST((2 * SUM(ex.bf) + COUNT(*)) // (2 * COUNT(*))
             |    AS BIGINT) AS mean_f1_ppm
             |FROM b JOIN ex USING (doc_id)
             |GROUP BY 1""".stripMargin)),

    // ---- X89: SQuAD QA eval (token-bag F1 + EM, max over golds) ----------
    // Golds = [full text, first-3-tokens]; pred per doc_id % 4 exercises
    // every branch: 0 -> the text itself (EM through identity), 1 -> the
    // first 6 raw tokens (partial bag overlap vs both golds), 2 -> the
    // UPPERCASED text with punctuation appended (EM must survive the
    // normalization), 3 -> two alien tokens (zero overlap). The oracle
    // replays normalization, per-gold clipped bag intersection, the
    // empty-side rule, and max-over-golds.
    Q("q_x89_qa_eval",
      (s, d) => {
        val docs = Tables.documents(s, d).filter(col("text").isNotNull)
          .withColumn("toks", TextAnalysis.tokens(col("text")))
          .select(col("doc_id"),
            array(col("text"),
              concat_ws(" ", slice(col("toks"), 1, 3))).as("golds"),
            when(col("doc_id") % 4 === 0, col("text"))
              .when(col("doc_id") % 4 === 1,
                concat_ws(" ", slice(col("toks"), 1, 6)))
              .when(col("doc_id") % 4 === 2,
                concat(upper(col("text")), lit("!!!")))
              .otherwise(lit("zzz qqq")).as("pred"))
        TextAnalysis.qaEval(docs, "golds", "pred")
      },
      Some("""WITH d AS (SELECT doc_id, text,
             |    list_filter(regexp_split_to_array(text, '\s+'),
             |      x -> x <> '') AS tk
             |  FROM documents WHERE text IS NOT NULL),
             |b AS (SELECT doc_id,
             |    [text, COALESCE(array_to_string(list_slice(tk, 1, 3), ' '),
             |      '')] AS golds,
             |    CASE CAST(doc_id % 4 AS INT)
             |      WHEN 0 THEN text
             |      WHEN 1 THEN COALESCE(
             |        array_to_string(list_slice(tk, 1, 6), ' '), '')
             |      WHEN 2 THEN upper(text) || '!!!'
             |      ELSE 'zzz qqq' END AS pred
             |  FROM d),
             |pt AS (SELECT doc_id,
             |    list_filter(regexp_split_to_array(
             |      regexp_replace(lower(pred), '[^a-z0-9\s]', '', 'g'),
             |      '\s+'),
             |      t -> t <> '' AND t NOT IN ('a', 'an', 'the')) AS ptk
             |  FROM b),
             |g AS (SELECT doc_id, gi,
             |    list_filter(regexp_split_to_array(
             |      regexp_replace(lower(gold), '[^a-z0-9\s]', '', 'g'),
             |      '\s+'),
             |      t -> t <> '' AND t NOT IN ('a', 'an', 'the')) AS gtk
             |  FROM (SELECT doc_id, unnest(golds) AS gold,
             |      generate_subscripts(golds, 1) AS gi FROM b)),
             |gc AS (SELECT doc_id, gi, tok, COUNT(*) AS cg
             |  FROM (SELECT doc_id, gi, unnest(gtk) AS tok FROM g)
             |  GROUP BY 1, 2, 3),
             |pcnt AS (SELECT doc_id, tok, COUNT(*) AS cp
             |  FROM (SELECT doc_id, unnest(ptk) AS tok FROM pt)
             |  GROUP BY 1, 2),
             |m AS (SELECT doc_id, gi, SUM(LEAST(cg, cp)) AS m
             |  FROM gc JOIN pcnt USING (doc_id, tok) GROUP BY 1, 2),
             |per AS (SELECT g.doc_id, g.gi, len(g.gtk) AS ng,
             |    len(p.ptk) AS np, COALESCE(m.m, 0) AS m,
             |    COALESCE(array_to_string(g.gtk, ' '), '') AS gn,
             |    COALESCE(array_to_string(p.ptk, ' '), '') AS pn
             |  FROM g JOIN pt p USING (doc_id)
             |  LEFT JOIN m USING (doc_id, gi)),
             |f AS (SELECT doc_id,
             |    CASE WHEN ng = 0 OR np = 0 THEN
             |      CASE WHEN ng = 0 AND np = 0 THEN 1000000 ELSE 0 END
             |    ELSE (4 * m * 1000000 + (ng + np)) // (2 * (ng + np))
             |    END AS f1,
             |    CASE WHEN gn = pn THEN 1 ELSE 0 END AS em
             |  FROM per)
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_golds,
             |  MAX(em) = 1 AS exact_match,
             |  CAST(MAX(f1) AS BIGINT) AS best_f1_ppm
             |FROM f GROUP BY 1""".stripMargin)),

    // ---- X75: interpolated Kneser-Ney bigram LM (the KenLM default) -----
    // Trains on the even-doc half, scores EVERY doc — held-out docs
    // exercise the unseen-bigram discount, the unseen-context
    // continuation backoff, and the OOV-null convention in real data.
    // The probability is ONE exact rational (num/den in HUGEINT /
    // DECIMAL(38,0)); ln hits once per bigram at 6 dp (the q_x27
    // contract); the per-doc average is exact half-up micros.
    Q("q_x75_kn_lm",
      (s, d) => {
        val docs = Tables.documents(s, d)
        TextAnalysis.knBigramNll(docs.filter(col("doc_id") % 2 === 0),
          docs, "text", "doc_id")
      },
      Some(duckKnLm)),

    // ---- X79: KN scoring from the PERSISTED model store ------------------
    // writeKnCounts persists the four exact-integer KN relations; the
    // store-scored batch is byte-identical to the in-job chain, so this
    // query shares q_x75's oracle VERBATIM — output equality is the
    // equivalence proof (the q_x41/q_x53 store-twin discipline).
    Q("q_x79_kn_lm_store",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val store = TempDirs.scratch("graft-kn-store")
        TextAnalysis.writeKnCounts(
          docs.filter(col("doc_id") % 2 === 0), "text", store)
        TextAnalysis.knBigramNllFromStore(s, store, docs, "text", "doc_id")
      },
      Some(duckKnLm)),

    // ---- X84: interpolated Kneser-Ney TRIGRAM LM --------------------------
    // q_x75's recursion one rung up (the KenLM order chain): trigram ->
    // continuation-count bigram -> continuation unigram, each rung with
    // its own counts-of-counts discount, the whole probability ONE
    // exact rational. Same two-corpus shape (train on the even half,
    // score every doc) so unseen contexts/middles/OOV all fire on real
    // data. The oracle unrolls the full recursion as CTEs.
    Q("q_x84_kn3_lm",
      (s, d) => {
        val docs = Tables.documents(s, d)
        TextAnalysis.knTrigramNll(docs.filter(col("doc_id") % 2 === 0),
          docs, "text", "doc_id")
      },
      Some(duckKn3)),

    // ---- X86: KN-trigram scoring from the PERSISTED model store ----------
    // writeKn3Counts persists the six exact-integer relations (incl. the
    // continuation-count rung); the store-scored batch is byte-identical
    // to the in-job chain, so this query shares q_x84's oracle VERBATIM
    // (the q_x79 store-twin discipline).
    Q("q_x86_kn3_store",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val store = TempDirs.scratch("graft-kn3-store")
        TextAnalysis.writeKn3Counts(
          docs.filter(col("doc_id") % 2 === 0), "text", store)
        TextAnalysis.knTrigramNllFromStore(s, store, docs, "text", "doc_id")
      },
      Some(duckKn3)),

    // ---- X74: fill-in-the-middle transformation (code-corpus prep) ------
    // Bavarian et al. PSM rearrangement at a 50% deterministic rate:
    // md5-seeded selection + two md5-seeded character cuts, sentinels
    // inline. The oracle replays the u32 draws, the mod-(len+1) cuts,
    // and every substring boundary — incl. empty spans (a cut at 0 or
    // len is a legitimate outcome, not an edge to skip).
    Q("q_x74_fim",
      (s, d) => TextAnalysis.fimTransform(Tables.documents(s, d),
        "text", "doc_id", salt = "fim1", fimPpm = 500000L),
      Some("""WITH u AS (SELECT doc_id, text,
             |    CAST('0x' || substr(md5('fim1|sel|'
             |      || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS us,
             |    CAST('0x' || substr(md5('fim1|c1|'
             |      || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS u1,
             |    CAST('0x' || substr(md5('fim1|c2|'
             |      || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS u2
             |  FROM documents),
             |c AS (SELECT doc_id, text,
             |    text IS NOT NULL
             |      AND us * 1000000 < 500000 * 4294967296 AS fim,
             |    u1 % (len(text) + 1) AS c1, u2 % (len(text) + 1) AS c2
             |  FROM u)
             |SELECT doc_id, fim,
             |  CASE WHEN fim THEN
             |    '<PRE>' || substr(text, 1, CAST(LEAST(c1, c2) AS INT))
             |    || '<SUF>' || substr(text,
             |         CAST(GREATEST(c1, c2) + 1 AS INT))
             |    || '<MID>' || substr(text, CAST(LEAST(c1, c2) + 1 AS INT),
             |         CAST(GREATEST(c1, c2) - LEAST(c1, c2) AS INT))
             |  ELSE text END AS text_out
             |FROM c""".stripMargin)),

    // ---- X38: equi-depth length discretization (quartile bins) ----------
    // Exact interpolated 25/50/75 boundaries via one global aggregate
    // (the winsorize mechanism), broadcast; bin = #{b : x > b} so
    // boundary ties land deterministically in the lower bucket. The
    // doc-length feature a mixture recipe stratifies on.
    Q("q_x38_bucketize",
      (s, d) => graft.operators.Features.equiDepthBins(
        Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
        "n_chars", 4),
      Some("""WITH b AS (SELECT
             |    ROUND(quantile_cont(n_chars, 0.25), 6) AS b1,
             |    ROUND(quantile_cont(n_chars, 0.50), 6) AS b2,
             |    ROUND(quantile_cont(n_chars, 0.75), 6) AS b3
             |  FROM documents)
             |SELECT doc_id, n_chars,
             |  CAST(CASE WHEN n_chars IS NULL THEN NULL ELSE
             |    (n_chars > b1)::int + (n_chars > b2)::int + (n_chars > b3)::int
             |  END AS INT) AS n_chars_bin
             |FROM documents, b""".stripMargin)),

    // ---- X67: curriculum data ordering (easy -> hard, salted in-tier) ---
    // The training-schedule op: equi-depth difficulty tiers over n_chars
    // (shortest = easiest first), md5-salted shuffle within a tier, and
    // a gapless global schedule index composed from tier offsets (B-row
    // driver-bounded read) + a PARTITIONED rank — no global window. A
    // new salt reshuffles the epoch without touching the tier structure.
    Q("q_x67_curriculum",
      (s, d) => graft.operators.Sampling.curriculumOrder(
        Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
        "n_chars", "doc_id", nTiers = 4, salt = "cur1"),
      Some("""WITH b AS (SELECT
             |    ROUND(quantile_cont(n_chars, 0.25), 6) AS b1,
             |    ROUND(quantile_cont(n_chars, 0.50), 6) AS b2,
             |    ROUND(quantile_cont(n_chars, 0.75), 6) AS b3
             |  FROM documents),
             |tiers AS (SELECT doc_id,
             |    (n_chars > b1)::int + (n_chars > b2)::int
             |      + (n_chars > b3)::int AS tier
             |  FROM documents, b WHERE n_chars IS NOT NULL),
             |r AS (SELECT doc_id, tier,
             |    row_number() OVER (PARTITION BY tier
             |      ORDER BY md5('cur1|' || CAST(doc_id AS VARCHAR)), doc_id)
             |      AS rn
             |  FROM tiers),
             |off AS (SELECT tier, COUNT(*) AS n FROM tiers GROUP BY 1),
             |cum AS (SELECT tier, SUM(n) OVER (ORDER BY tier) - n AS o
             |  FROM off)
             |SELECT r.doc_id, CAST(r.tier AS INT) AS tier,
             |  CAST(c.o + r.rn - 1 AS BIGINT) AS curriculum_idx
             |FROM r JOIN cum c USING (tier)""".stripMargin)),

    // ---- X70: composed training-mix build (mixture -> curriculum) -------
    // The "build tonight's training mix" chain as ONE oracle-hashed
    // query: exact-quota mixture sampling (40/25/35 of the three listed
    // sources, lowest-md5 docs) -> the sampled subset joined back to its
    // difficulty proxy -> curriculum ordering with tiers cut on the
    // SAMPLED distribution (not the corpus's). Two proven operators,
    // composition proven by the shared hash.
    Q("q_x70_training_mix",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val mix = graft.operators.Sampling.mixtureSample(docs, "source",
          "doc_id", "mix2", Map("src0" -> 40, "src1" -> 25, "src2" -> 35))
        graft.operators.Sampling.curriculumOrder(
          mix.join(docs.select(col("doc_id"), col("n_chars")),
            Seq("doc_id")),
          "n_chars", "doc_id", nTiers = 4, salt = "cur2")
      },
      Some("""WITH mix AS (SELECT doc_id, n_chars FROM (
             |  SELECT doc_id, n_chars, source, row_number() OVER (
             |    PARTITION BY source
             |    ORDER BY md5('mix2|' || CAST(doc_id AS VARCHAR)), doc_id)
             |    AS rn
             |  FROM documents WHERE source IN ('src0', 'src1', 'src2'))
             |  WHERE rn <= CASE source WHEN 'src0' THEN 40
             |                          WHEN 'src1' THEN 25 ELSE 35 END),
             |b AS (SELECT
             |    ROUND(quantile_cont(n_chars, 0.25), 6) AS b1,
             |    ROUND(quantile_cont(n_chars, 0.50), 6) AS b2,
             |    ROUND(quantile_cont(n_chars, 0.75), 6) AS b3
             |  FROM mix),
             |tiers AS (SELECT doc_id,
             |    (n_chars > b1)::int + (n_chars > b2)::int
             |      + (n_chars > b3)::int AS tier
             |  FROM mix, b WHERE n_chars IS NOT NULL),
             |r AS (SELECT doc_id, tier,
             |    row_number() OVER (PARTITION BY tier
             |      ORDER BY md5('cur2|' || CAST(doc_id AS VARCHAR)), doc_id)
             |      AS rn
             |  FROM tiers),
             |off AS (SELECT tier, COUNT(*) AS n FROM tiers GROUP BY 1),
             |cum AS (SELECT tier, SUM(n) OVER (ORDER BY tier) - n AS o
             |  FROM off)
             |SELECT r.doc_id, CAST(r.tier AS INT) AS tier,
             |  CAST(c.o + r.rn - 1 AS BIGINT) AS curriculum_idx
             |FROM r JOIN cum c USING (tier)""".stripMargin)),

    // ---- X68: data-constrained mixture planning (epoch budgeting) -------
    // Muennighoff et al.: per-domain token quota vs availability, epochs
    // capped at 4, unmet remainder reported. Weights cover a weighted-
    // but-absent domain (srcZZ: full quota unmet) and leave most corpus
    // sources unweighted (quota 0) — both audit branches exercised.
    Q("q_x68_epoch_plan",
      (s, d) => graft.operators.Sampling.epochPlan(
        Tables.documents(s, d).select(col("source"),
          size(TextAnalysis.tokens(col("text"))).as("n_tokens")),
        "source", "n_tokens",
        weightsMicros = Map("src0" -> 400000L, "src1" -> 300000L,
          "src2" -> 50000L, "srcZZ" -> 100000L),
        totalTokens = 100000L, maxEpochs = 4),
      Some(s"""WITH tk AS (SELECT source, len($duckToks) AS nt FROM documents),
              |a AS (SELECT source AS domain,
              |    CAST(SUM(nt) AS BIGINT) AS available_tokens
              |  FROM tk GROUP BY 1),
              |w AS (SELECT * FROM (VALUES ('src0', 400000), ('src1', 300000),
              |    ('src2', 50000), ('srcZZ', 100000)) v(domain, w_m)),
              |j AS (SELECT COALESCE(a.domain, w.domain) AS domain,
              |    COALESCE(a.available_tokens, 0) AS available_tokens,
              |    COALESCE((CAST(w.w_m AS BIGINT) * 100000) // 1000000, 0)
              |      AS quota_tokens
              |  FROM a FULL OUTER JOIN w ON a.domain = w.domain),
              |e AS (SELECT domain, available_tokens, quota_tokens,
              |    CASE WHEN quota_tokens = 0 OR available_tokens = 0 THEN 0
              |      ELSE LEAST((quota_tokens + available_tokens - 1)
              |                 // available_tokens, 4) END AS epochs
              |  FROM j)
              |SELECT domain,
              |  CAST(available_tokens AS BIGINT) AS available_tokens,
              |  CAST(quota_tokens AS BIGINT) AS quota_tokens,
              |  CAST(epochs AS BIGINT) AS epochs,
              |  CAST(LEAST(quota_tokens, epochs * available_tokens) AS BIGINT)
              |    AS effective_tokens,
              |  CAST(quota_tokens - LEAST(quota_tokens,
              |    epochs * available_tokens) AS BIGINT) AS unmet_tokens
              |FROM e""".stripMargin))
  )

  /** q_x73's oracle CTE chain (learner replay + Viterbi recursion +
    * backtrace, ending at `wseg(w, stoks, np)` with `wds` the
    * per-doc word stream) — shared by the tokenize and fertility
    * tails. */
  private val duckUnigramCtes: String =
    ("""WITH RECURSIVE
             |wds AS (SELECT doc_id, unnest(ws) AS w,
             |    unnest(range(1, len(ws) + 1)) AS ord
             |  FROM (SELECT doc_id,
             |          list_filter(regexp_split_to_array(text, '\s+'),
             |            x -> x <> '') AS ws
             |        FROM documents WHERE text IS NOT NULL)),
             |wc AS (SELECT w, COUNT(*) AS occ, len(w) AS n FROM wds
             |  GROUP BY 1),
             |gidx AS (SELECT w, occ, k, unnest(range(1, n - k + 2)) AS i
             |  FROM wc, (SELECT unnest([1, 2, 3, 4]) AS k)),
             |cand AS (SELECT substr(w, i, k) AS piece, SUM(occ) AS cnt
             |  FROM gidx GROUP BY 1),
             |tot AS (SELECT SUM(cnt) AS t FROM cand),
             |voc AS (SELECT piece, cnt FROM cand
             |  ORDER BY cnt DESC, piece LIMIT 48),
             |wt AS (SELECT piece,
             |    -(len(bin(t)) - len(bin(cnt))) * 1000000 AS wm
             |  FROM voc, tot),
             |pwp AS (SELECT w, e,
             |    MAX(CASE WHEN k = 1 THEN wm END) AS w1,
             |    MAX(CASE WHEN k = 2 THEN wm END) AS w2,
             |    MAX(CASE WHEN k = 3 THEN wm END) AS w3,
             |    MAX(CASE WHEN k = 4 THEN wm END) AS w4
             |  FROM (SELECT g.w, g.i + g.k - 1 AS e, g.k,
             |          COALESCE(wt.wm,
             |            CASE WHEN g.k = 1 THEN -20000000 END) AS wm
             |        FROM gidx g
             |        LEFT JOIN wt ON wt.piece = substr(g.w, g.i, g.k))
             |  GROUP BY 1, 2),
             |r AS (
             |  SELECT w, 0 AS i, CAST(0 AS BIGINT) AS d0,
             |    CAST(NULL AS BIGINT) AS d1, CAST(NULL AS BIGINT) AS d2,
             |    CAST(NULL AS BIGINT) AS d3, '' AS bps, n
             |  FROM wc
             |  UNION ALL
             |  SELECT r.w, r.i + 1,
             |    greatest(r.d0 + p.w1, r.d1 + p.w2, r.d2 + p.w3,
             |      r.d3 + p.w4),
             |    r.d0, r.d1, r.d2,
             |    r.bps || CAST(CASE
             |      WHEN r.d3 + p.w4 = greatest(r.d0 + p.w1, r.d1 + p.w2,
             |        r.d2 + p.w3, r.d3 + p.w4) THEN 4
             |      WHEN r.d2 + p.w3 = greatest(r.d0 + p.w1, r.d1 + p.w2,
             |        r.d2 + p.w3, r.d3 + p.w4) THEN 3
             |      WHEN r.d1 + p.w2 = greatest(r.d0 + p.w1, r.d1 + p.w2,
             |        r.d2 + p.w3, r.d3 + p.w4) THEN 2
             |      ELSE 1 END AS VARCHAR),
             |    r.n
             |  FROM r JOIN pwp p ON p.w = r.w AND p.e = r.i + 1
             |  WHERE r.i < r.n),
             |fin AS (SELECT w, bps, n FROM r WHERE i = n),
             |bt AS (
             |  SELECT w, n AS pos, CAST(substr(bps, n, 1) AS INT) AS k
             |  FROM fin
             |  UNION ALL
             |  SELECT b.w, b.pos - b.k,
             |    CAST(substr(f.bps, b.pos - b.k, 1) AS INT)
             |  FROM bt b JOIN fin f USING (w)
             |  WHERE b.pos - b.k > 0),
             |wseg AS (SELECT w,
             |    '▁' || string_agg(substr(w, pos - k + 1, k), chr(31)
             |      ORDER BY pos) AS stoks,
             |    CAST(COUNT(*) AS BIGINT) AS np
             |  FROM bt GROUP BY 1)""").stripMargin


  /** q_x75's oracle (KN training-relation replay + the exact-rational
    * scoring tail) — shared VERBATIM by the store-scored q_x79: the
    * persisted relations are exact integers, so output equality is
    * the equivalence proof. */
  private val duckKnLm: String =
    ("""WITH t AS (SELECT doc_id,
             |    list_filter(regexp_split_to_array(lower(text), '\s+'),
             |      x -> x <> '') AS toks
             |  FROM documents),
             |bi AS (SELECT doc_id,
             |    toks[i] || ' ' || toks[i+1] AS gram,
             |    toks[i] AS v, toks[i+1] AS w
             |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
             |        FROM t WHERE len(toks) >= 2)),
             |bc AS (SELECT gram, COUNT(*) AS cb,
             |    MIN(v) AS v, MIN(w) AS w
             |  FROM bi WHERE doc_id % 2 = 0 GROUP BY 1),
             |ctx AS (SELECT v, CAST(SUM(cb) AS BIGINT) AS cv,
             |    CAST(COUNT(*) AS BIGINT) AS nv FROM bc GROUP BY 1),
             |cont AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS nw
             |  FROM bc GROUP BY 1),
             |disc AS (SELECT
             |    CAST(COUNT(CASE WHEN cb = 1 THEN 1 END) AS BIGINT) AS n1,
             |    GREATEST(COUNT(CASE WHEN cb = 1 THEN 1 END)
             |      + 2 * COUNT(CASE WHEN cb = 2 THEN 1 END), 1) AS b,
             |    CAST(COUNT(*) AS BIGINT) AS bt
             |  FROM bc),
             |sc AS (SELECT s.doc_id,
             |    CASE WHEN nm > 0 THEN
             |      CAST(ROUND(ln(CAST(nm AS DOUBLE) / CAST(dn AS DOUBLE)),
             |        6) AS DECIMAL(18,6)) END AS lp
             |  FROM (SELECT bi.doc_id,
             |      CASE WHEN ctx.cv IS NOT NULL THEN
             |        GREATEST(CAST(COALESCE(bc.cb, 0) AS HUGEINT) * d.b
             |          - d.n1, 0) * d.bt
             |        + CAST(d.n1 AS HUGEINT) * ctx.nv * COALESCE(cont.nw, 0)
             |      ELSE CAST(COALESCE(cont.nw, 0) AS HUGEINT) END AS nm,
             |      CASE WHEN ctx.cv IS NOT NULL THEN
             |        CAST(d.b AS HUGEINT) * ctx.cv * d.bt
             |      ELSE CAST(d.bt AS HUGEINT) END AS dn
             |    FROM bi
             |    LEFT JOIN bc USING (gram)
             |    LEFT JOIN ctx ON ctx.v = bi.v
             |    LEFT JOIN cont ON cont.w = bi.w
             |    CROSS JOIN disc d) s),
             |pd AS (SELECT doc_id,
             |    CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             |    CAST(COUNT(CASE WHEN lp IS NULL THEN 1 END) AS BIGINT)
             |      AS n_oov,
             |    CASE WHEN COUNT(lp) > 0 THEN
             |      CAST((2 * CAST(-SUM(lp) * 1000000 AS BIGINT)
             |        + COUNT(lp)) // (2 * COUNT(lp)) AS DOUBLE) / 1000000.0
             |      END AS avg_nll
             |  FROM sc GROUP BY 1)
             |SELECT d.doc_id,
             |  COALESCE(pd.n_bigrams, 0) AS n_bigrams,
             |  COALESCE(pd.n_oov, 0) AS n_oov, pd.avg_nll
             |FROM documents d LEFT JOIN pd USING (doc_id)""").stripMargin

  /** q_x84's oracle (the full KN-trigram recursion unrolled: trigram
    * counts → continuation counts → rollups → the two-rung rational) —
    * shared VERBATIM by the store-scored q_x86. */
  private val duckKn3: String =
    ("""WITH t AS (SELECT doc_id,
             |    list_filter(regexp_split_to_array(lower(text), '\s+'),
             |      x -> x <> '') AS toks
             |  FROM documents),
             |tg AS (SELECT doc_id,
             |    toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS gram,
             |    toks[i] AS u, toks[i+1] AS v, toks[i+2] AS w
             |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i
             |        FROM t WHERE len(toks) >= 3)),
             |tc AS (SELECT gram, COUNT(*) AS c3,
             |    MIN(u) AS u, MIN(v) AS v, MIN(w) AS w
             |  FROM tg WHERE doc_id % 2 = 0 GROUP BY 1),
             |ctx AS (SELECT u, v, CAST(SUM(c3) AS BIGINT) AS cuv,
             |    CAST(COUNT(*) AS BIGINT) AS nuv FROM tc GROUP BY 1, 2),
             |ccr AS (SELECT v, w, CAST(COUNT(*) AS BIGINT) AS cc
             |  FROM tc GROUP BY 1, 2),
             |mcr AS (SELECT v, CAST(SUM(cc) AS BIGINT) AS cmid,
             |    CAST(COUNT(*) AS BIGINT) AS nvm FROM ccr GROUP BY 1),
             |ctr AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS nw
             |  FROM ccr GROUP BY 1),
             |d3 AS (SELECT
             |    CAST(COUNT(CASE WHEN c3 = 1 THEN 1 END) AS BIGINT) AS n1_3,
             |    GREATEST(COUNT(CASE WHEN c3 = 1 THEN 1 END)
             |      + 2 * COUNT(CASE WHEN c3 = 2 THEN 1 END), 1) AS b3
             |  FROM tc),
             |d2 AS (SELECT
             |    CAST(COUNT(CASE WHEN cc = 1 THEN 1 END) AS BIGINT) AS n1_2,
             |    GREATEST(COUNT(CASE WHEN cc = 1 THEN 1 END)
             |      + 2 * COUNT(CASE WHEN cc = 2 THEN 1 END), 1) AS b2,
             |    CAST(COUNT(*) AS BIGINT) AS bt
             |  FROM ccr),
             |sc AS (SELECT s.doc_id,
             |    CASE WHEN nm > 0 THEN
             |      CAST(ROUND(ln(CAST(nm AS DOUBLE) / CAST(dn AS DOUBLE)),
             |        6) AS DECIMAL(18,6)) END AS lp
             |  FROM (SELECT tg.doc_id,
             |      CASE WHEN ctx.cuv IS NOT NULL THEN
             |        GREATEST(CAST(COALESCE(tc.c3, 0) AS HUGEINT) * da.b3
             |            - da.n1_3, 0)
             |          * (CAST(db.b2 AS HUGEINT) * mcr.cmid * db.bt)
             |        + CAST(da.n1_3 AS HUGEINT) * ctx.nuv
             |          * (GREATEST(CAST(COALESCE(ccr.cc, 0) AS HUGEINT)
             |              * db.b2 - db.n1_2, 0) * db.bt
             |            + CAST(db.n1_2 AS HUGEINT) * mcr.nvm
             |              * COALESCE(ctr.nw, 0))
             |      WHEN mcr.cmid IS NOT NULL THEN
             |        GREATEST(CAST(COALESCE(ccr.cc, 0) AS HUGEINT) * db.b2
             |            - db.n1_2, 0) * db.bt
             |        + CAST(db.n1_2 AS HUGEINT) * mcr.nvm
             |          * COALESCE(ctr.nw, 0)
             |      ELSE CAST(COALESCE(ctr.nw, 0) AS HUGEINT) END AS nm,
             |      CASE WHEN ctx.cuv IS NOT NULL THEN
             |        CAST(da.b3 AS HUGEINT) * ctx.cuv
             |          * (CAST(db.b2 AS HUGEINT) * mcr.cmid * db.bt)
             |      WHEN mcr.cmid IS NOT NULL THEN
             |        CAST(db.b2 AS HUGEINT) * mcr.cmid * db.bt
             |      ELSE CAST(db.bt AS HUGEINT) END AS dn
             |    FROM tg
             |    LEFT JOIN tc USING (gram)
             |    LEFT JOIN ctx ON ctx.u = tg.u AND ctx.v = tg.v
             |    LEFT JOIN ccr ON ccr.v = tg.v AND ccr.w = tg.w
             |    LEFT JOIN mcr ON mcr.v = tg.v
             |    LEFT JOIN ctr ON ctr.w = tg.w
             |    CROSS JOIN d3 da CROSS JOIN d2 db) s),
             |pd AS (SELECT doc_id,
             |    CAST(COUNT(*) AS BIGINT) AS n_trigrams,
             |    CAST(COUNT(CASE WHEN lp IS NULL THEN 1 END) AS BIGINT)
             |      AS n_oov,
             |    CASE WHEN COUNT(lp) > 0 THEN
             |      CAST((2 * CAST(-SUM(lp) * 1000000 AS BIGINT)
             |        + COUNT(lp)) // (2 * COUNT(lp)) AS DOUBLE) / 1000000.0
             |      END AS avg_nll
             |  FROM sc GROUP BY 1)
             |SELECT d.doc_id,
             |  COALESCE(pd.n_trigrams, 0) AS n_trigrams,
             |  COALESCE(pd.n_oov, 0) AS n_oov, pd.avg_nll
             |FROM documents d LEFT JOIN pd USING (doc_id)""").stripMargin

}
