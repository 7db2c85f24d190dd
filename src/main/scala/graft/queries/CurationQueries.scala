package graft.queries

import org.apache.spark.sql.functions._

import graft.Q
import graft.operators.{Curation, Dsir, Iterate}
import graft.sources.Tables

/** The end-to-end curation composition: one query running the full
  * quality → exact-dedup → verified-near-dup → split chain, with a single
  * DuckDB oracle replaying every stage (including the recursive-CTE
  * connected components over verified edges). This is the "user switches
  * their corpus pipeline to this library" flagship: each stage is
  * oracle-checked on its own elsewhere (q_x2, q_d1, q_d7, q_x7); this
  * proves the composition.
  */
object CurationQueries extends graft.QueryPack {

  override def queries: Seq[Q] = Seq(

    Q("q_x9_curation",
      (s, d) => Curation.curate(Tables.documents(s, d)),
      Some("""WITH RECURSIVE
             |t AS (SELECT doc_id, text,
             |  list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
             |  FROM documents),
             |m AS (SELECT doc_id, text, toks, len(toks) AS n_tokens,
             |  ROUND(CAST(length(list_aggregate(toks, 'string_agg', '')) AS DOUBLE) / len(toks), 4) AS avg_len,
             |  ROUND(CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','is','to','in'], x))) AS DOUBLE) / len(toks), 4) AS stop_ratio
             |  FROM t),
             |q AS (SELECT doc_id, text, toks FROM m
             |  WHERE n_tokens >= 20 AND avg_len >= 2.0 AND avg_len <= 10.0
             |    AND stop_ratio >= 0.02),
             |ek AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)),
             |e AS (SELECT q.doc_id, q.toks FROM q JOIN ek ON ek.doc_id = q.doc_id),
             |shx AS (SELECT doc_id,
             |  list_transform(range(1, len(toks) - 1),
             |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS shingles
             |  FROM e WHERE len(toks) >= 3),
             |exd AS (SELECT DISTINCT doc_id, unnest(shingles) AS sh FROM shx),
             |mh AS (SELECT doc_id,
             |  min(md5('0|' || sh)) AS m0, min(md5('1|' || sh)) AS m1,
             |  min(md5('2|' || sh)) AS m2, min(md5('3|' || sh)) AS m3,
             |  min(md5('4|' || sh)) AS m4, min(md5('5|' || sh)) AS m5,
             |  min(md5('6|' || sh)) AS m6, min(md5('7|' || sh)) AS m7
             |  FROM exd GROUP BY doc_id),
             |bands AS (
             |  SELECT doc_id, 0 AS band, md5(m0 || '|' || m1) AS bh FROM mh
             |  UNION ALL SELECT doc_id, 1, md5(m2 || '|' || m3) FROM mh
             |  UNION ALL SELECT doc_id, 2, md5(m4 || '|' || m5) FROM mh
             |  UNION ALL SELECT doc_id, 3, md5(m6 || '|' || m7) FROM mh),
             |prs AS (
             |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
             |  FROM bands a JOIN bands b
             |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
             |sizes AS (SELECT doc_id, COUNT(*) AS n FROM exd GROUP BY doc_id),
             |inter AS (
             |  SELECT p.a_id, p.b_id, COUNT(*) AS inter
             |  FROM prs p
             |  JOIN exd a ON a.doc_id = p.a_id
             |  JOIN exd b ON b.doc_id = p.b_id AND b.sh = a.sh
             |  GROUP BY 1, 2),
             |ver AS (
             |  SELECT i.a_id, i.b_id FROM inter i
             |  JOIN sizes sa ON sa.doc_id = i.a_id
             |  JOIN sizes sb ON sb.doc_id = i.b_id
             |  WHERE i.inter * 10 >= (sa.n + sb.n - i.inter) * 1),
             |edges AS (
             |  SELECT a_id AS src, b_id AS dst FROM ver
             |  UNION SELECT b_id, a_id FROM ver),
             |cc(node, label) AS (
             |  SELECT DISTINCT src, src FROM edges
             |  UNION
             |  SELECT e2.dst, c.label FROM cc c JOIN edges e2 ON e2.src = c.node),
             |comp AS (SELECT node, MIN(label) AS component FROM cc GROUP BY node),
             |dropd AS (SELECT node AS doc_id FROM comp WHERE node <> component)
             |SELECT e.doc_id,
             |  CASE WHEN CAST('0x' || substr(md5('exp1|' || CAST(e.doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 90 THEN 'train'
             |       WHEN CAST('0x' || substr(md5('exp1|' || CAST(e.doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 95 THEN 'val'
             |       ELSE 'test' END AS split
             |FROM e LEFT JOIN dropd d ON d.doc_id = e.doc_id
             |WHERE d.doc_id IS NULL""".stripMargin)),

    // ---- X65: per-source curation funnel (the pipeline report card) -----
    // (source, stage) survival counts through raw -> quality -> exact
    // dedup -> near-dup dedup, zero cells included. The oracle reuses
    // the q_x9 recursion and counts each stage per source.
    Q("q_x65_curation_funnel",
      (s, d) => Curation.curationFunnel(Tables.documents(s, d)),
      Some("""WITH RECURSIVE
             |src AS (SELECT doc_id, COALESCE(source, '<null>') AS source
             |  FROM documents),
             |t AS (SELECT doc_id, text,
             |  list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
             |  FROM documents),
             |m AS (SELECT doc_id, text, toks, len(toks) AS n_tokens,
             |  ROUND(CAST(length(list_aggregate(toks, 'string_agg', '')) AS DOUBLE) / len(toks), 4) AS avg_len,
             |  ROUND(CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','is','to','in'], x))) AS DOUBLE) / len(toks), 4) AS stop_ratio
             |  FROM t),
             |q AS (SELECT doc_id, text, toks FROM m
             |  WHERE n_tokens >= 20 AND avg_len >= 2.0 AND avg_len <= 10.0
             |    AND stop_ratio >= 0.02),
             |ek AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)),
             |e AS (SELECT q.doc_id, q.toks FROM q JOIN ek ON ek.doc_id = q.doc_id),
             |shx AS (SELECT doc_id,
             |  list_transform(range(1, len(toks) - 1),
             |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS shingles
             |  FROM e WHERE len(toks) >= 3),
             |exd AS (SELECT DISTINCT doc_id, unnest(shingles) AS sh FROM shx),
             |mh AS (SELECT doc_id,
             |  min(md5('0|' || sh)) AS m0, min(md5('1|' || sh)) AS m1,
             |  min(md5('2|' || sh)) AS m2, min(md5('3|' || sh)) AS m3,
             |  min(md5('4|' || sh)) AS m4, min(md5('5|' || sh)) AS m5,
             |  min(md5('6|' || sh)) AS m6, min(md5('7|' || sh)) AS m7
             |  FROM exd GROUP BY doc_id),
             |bands AS (
             |  SELECT doc_id, 0 AS band, md5(m0 || '|' || m1) AS bh FROM mh
             |  UNION ALL SELECT doc_id, 1, md5(m2 || '|' || m3) FROM mh
             |  UNION ALL SELECT doc_id, 2, md5(m4 || '|' || m5) FROM mh
             |  UNION ALL SELECT doc_id, 3, md5(m6 || '|' || m7) FROM mh),
             |prs AS (
             |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
             |  FROM bands a JOIN bands b
             |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
             |sizes AS (SELECT doc_id, COUNT(*) AS n FROM exd GROUP BY doc_id),
             |inter AS (
             |  SELECT p.a_id, p.b_id, COUNT(*) AS inter
             |  FROM prs p
             |  JOIN exd a ON a.doc_id = p.a_id
             |  JOIN exd b ON b.doc_id = p.b_id AND b.sh = a.sh
             |  GROUP BY 1, 2),
             |ver AS (
             |  SELECT i.a_id, i.b_id FROM inter i
             |  JOIN sizes sa ON sa.doc_id = i.a_id
             |  JOIN sizes sb ON sb.doc_id = i.b_id
             |  WHERE i.inter * 10 >= (sa.n + sb.n - i.inter) * 1),
             |edges AS (
             |  SELECT a_id AS src, b_id AS dst FROM ver
             |  UNION SELECT b_id, a_id FROM ver),
             |cc(node, label) AS (
             |  SELECT DISTINCT src, src FROM edges
             |  UNION
             |  SELECT e2.dst, c.label FROM cc c JOIN edges e2 ON e2.src = c.node),
             |comp AS (SELECT node, MIN(label) AS component FROM cc GROUP BY node),
             |dropd AS (SELECT node AS doc_id FROM comp WHERE node <> component),
             |surv AS (SELECT e.doc_id FROM e
             |  LEFT JOIN dropd dd ON dd.doc_id = e.doc_id
             |  WHERE dd.doc_id IS NULL),
             |cn AS (
             |  SELECT 0 AS stage, source, COUNT(*) AS n FROM src GROUP BY 2
             |  UNION ALL
             |  SELECT 1, s.source, COUNT(*) FROM q
             |    JOIN src s USING (doc_id) GROUP BY 2
             |  UNION ALL
             |  SELECT 2, s.source, COUNT(*) FROM e
             |    JOIN src s USING (doc_id) GROUP BY 2
             |  UNION ALL
             |  SELECT 3, s.source, COUNT(*) FROM surv
             |    JOIN src s USING (doc_id) GROUP BY 2),
             |sgrid AS (SELECT DISTINCT source FROM src),
             |stg AS (SELECT * FROM (VALUES (0, 'raw'), (1, 'quality'),
             |    (2, 'exact_dedup'), (3, 'near_dup'))
             |  AS v(stage, stage_name))
             |SELECT stg.stage, stg.stage_name, g.source,
             |  CAST(COALESCE(cn.n, 0) AS BIGINT) AS docs
             |FROM sgrid g CROSS JOIN stg
             |LEFT JOIN cn ON cn.stage = stg.stage
             |  AND cn.source = g.source""".stripMargin)),

    // ---- X103: the funnel + the host-rank gate as stage 4 ---------------
    // q_x65's four stages plus the web-graph gate: planted host graph
    // (own host = doc_id % 20; out-links PREFER hosts 0-9, so the
    // bottom half of the host ranking is a real, separated set), cut
    // at the uniform 1/20 rank. The oracle chains the full q_x9 funnel
    // recursion with the q_g1 PageRank replay (relation names remapped)
    // and the stage-4 gate.
    Q("q_x103_funnel_host_gate",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val ownUrl = concat(lit("HTTP://H"),
          (col("doc_id") % 20).cast("string"),
          lit(".COM:80/p/"), col("doc_id").cast("string"),
          lit("?utm_source=x&a=1"))
        val links = docs.select(col("doc_id"), explode(array(
          concat(lit("https://h"), ((col("doc_id") * 7) % 10)
            .cast("string"), lit(".com:443/l?b=2")),
          concat(lit("https://h"), ((col("doc_id") * 13 + 3) % 20)
            .cast("string"), lit(".com/l2#frag")))).as("link_url"))
        Curation.curationFunnelHostGate(docs,
          docs.select(col("doc_id"), ownUrl.as("url")), links,
          minHostRank = 0.05)
      },
      Some("""WITH RECURSIVE
             |src AS (SELECT doc_id, COALESCE(source, '<null>') AS source
             |  FROM documents),
             |t AS (SELECT doc_id, text,
             |  list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
             |  FROM documents),
             |m AS (SELECT doc_id, text, toks, len(toks) AS n_tokens,
             |  ROUND(CAST(length(list_aggregate(toks, 'string_agg', '')) AS DOUBLE) / len(toks), 4) AS avg_len,
             |  ROUND(CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','is','to','in'], x))) AS DOUBLE) / len(toks), 4) AS stop_ratio
             |  FROM t),
             |q AS (SELECT doc_id, text, toks FROM m
             |  WHERE n_tokens >= 20 AND avg_len >= 2.0 AND avg_len <= 10.0
             |    AND stop_ratio >= 0.02),
             |ek AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)),
             |e AS (SELECT q.doc_id, q.toks FROM q JOIN ek ON ek.doc_id = q.doc_id),
             |shx AS (SELECT doc_id,
             |  list_transform(range(1, len(toks) - 1),
             |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS shingles
             |  FROM e WHERE len(toks) >= 3),
             |exd AS (SELECT DISTINCT doc_id, unnest(shingles) AS sh FROM shx),
             |mh AS (SELECT doc_id,
             |  min(md5('0|' || sh)) AS m0, min(md5('1|' || sh)) AS m1,
             |  min(md5('2|' || sh)) AS m2, min(md5('3|' || sh)) AS m3,
             |  min(md5('4|' || sh)) AS m4, min(md5('5|' || sh)) AS m5,
             |  min(md5('6|' || sh)) AS m6, min(md5('7|' || sh)) AS m7
             |  FROM exd GROUP BY doc_id),
             |bands AS (
             |  SELECT doc_id, 0 AS band, md5(m0 || '|' || m1) AS bh FROM mh
             |  UNION ALL SELECT doc_id, 1, md5(m2 || '|' || m3) FROM mh
             |  UNION ALL SELECT doc_id, 2, md5(m4 || '|' || m5) FROM mh
             |  UNION ALL SELECT doc_id, 3, md5(m6 || '|' || m7) FROM mh),
             |prs AS (
             |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
             |  FROM bands a JOIN bands b
             |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
             |sizes AS (SELECT doc_id, COUNT(*) AS n FROM exd GROUP BY doc_id),
             |inter AS (
             |  SELECT p.a_id, p.b_id, COUNT(*) AS inter
             |  FROM prs p
             |  JOIN exd a ON a.doc_id = p.a_id
             |  JOIN exd b ON b.doc_id = p.b_id AND b.sh = a.sh
             |  GROUP BY 1, 2),
             |ver AS (
             |  SELECT i.a_id, i.b_id FROM inter i
             |  JOIN sizes sa ON sa.doc_id = i.a_id
             |  JOIN sizes sb ON sb.doc_id = i.b_id
             |  WHERE i.inter * 10 >= (sa.n + sb.n - i.inter) * 1),
             |edges AS (
             |  SELECT a_id AS src, b_id AS dst FROM ver
             |  UNION SELECT b_id, a_id FROM ver),
             |cc(node, label) AS (
             |  SELECT DISTINCT src, src FROM edges
             |  UNION
             |  SELECT e2.dst, c.label FROM cc c JOIN edges e2 ON e2.src = c.node),
             |comp AS (SELECT node, MIN(label) AS component FROM cc GROUP BY node),
             |dropd AS (SELECT node AS doc_id FROM comp WHERE node <> component),
             |surv AS (SELECT e.doc_id FROM e
             |  LEFT JOIN dropd dd ON dd.doc_id = e.doc_id
             |  WHERE dd.doc_id IS NULL),
             |dh AS (SELECT doc_id,
             |    'h' || CAST(doc_id % 20 AS VARCHAR) || '.com' AS host
             |  FROM documents),
             |lh AS (SELECT doc_id,
             |    'h' || CAST((doc_id * 7) % 10 AS VARCHAR) || '.com' AS lhost
             |  FROM documents
             |  UNION ALL SELECT doc_id,
             |    'h' || CAST((doc_id * 13 + 3) % 20 AS VARCHAR) || '.com'
             |  FROM documents),
             |he AS (SELECT DISTINCT d.host AS src, l.lhost AS dst
             |  FROM dh d JOIN lh l USING (doc_id) WHERE d.host <> l.lhost),
             |hdeg AS (SELECT src, COUNT(*) AS outdeg FROM he GROUP BY 1),
             |hnodes AS (SELECT DISTINCT node FROM (
             |  SELECT src AS node FROM he UNION ALL SELECT dst AS node FROM he)),
             |hnn AS (SELECT COUNT(*) AS n FROM hnodes),
             |hr0 AS (
             |  SELECT node, CAST(1000000 AS BIGINT) AS rank_m FROM hnodes),
             |""".stripMargin +
        (1 to 3).map(i => GraphQueries.duckIter(s"hr$i", s"hr${i - 1}",
          e = "he", deg = "hdeg", nodes = "hnodes", nn = "hnn"))
          .mkString(",\n") + """,
             |hrk AS (SELECT dh.doc_id,
             |    CAST(hr3.rank_m AS DOUBLE) / 1e6 / hnn.n AS host_rank
             |  FROM dh LEFT JOIN hr3 ON hr3.node = dh.host CROSS JOIN hnn),
             |hg AS (SELECT surv.doc_id FROM surv
             |  LEFT JOIN hrk USING (doc_id)
             |  WHERE hrk.host_rank IS NULL OR hrk.host_rank >= 0.05),
             |cn AS (
             |  SELECT 0 AS stage, source, COUNT(*) AS n FROM src GROUP BY 2
             |  UNION ALL
             |  SELECT 1, s.source, COUNT(*) FROM q
             |    JOIN src s USING (doc_id) GROUP BY 2
             |  UNION ALL
             |  SELECT 2, s.source, COUNT(*) FROM e
             |    JOIN src s USING (doc_id) GROUP BY 2
             |  UNION ALL
             |  SELECT 3, s.source, COUNT(*) FROM surv
             |    JOIN src s USING (doc_id) GROUP BY 2
             |  UNION ALL
             |  SELECT 4, s.source, COUNT(*) FROM hg
             |    JOIN src s USING (doc_id) GROUP BY 2),
             |sgrid AS (SELECT DISTINCT source FROM src),
             |stg AS (SELECT * FROM (VALUES (0, 'raw'), (1, 'quality'),
             |    (2, 'exact_dedup'), (3, 'near_dup'), (4, 'host_rank'))
             |  AS v(stage, stage_name))
             |SELECT stg.stage, stg.stage_name, g.source,
             |  CAST(COALESCE(cn.n, 0) AS BIGINT) AS docs
             |FROM sgrid g CROSS JOIN stg
             |LEFT JOIN cn ON cn.stage = stg.stage
             |  AND cn.source = g.source""".stripMargin)),

    // ---- X47: curation + decontamination composed under ONE oracle ------
    // The EndToEnd build's first two stages as a single hash-checked
    // query: curate the corpus (quality → exact dedup → verified
    // near-dup CC → split), keep the train split, then drop every train
    // doc sharing >50% of its 13-gram shingles with the held-out
    // benchmark slice. The oracle chains the full q_x9 recursion with
    // the q_d10 contamination tail at k=13 — the two halves were
    // previously proven separately; this pins their composition.
    Q("q_x47_clean_train_corpus",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val bench = docs.filter(col("doc_id") % 50 === 0)
        val corpus = docs.filter(col("doc_id") % 50 =!= 0)
        val splits = Curation.curate(corpus)
        val train = corpus.join(
          splits.filter(col("split") === "train").select(col("doc_id")),
          Seq("doc_id"), "left_semi")
        val contam = graft.operators.Dedup.contaminationReport(
            graft.operators.Dedup.docShingles(train, "text", "doc_id", k = 13),
            graft.operators.Dedup.docShingles(bench, "text", "doc_id", k = 13))
          .filter(col("contamination") > 0.5)
          .select(col("sid").as("doc_id"))
        train.join(contam, Seq("doc_id"), "left_anti").select(col("doc_id"))
      },
      Some {
        val sh13 = (0 to 12).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
        val isTrain = "CAST('0x' || substr(md5('exp1|' || " +
          "CAST(e.doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 90"
        s"""WITH RECURSIVE
           |t AS (SELECT doc_id, text,
           |  list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
           |  FROM documents WHERE doc_id % 50 <> 0),
           |m AS (SELECT doc_id, text, toks, len(toks) AS n_tokens,
           |  ROUND(CAST(length(list_aggregate(toks, 'string_agg', '')) AS DOUBLE) / len(toks), 4) AS avg_len,
           |  ROUND(CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','is','to','in'], x))) AS DOUBLE) / len(toks), 4) AS stop_ratio
           |  FROM t),
           |q AS (SELECT doc_id, text, toks FROM m
           |  WHERE n_tokens >= 20 AND avg_len >= 2.0 AND avg_len <= 10.0
           |    AND stop_ratio >= 0.02),
           |ek AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)),
           |e AS (SELECT q.doc_id, q.toks FROM q JOIN ek ON ek.doc_id = q.doc_id),
           |shx AS (SELECT doc_id,
           |  list_transform(range(1, len(toks) - 1),
           |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS shingles
           |  FROM e WHERE len(toks) >= 3),
           |exd AS (SELECT DISTINCT doc_id, unnest(shingles) AS sh FROM shx),
           |mh AS (SELECT doc_id,
           |  min(md5('0|' || sh)) AS m0, min(md5('1|' || sh)) AS m1,
           |  min(md5('2|' || sh)) AS m2, min(md5('3|' || sh)) AS m3,
           |  min(md5('4|' || sh)) AS m4, min(md5('5|' || sh)) AS m5,
           |  min(md5('6|' || sh)) AS m6, min(md5('7|' || sh)) AS m7
           |  FROM exd GROUP BY doc_id),
           |bands AS (
           |  SELECT doc_id, 0 AS band, md5(m0 || '|' || m1) AS bh FROM mh
           |  UNION ALL SELECT doc_id, 1, md5(m2 || '|' || m3) FROM mh
           |  UNION ALL SELECT doc_id, 2, md5(m4 || '|' || m5) FROM mh
           |  UNION ALL SELECT doc_id, 3, md5(m6 || '|' || m7) FROM mh),
           |prs AS (
           |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
           |sizes AS (SELECT doc_id, COUNT(*) AS n FROM exd GROUP BY doc_id),
           |inter AS (
           |  SELECT p.a_id, p.b_id, COUNT(*) AS inter
           |  FROM prs p
           |  JOIN exd a ON a.doc_id = p.a_id
           |  JOIN exd b ON b.doc_id = p.b_id AND b.sh = a.sh
           |  GROUP BY 1, 2),
           |ver AS (
           |  SELECT i.a_id, i.b_id FROM inter i
           |  JOIN sizes sa ON sa.doc_id = i.a_id
           |  JOIN sizes sb ON sb.doc_id = i.b_id
           |  WHERE i.inter * 10 >= (sa.n + sb.n - i.inter) * 1),
           |edges AS (
           |  SELECT a_id AS src, b_id AS dst FROM ver
           |  UNION SELECT b_id, a_id FROM ver),
           |cc(node, label) AS (
           |  SELECT DISTINCT src, src FROM edges
           |  UNION
           |  SELECT e2.dst, c.label FROM cc c JOIN edges e2 ON e2.src = c.node),
           |comp AS (SELECT node, MIN(label) AS component FROM cc GROUP BY node),
           |dropd AS (SELECT node AS doc_id FROM comp WHERE node <> component),
           |train0 AS (
           |  SELECT e.doc_id, e.toks
           |  FROM e LEFT JOIN dropd dd ON dd.doc_id = e.doc_id
           |  WHERE dd.doc_id IS NULL AND $isTrain),
           |tsh AS (SELECT DISTINCT doc_id, unnest(
           |    list_transform(range(1, len(toks) - 11), i -> $sh13)) AS sh
           |  FROM train0 WHERE len(toks) >= 13),
           |bsh AS (SELECT DISTINCT sh FROM (
           |  SELECT unnest(
           |    list_transform(range(1, len(toks) - 11), i -> $sh13)) AS sh
           |  FROM (SELECT list_filter(regexp_split_to_array(text, '\\s+'),
           |          x -> x <> '') AS toks
           |        FROM documents WHERE doc_id % 50 = 0)
           |  WHERE len(toks) >= 13)),
           |tot AS (SELECT doc_id, COUNT(*) AS n FROM tsh GROUP BY 1),
           |shr AS (SELECT t2.doc_id, COUNT(*) AS sh_n
           |  FROM tsh t2 JOIN bsh USING (sh) GROUP BY 1),
           |contam AS (SELECT t3.doc_id FROM tot t3
           |  LEFT JOIN shr ON shr.doc_id = t3.doc_id
           |  WHERE ROUND(CAST(COALESCE(shr.sh_n, 0) AS DOUBLE) / t3.n, 6) > 0.5)
           |SELECT t0.doc_id FROM train0 t0
           |LEFT JOIN contam c ON c.doc_id = t0.doc_id
           |WHERE c.doc_id IS NULL""".stripMargin
      }),

    // ---- X14: joint text+embedding curation -----------------------------
    // Quality gate on text signals, near-dup drop by embedding cosine
    // (sign-LSH buckets + exact rescore — the q_sim3 blocks), split last.
    Q("q_x14_joint_curation",
      (s, d) => Curation.curateJoint(
        Tables.documents(s, d), Tables.embeddings(s, d)),
      Some("""WITH t AS (SELECT doc_id,
             |  list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
             |  FROM documents),
             |m AS (SELECT doc_id, len(toks) AS n_tokens,
             |  ROUND(CAST(length(list_aggregate(toks, 'string_agg', '')) AS DOUBLE) / len(toks), 4) AS avg_len,
             |  ROUND(CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','is','to','in'], x))) AS DOUBLE) / len(toks), 4) AS stop_ratio
             |  FROM t),
             |q AS (SELECT doc_id FROM m
             |  WHERE n_tokens >= 20 AND avg_len >= 2.0 AND avg_len <= 10.0
             |    AND stop_ratio >= 0.02),
             |ex AS (
             |  SELECT vec_id, unnest(embedding) AS v,
             |         unnest(range(1, len(embedding) + 1)) AS i
             |  FROM embeddings),
             |norms AS (
             |  SELECT vec_id, sqrt(SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE))) AS nrm
             |  FROM ex GROUP BY vec_id),
             |px AS (SELECT vec_id AS plane_id, v AS pv, i FROM ex WHERE vec_id < 4),
             |pdots AS (
             |  SELECT e.vec_id, p.plane_id,
             |         ROUND(SUM(CAST(e.v AS DOUBLE) * CAST(p.pv AS DOUBLE)), 6) AS dot
             |  FROM ex e JOIN px p ON e.i = p.i GROUP BY 1, 2),
             |bkt AS (
             |  SELECT vec_id,
             |         string_agg(CASE WHEN dot >= 0 THEN '1' ELSE '0' END, '' ORDER BY plane_id) AS bucket
             |  FROM pdots GROUP BY vec_id),
             |prs AS (
             |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
             |  FROM bkt a JOIN bkt b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
             |pd AS (
             |  SELECT p.a_id, p.b_id,
             |         SUM(CAST(ea.v AS DOUBLE) * CAST(eb.v AS DOUBLE)) AS dot
             |  FROM prs p
             |  JOIN ex ea ON ea.vec_id = p.a_id
             |  JOIN ex eb ON eb.vec_id = p.b_id AND eb.i = ea.i
             |  GROUP BY 1, 2),
             |nd AS (
             |  SELECT pd.a_id, pd.b_id FROM pd
             |  JOIN norms na ON na.vec_id = pd.a_id
             |  JOIN norms nb ON nb.vec_id = pd.b_id
             |  WHERE ROUND(pd.dot / (na.nrm * nb.nrm), 6) >= 0.35),
             |dropd AS (
             |  SELECT DISTINCT nd.b_id AS doc_id FROM nd
             |  JOIN q qa ON qa.doc_id = nd.a_id
             |  JOIN q qb ON qb.doc_id = nd.b_id)
             |SELECT q.doc_id,
             |  CASE WHEN CAST('0x' || substr(md5('exp1|' || CAST(q.doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 90 THEN 'train'
             |       WHEN CAST('0x' || substr(md5('exp1|' || CAST(q.doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 95 THEN 'val'
             |       ELSE 'test' END AS split
             |FROM q LEFT JOIN dropd d ON d.doc_id = q.doc_id
             |WHERE d.doc_id IS NULL""".stripMargin)),

    // ---- X37: DSIR importance-resampling selection ----------------------
    // Target model = English docs, raw model = whole pool; every doc
    // weighted by its hashed-unigram log-likelihood ratio, top-100 kept
    // via ONE bounded TopK aggregation. The oracle replays the token
    // bucketing, both smoothed models, the decimal weight sum, and the
    // ranked selection.
    Q("q_x37_dsir_select",
      (s, d) => Dsir.selectTopN(Tables.documents(s, d), "doc_id", "text",
        col("lang") === "en", n = 100, buckets = 4096),
      Some("""WITH t AS (SELECT doc_id, lang = 'en' AS tgt,
             |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
             |  FROM documents),
             |dt AS (
             |  SELECT doc_id, tgt,
             |    CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % 4096 AS b,
             |    COUNT(*) AS tf
             |  FROM (SELECT doc_id, tgt, unnest(toks) AS tok FROM t)
             |  GROUP BY 1, 2, 3),
             |bc AS (
             |  SELECT b, SUM(tf) AS cr,
             |    SUM(CASE WHEN tgt THEN tf ELSE 0 END) AS ct
             |  FROM dt GROUP BY 1),
             |tot AS (SELECT SUM(cr) AS tr, SUM(ct) AS tt FROM bc),
             |lr AS (
             |  SELECT b,
             |    CAST(ROUND(ln(CAST(ct + 1 AS DOUBLE) / CAST(tt + 4096 AS DOUBLE)), 6)
             |       - ROUND(ln(CAST(cr + 1 AS DOUBLE) / CAST(tr + 4096 AS DOUBLE)), 6)
             |      AS DECIMAL(18,6)) AS llr
             |  FROM bc CROSS JOIN tot),
             |w AS (
             |  SELECT dt.doc_id,
             |    CAST(SUM(lr.llr * CAST(dt.tf AS DECIMAL(9,0))) AS DOUBLE) AS weight
             |  FROM dt JOIN lr ON lr.b = dt.b
             |  GROUP BY 1)
             |SELECT doc_id, weight, rnk FROM (
             |  SELECT doc_id, weight, row_number() OVER (
             |      ORDER BY weight DESC, doc_id) AS rnk
             |  FROM w)
             |WHERE rnk <= 100""".stripMargin)),

    // ---- X66: the CCNet pipeline composed under ONE oracle --------------
    // Wenzek et al. 2020 ("CCNet: Extracting High Quality Monolingual
    // Datasets from Web Crawl Data"), the published crawl-curation
    // recipe, stage order preserved: (1) paragraph-level exact dedup
    // over the corpus (q_d18's fixture: an injected boilerplate banner +
    // a repeated leading paragraph every 5th doc), (2) language-ID gate
    // on the DEDUPED text (the stopword argmax of q_x3 — on this
    // synthetic corpus it keeps nearly everything, which the oracle
    // replays; a per-language fan-out is the same plan re-keyed), then
    // (3) a bigram-LM perplexity filter TRAINED ON THE GATED DEDUPED
    // CORPUS itself, bucketing head/middle/tail (cutoffs 39.5/44.5 keep
    // all three buckets populated at every test SF). Each stage is
    // oracle-proven alone (q_d18, q_x3, q_x27); this pins the
    // composition — dedup feeds the LID tokens, the LID gate shapes the
    // LM's training counts, and the buckets shift if any stage drifts.
    // The gated relation localCheckpoints once: the LM pass reads it
    // three times (bigrams, unigrams, final join) — the mmrRerank
    // stage-boundary discipline.
    Q("q_x66_ccnet_pipeline",
      (s, d) => {
        val t0 = coalesce(col("text"), lit(""))
        val page = concat(concat_ws("\n",
          substring(t0, 1, 80),
          lit("Subscribe to our newsletter today."),
          substring(t0, 81, 80)),
          when(col("doc_id") % 5 === 0,
            concat(lit("\n"), substring(t0, 1, 80))).otherwise(lit("")))
        val dd = graft.operators.Dedup.paragraphDedup(
          Tables.documents(s, d).select(col("doc_id"), page.as("text")),
          "text", "doc_id")
        val en = Iterate.checkpoint(dd.filter(graft.operators.TextAnalysis.langId(
            graft.operators.TextAnalysis.tokens(col("text_dedup"))) === "en"))
        graft.operators.TextAnalysis.bigramPerplexity(en, "text_dedup",
            "doc_id", headPpl = 39.5, tailPpl = 44.5)
          .join(en.select(col("doc_id"), col("n_dropped")), Seq("doc_id"))
          .select(col("doc_id"), col("n_dropped"), col("n_bigrams"),
            col("avg_nll"), col("ppl"), col("bucket"))
      },
      Some("""WITH base AS (
             |  SELECT doc_id, COALESCE(text, '') AS t FROM documents),
             |pg AS (SELECT doc_id,
             |    substr(t, 1, 80) || chr(10) ||
             |    'Subscribe to our newsletter today.' || chr(10) ||
             |    substr(t, 81, 80) ||
             |    CASE WHEN doc_id % 5 = 0
             |      THEN chr(10) || substr(t, 1, 80) ELSE '' END AS p
             |  FROM base),
             |paras AS (
             |  SELECT doc_id, unnest(range(0, len(ps))) AS pos,
             |    unnest(ps) AS para
             |  FROM (SELECT doc_id, list_filter(
             |      regexp_split_to_array(p, chr(10)), x -> x <> '') AS ps
             |    FROM pg)
             |  WHERE len(ps) > 0),
             |kept AS (
             |  SELECT doc_id, pos, para, row_number() OVER (
             |      PARTITION BY para ORDER BY doc_id, pos) AS rn
             |  FROM paras),
             |dd AS (
             |  SELECT doc_id,
             |    COALESCE(string_agg(CASE WHEN rn = 1 THEN para END, chr(10)
             |      ORDER BY pos), '') AS text_dedup,
             |    CAST(COUNT(*) - COUNT(CASE WHEN rn = 1 THEN 1 END) AS BIGINT)
             |      AS n_dropped
             |  FROM kept GROUP BY doc_id),
             |lx AS (SELECT doc_id, text_dedup, n_dropped,
             |    list_filter(regexp_split_to_array(text_dedup, '\s+'),
             |      x -> x <> '') AS ltoks
             |  FROM dd),
             |cc AS (SELECT doc_id, text_dedup, n_dropped FROM lx
             |  WHERE len(list_filter(ltoks, x -> list_contains(
             |          ['the','a','of','and','is','to','in'], x)))
             |    >= GREATEST(
             |      len(list_filter(ltoks, x -> list_contains(
             |          ['der','die','das','und','ist','ein','zu'], x))),
             |      len(list_filter(ltoks, x -> list_contains(
             |          ['el','la','de','y','es','un','en'], x))),
             |      len(list_filter(ltoks, x -> list_contains(
             |          ['le','la','de','et','est','un','dans'], x))))),
             |t2 AS (SELECT doc_id, n_dropped,
             |    list_filter(regexp_split_to_array(lower(text_dedup), '\s+'),
             |      x -> x <> '') AS toks
             |  FROM cc),
             |bi AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS gram,
             |    toks[i] AS w1
             |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
             |        FROM t2 WHERE len(toks) >= 2)),
             |bc AS (SELECT gram, COUNT(*) AS cb FROM bi GROUP BY 1),
             |un AS (SELECT unnest(toks) AS w FROM t2),
             |uc AS (SELECT w, COUNT(*) AS cu FROM un GROUP BY 1),
             |v AS (SELECT COUNT(DISTINCT w) AS vsz FROM un),
             |sc AS (SELECT doc_id,
             |    CAST(ROUND(ln((cb + 1.0) / (cu + 1.0 * vsz)), 6)
             |      AS DECIMAL(18,6)) AS lp
             |  FROM bi JOIN bc USING (gram) JOIN uc ON uc.w = bi.w1, v),
             |pd AS (SELECT doc_id, COUNT(*) AS n_bigrams,
             |    CAST((2 * CAST(-SUM(lp) * 1000000 AS BIGINT) + COUNT(*))
             |         // (2 * COUNT(*)) AS DOUBLE) / 1000000.0 AS avg_nll
             |  FROM sc GROUP BY 1)
             |SELECT c.doc_id, c.n_dropped,
             |  CAST(COALESCE(pd.n_bigrams, 0) AS BIGINT) AS n_bigrams,
             |  pd.avg_nll,
             |  ROUND(exp(pd.avg_nll), 4) AS ppl,
             |  CASE WHEN pd.avg_nll IS NULL THEN 'empty'
             |       WHEN ROUND(exp(pd.avg_nll), 4) <= 39.5 THEN 'head'
             |       WHEN ROUND(exp(pd.avg_nll), 4) >= 44.5 THEN 'tail'
             |       ELSE 'middle' END AS bucket
             |FROM cc c LEFT JOIN pd USING (doc_id)""".stripMargin))
  )
}
