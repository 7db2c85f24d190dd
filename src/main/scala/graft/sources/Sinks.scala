package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Sink helpers mirroring the reference's run-scoped output layout (K3)
  * at warehouse scale: date-partitioned parquet directories instead of
  * dated folders, so downstream reads get partition pruning for free.
  */
object Sinks {

  /** Write parquet partitioned by the given columns (e.g. a derived
    * `yyyy-MM-dd` date column — the distributed analogue of the
    * reference's `output/YYYY-MM-DD/` folders, migrate.py:286-293).
    * Readers filtering on the partition column scan only matching
    * directories (`PartitionFilters` in the plan, zero data touched
    * elsewhere). */
  def partitionedParquet(df: DataFrame, path: String, partitionCols: String*): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed table: pre-hash-partition + sort on the join/agg key so
    * repeated joins and aggregations on that key run with ZERO exchanges
    * (both sides arrive co-located). The 100 TB answer to "this join is
    * the bottleneck every night": pay the shuffle once at write time. */
  def bucketedTable(df: DataFrame, table: String, buckets: Int,
      bucketCol: String): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCol).sortBy(bucketCol)
      .format("parquet").saveAsTable(table)

  /** Globally sorted layout: range-partition by the sort key, sort within
    * partitions, write one file per range. Parquet stores per-column
    * min/max on every row group, so a reader filtering on the sort key
    * skips whole files/row-groups (zone-map pruning) — the layout for
    * "most queries filter on time/id" tables at 100 TB, without the
    * metastore dependency bucketing needs. */
  def sortedParquet(df: DataFrame, path: String, numFiles: Int,
      sortCols: String*): Unit =
    df.repartitionByRange(numFiles, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite").parquet(path)

  /** JSONL (one JSON object per line) — the interchange format LLM data
    * pipelines actually exchange corpora in. Spark's json source IS
    * line-delimited by default; gzip keeps the files splittable-enough in
    * practice (one file per task) and ~5× smaller for text. */
  def writeJsonl(df: DataFrame, path: String, compress: Boolean = false): Unit = {
    val w = df.write.mode("overwrite")
    (if (compress) w.option("compression", "gzip") else w).json(path)
  }

  /** Read JSONL with an EXPLICIT schema — schema inference reads the data
    * twice and silently widens types (a `1` in one file and `1.5` in
    * another infer DOUBLE); at corpus scale the schema is a contract, not
    * a guess. */
  def readJsonl(spark: org.apache.spark.sql.SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Hadoop-FS helpers for the directory-swap maintenance ops below:
    * they work on any FileSystem Spark can reach (file://, hdfs://),
    * and the swap recovers from a crash on the NEXT invocation. The
    * swap itself is two renames, so it is single-writer and a reader on
    * the same path can observe a brief missing-directory window between
    * them — on an object store without atomic rename, use a real table
    * format instead (these ops exist precisely because one isn't on the
    * classpath). */
  private def hadoopFs(spark: org.apache.spark.sql.SparkSession, dir: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Staged/retired sibling for `root`, DOT-PREFIXED (`.name.suffix`):
    * Hadoop/Spark file listing ignores paths starting with `.` or `_`,
    * so a crash that leaves a staged or retired dir behind inside a
    * PARTITIONED parent (the purge rewrites `store/slice=N` leaves)
    * never pollutes partition inference — a bare `slice=N.retired`
    * sibling would be read as partition value "N.retired" and widen the
    * column to string. */
  private def hiddenSibling(root: org.apache.hadoop.fs.Path,
      suffix: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(root.getParent, "." + root.getName + suffix)

  /** Crash recovery for a previous swap attempt: a populated retired
    * dir with a MISSING `$dir` means the crash hit between the two
    * renames — restore the original; a populated retired dir NEXT TO a
    * live `$dir` means the crash hit during cleanup — finish deleting
    * it. Stale staged dirs are always removed (the next staged write
    * would overwrite them anyway). Checks the dot-prefixed names first
    * and the legacy bare-suffix names too, so a store last touched by a
    * pre-hidden-staging build still recovers. */
  private def recoverSwap(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, stagedSuffix: String): Unit = {
    Seq(hiddenSibling(root, ".retired"), root.suffix(".retired"))
      .foreach { retired =>
        if (fs.exists(retired)) {
          if (!fs.exists(root)) { fs.rename(retired, root); () }
          else { fs.delete(retired, true); () }
        }
      }
    Seq(hiddenSibling(root, stagedSuffix), root.suffix(stagedSuffix))
      .foreach { staged =>
        if (fs.exists(staged)) { fs.delete(staged, true); () }
      }
  }

  /** Sweep [[recoverSwap]] over EVERY leaf of a partitioned store root
    * before any parent-level read — the repair half of the staged-swap
    * contract for partition-scoped rewrites: a leaf's own recovery
    * otherwise only runs when that exact leaf is rewritten again, which
    * a crash-interrupted purge cannot guarantee. Hidden staged/retired
    * dirs never break a read (listing ignores them), but a leaf caught
    * between the two renames is INVISIBLE until restored — this sweep
    * restores it. Also heals legacy bare-suffix debris from
    * pre-hidden-staging builds. */
  def recoverPartitionedStore(spark: org.apache.spark.sql.SparkSession,
      parentDir: String, stagedSuffix: String = ".rewriting"): Unit = {
    val (fs, parent) = hadoopFs(spark, parentDir)
    if (!fs.exists(parent)) return
    val names = fs.listStatus(parent).map(_.getPath.getName)
    val pending = names.flatMap { n =>
      val core = if (n.startsWith(".")) n.drop(1) else n
      if (core.endsWith(".retired")) Some(core.dropRight(".retired".length))
      else if (core.endsWith(stagedSuffix))
        Some(core.dropRight(stagedSuffix.length))
      else None
    }.distinct
    pending.foreach { n =>
      recoverSwap(fs, new org.apache.hadoop.fs.Path(parent, n), stagedSuffix)
    }
  }

  private def swapInStaged(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, staged: org.apache.hadoop.fs.Path): Unit = {
    val retired = hiddenSibling(root, ".retired")
    require(fs.rename(root, retired), s"could not retire $root")
    require(fs.rename(staged, root), s"could not promote $staged")
    fs.delete(retired, true); ()
  }

  /** Compact a parquet LEAF directory's small files into size-targeted
    * ones — the nightly maintenance a streaming/foreachBatch sink makes
    * necessary (each trigger lands its own part files; a month of
    * 30-second triggers is ~86k files whose listing + footer reads
    * dominate every later scan at 100 TB). One read → repartition to
    * ceil(bytes / targetBytes) → staged write → directory swap; a crash
    * at any point leaves the data recoverable and the NEXT invocation
    * repairs the layout ([[recoverSwap]]). Works on any Hadoop
    * FileSystem path (file://, hdfs://); see the swap caveats above.
    * Returns (files before, files after). Leaf dirs only (no `k=v`
    * partition subdirs — compact each partition separately, which is
    * also the realistic incremental pattern: compact yesterday's
    * partition, leave the sealed history alone). */
  def compactParquet(spark: org.apache.spark.sql.SparkSession, dir: String,
      targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val (fs, root) = hadoopFs(spark, dir)
    recoverSwap(fs, root, ".compacting")
    require(fs.getFileStatus(root).isDirectory, s"$dir is not a directory")
    val entries = fs.listStatus(root)
    require(!entries.exists(s => s.isDirectory && s.getPath.getName.contains("=")),
      s"$dir has partition subdirectories — compact each partition dir instead")
    val parts = entries.filter(s => s.getPath.getName.endsWith(".parquet"))
    val bytes = parts.map(_.getLen).sum
    val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val staged = hiddenSibling(root, ".compacting")
    spark.read.parquet(dir).repartition(n)
      .write.mode("overwrite").parquet(staged.toString)
    swapInStaged(fs, root, staged)
    val after = fs.listStatus(root)
      .count(s => s.getPath.getName.endsWith(".parquet"))
    (parts.length, after)
  }

  /** Keyed UPSERT into a parquet directory — the MERGE-shaped sink a
    * plain-parquet warehouse needs for mutable reference tables (the
    * table-format engines make this a transaction; without their jars
    * the honest spelling is copy-on-write): rows in `updates` REPLACE
    * existing rows with the same key, new keys append, untouched rows
    * carry over. One anti-join (existing minus updated keys, broadcast
    * while `updates` is batch-sized) + a union, staged write, and the
    * same recoverable directory swap as [[compactParquet]] (same
    * Hadoop-FS reach, same crash-recovery-on-next-invocation, same
    * brief swap-window caveat). A missing/empty directory is a normal
    * first-write state. Schemas must match by name; `updates` must be
    * key-unique (fail-fast — "last update wins" inside one batch is a
    * silent bug factory). Copy-on-write rewrites the whole table:
    * right for reference/dimension tables (the use case); fact-scale
    * mutation wants SCD2 appends or partition-scoped rewrites
    * instead. */
  def upsertParquet(spark: org.apache.spark.sql.SparkSession, dir: String,
      updates: DataFrame, keyCols: Seq[String]): Unit = {
    require(keyCols.nonEmpty, "need at least one key column")
    keyCols.foreach(c => require(updates.columns.contains(c),
      s"key column '$c' not in updates: ${updates.columns.mkString(", ")}"))
    val dupKeys = updates.groupBy(keyCols.map(c => col(s"`$c`")): _*)
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("__n"))
      .filter(col("__n") > 1).count()
    require(dupKeys == 0,
      s"updates carry $dupKeys duplicate keys — resolve to one row per key first")
    val (fs, root) = hadoopFs(spark, dir)
    recoverSwap(fs, root, ".upserting")
    val exists = fs.exists(root)
    val merged =
      if (exists) {
        val existing = spark.read.parquet(dir)
        require(existing.columns.sorted.sameElements(updates.columns.sorted),
          s"schema mismatch: table has ${existing.columns.sorted.mkString(",")}, " +
            s"updates have ${updates.columns.sorted.mkString(",")}")
        existing.join(
            org.apache.spark.sql.functions.broadcast(
              updates.select(keyCols.map(c => col(s"`$c`")): _*)),
            keyCols, "left_anti")
          .unionByName(updates)
      } else updates
    val staged = hiddenSibling(root, ".upserting")
    merged.write.mode("overwrite").parquet(staged.toString)
    if (exists) swapInStaged(fs, root, staged)
    else require(fs.rename(staged, root), s"could not promote $staged")
  }

  /** Generic copy-on-write REWRITE of a parquet directory through a
    * caller transform — the staged-swap discipline ([[compactParquet]]/
    * [[upsertParquet]]) exposed for store maintenance that is neither a
    * compaction nor a keyed upsert: the opt-out purges
    * ([[graft.operators.Dedup.purgeSignatures]] and friends) delete by
    * anti-join, which no predicate-only API can express. One read →
    * `f` → staged write → recoverable directory swap; a crash at any
    * point leaves the data readable and the NEXT invocation repairs the
    * layout ([[recoverSwap]]). A missing directory is a no-op (nothing
    * to rewrite). Copy-on-write rewrites the whole leaf — batch
    * mutation requests and run this nightly, not per request; a
    * partitioned store should rewrite only its affected partitions. */
  def rewriteParquet(spark: org.apache.spark.sql.SparkSession, dir: String,
      f: DataFrame => DataFrame): Unit = {
    val (fs, root) = hadoopFs(spark, dir)
    recoverSwap(fs, root, ".rewriting")
    if (!fs.exists(root)) return
    val staged = hiddenSibling(root, ".rewriting")
    f(spark.read.parquet(dir)).write.mode("overwrite").parquet(staged.toString)
    swapInStaged(fs, root, staged)
  }

  /** ORC interchange (Spark-native source, no extra jars): for pipelines
    * whose upstream/downstream is Hive-ecosystem ORC rather than parquet.
    * Same columnar pruning/pushdown story — `PushedFilters` reach the ORC
    * scan exactly as they do the parquet one (asserted in SinksSpec). */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  def readOrc(spark: org.apache.spark.sql.SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  /** CSV with a malformed-row audit channel — production CSV feeds (the
    * reference engine's driving input) carry truncated/ragged/mistyped
    * rows, and silently dropping them (DROPMALFORMED) or failing the job
    * (FAILFAST) are both wrong for a pipeline with a log channel: the
    * migration log pattern (V1–V6) wants bad rows REPORTED and good rows
    * PROCESSED. PERMISSIVE mode + an explicit `_corrupt_record` column
    * routes every unparseable row's raw text into the audit frame in one
    * pass over the file.
    *
    * Returns (good, bad): `good` is schema-shaped rows with the audit
    * column dropped; `bad` is `(raw: string)` — the original line of
    * every row that failed to parse. The split is two filters over one
    * checkpoint-pinned full-width parse — which means the ENTIRE parsed
    * dataset materializes to executor-local storage on first action, and
    * downstream column pruning stops at that pin (audit semantics
    * require the full-row parse; see the inline note). That
    * materialization cost is fine for the config-sized CSV feeds this
    * serves; for a LARGE feed the primary path is the durable landing —
    * write `good`/`bad` straight to parquet in one pass and read the
    * landed parquet back (same single-parse guarantee, no executor-local
    * pin, and the landing prunes/pushes down like any parquet source).
    * Callers persist `bad` through the log sink of their choice. */
  def readCsvAudited(spark: org.apache.spark.sql.SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType,
      header: Boolean = true): (DataFrame, DataFrame) = {
    require(!schema.fieldNames.contains("_corrupt_record"),
      "schema must not already carry _corrupt_record")
    val withAudit = schema.add("_corrupt_record",
      org.apache.spark.sql.types.StringType)
    val raw = spark.read
      .option("header", header.toString)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(withAudit).csv(path)
    // Spark defines CSV corruption RELATIVE TO THE REQUIRED SCHEMA: a
    // mistyped field that a consumer's plan pruned away never flags its
    // row (measured: a not-a-number field passed `_corrupt_record IS
    // NULL` the moment the consumer selected a column subset — and no
    // conf restores detection for pruned plans). An audit is
    // definitionally a full-row parse, so the verdict is pinned behind a
    // lazy checkpoint: the file parses ONCE with every column
    // required, the first action materializes it, and downstream
    // projections prune the materialized rows — never the parse. This is
    // the "parse CSV once, then split" landing pattern; pipelines
    // wanting a durable landing write `good`/`bad` straight to parquet
    // and get the same single-parse guarantee.
    val pinned = graft.operators.Iterate.checkpoint(raw, eager = false)
    val good = pinned.filter(col("_corrupt_record").isNull)
      .drop("_corrupt_record")
    val bad = pinned.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw"))
    (good, bad)
  }
}
