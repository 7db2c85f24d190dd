package graft

import graft.etl.MigrationPipeline
import graft.etl.MigrationPipeline.MigrationConfig
import graft.sources.Discovery

/** CLI entry point for the customer-migration ETL — the user-facing
  * replacement for running the reference script:
  *
  *   runMain graft.RunMigration <csvPath|-> <xmlPath|-> <outDir> [runId] [date]
  *
  * Passing "-" for a path discovers the newest matching file under
  * `input/` (the reference's behavior, minus the interactive prompt:
  * selection is deterministic, newest wins). runId and date default to a
  * fresh UUID and today — pass both explicitly for reproducible runs.
  */
object RunMigration {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: RunMigration <csvPath|-> <xmlPath|-> <outDir> [runId] [yyyy-MM-dd]")
    val spark = SparkEntry.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      sys.env.get("SPARK_GRAFT_MASTER"))

    def resolve(arg: String, ext: String): String =
      if (arg != "-") arg
      else Discovery.latestFiles(spark, "input", ext, 1).headOption
        .getOrElse(sys.error(s"no $ext file found under input/"))

    val runId = if (args.length > 3) args(3) else java.util.UUID.randomUUID().toString
    val date = if (args.length > 4) args(4)
      else java.time.LocalDate.now(java.time.ZoneOffset.UTC).toString
    val cfg = MigrationConfig(
      csvPath = resolve(args(0), ".csv"),
      xmlPath = resolve(args(1), ".xml"),
      outDir = args(2),
      runId = runId,
      runDate = date,
      todayIso = s"${date}T00:00:00+00:00")
    val res = MigrationPipeline.run(spark, cfg)
    println(s"Output file: ${res.outputXmlPath}")
    println(s"Migration log saved to: ${res.logCsvPath}")
    spark.stop()
  }
}
