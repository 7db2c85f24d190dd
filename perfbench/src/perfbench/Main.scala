package perfbench

import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One workload: a timed execution, an output check and the layer-by-layer
  * decomposition the traced run adds. */
trait Workload {
  def items: Long
  def execute(i: Int): Any
  def check(result: Any, i: Int): Seq[String]
  def cleanup(i: Int): Unit
  /** Metrics derived from one traced execution's engine counters. */
  def executionMetrics(result: Any, engine: Map[String, Double]): Map[String, Double]
  def layers(tr: Tracer, i: Int): Seq[String]
  /** (metric, span name): the metric is that span's self time in ms. */
  def layerSpans: Seq[(String, String)]
  def layerCounts: Map[String, Double] = Map.empty
}

/** Entry points, all driven by `perfbench/run.py`:
  *
  *   gen-etl  <baseDir> <outDir> <customers> <files> <mappingPct> <seed>
  *   oracle   <queryName> <outFile>
  *   run      <workload> <seconds> <trace 0|1> <launchEpochNs> <cpus> <localDir>
  *            <dataDir> <workDir> <resultFile> <traceFile>
  */
object Main {

  def epochNs(): Long = {
    val t = Instant.now()
    t.getEpochSecond * 1000000000L + t.getNano
  }

  def session(cpus: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = args(0) match {
    case "gen-etl" =>
      Etl.generate(args(1), args(2), args(3).toInt, args(4).toInt, args(5).toDouble, args(6).toLong)
    case "oracle" =>
      Files.writeString(Paths.get(args(2)), graft.SparkEntry.oracleSql(args(1)))
    case "run" =>
      run(args.tail)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def run(a: Array[String]): Unit = {
    val Array(workload, secondsS, traceS, launchS, cpusS, localDir, dataDir, workDir, resultFile, traceFile) = a
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val spark = session(cpusS.toInt, localDir)
    val setupS = (epochNs() - launchS.toLong) / 1e9

    val w: Workload = workload match {
      case "etl_migration" =>
        new EtlWorkload(spark, dataDir, workDir, strict = true, singleFile = true)
      case "etl_delta_sparse" =>
        new EtlWorkload(spark, dataDir, workDir, strict = false, singleFile = false)
      case "corpus_curation" =>
        new CurationWorkload(spark, dataDir)
    }
    val rec = new Recorder(spark)
    var attempted = 0
    var failed = 0
    val errors = mutable.ArrayBuffer[String]()

    /** One execution: timed (untraced) or measured under the listeners. */
    def once(traced: Boolean): Option[(Double, Map[String, Double])] = {
      val i = attempted
      attempted += 1
      try {
        val (result, secs, engine) =
          if (traced) {
            rec.measured("execution")(w.execute(i))
          } else {
            val t0 = System.nanoTime()
            val r = w.execute(i)
            (r, (System.nanoTime() - t0) / 1e9, Map.empty[String, Double])
          }
        val problems = w.check(result, i)
        val extra = if (traced) w.executionMetrics(result, engine) else Map.empty
        w.cleanup(i)
        val res = Residue.take(spark)
        val all = engine ++ extra ++ Map(
          "heap_retained_mb" -> res.heapMb,
          "spark.resident_rdds_after" -> res.rdds.toDouble,
          "spark.resident_mb_after" -> res.rddMb)
        if (problems.nonEmpty) {
          failed += 1; errors ++= problems.map(p => s"execution $i: $p"); None
        } else Some((secs, all))
      } catch {
        case NonFatal(e) =>
          failed += 1
          errors += s"execution $i: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
          try w.cleanup(i) catch { case NonFatal(_) => }
          None
      }
    }

    val metrics = mutable.LinkedHashMap[String, Double]()
    val info = mutable.LinkedHashMap[String, Double]()
    if (trace) rec.attach()
    val first = once(traced = trace)
    if (trace) rec.detach()
    // JIT and caches are still settling in the execution after the first
    // (it measured 0.7-1.5 s slower than the ones after it): checked, not timed
    val warmUp = once(traced = false)
    if (trace) rec.attach()
    val warm = mutable.ArrayBuffer[(Double, Map[String, Double])]()
    val tracedRuns = mutable.ArrayBuffer[(Double, Map[String, Double])]()
    val layerRuns = mutable.ArrayBuffer[Map[String, Double]]()
    val loopStart = System.nanoTime()
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    // a round starts only if one more of the last one's length still ends
    // within --seconds, so the count of timed executions (the median's
    // sample) moves less with the machine's speed
    var rounds = 0
    var lastRound = 0.0
    while ((rounds == 0 || elapsed + lastRound <= seconds) && failed < 3) {
      val roundStart = elapsed
      if (trace) {
        // alternate which side runs first, so warm-up drift does not
        // count as tracing overhead
        def untraced(): Unit = { rec.detach(); once(traced = false).foreach(warm += _); rec.attach() }
        if (rounds % 2 == 1) untraced()
        once(traced = true).foreach(tracedRuns += _)
        if (rounds % 2 == 0) untraced()
        try {
          val problems = rec.tracer.span("layers")(w.layers(rec.tracer, rounds))
          if (problems.nonEmpty) { failed += 1; errors ++= problems }
          layerRuns += w.layerSpans.map { case (metric, span) =>
            metric -> rec.tracer.lastNamed(span).map(rec.tracer.selfMs).getOrElse(0.0)
          }.toMap ++ w.layerCounts
        } catch {
          case NonFatal(e) => failed += 1; errors += s"layers: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
        }
        attempted += 1
      } else once(traced = false).foreach(warm += _)
      rounds += 1
      lastRound = elapsed - roundStart
    }
    if (trace) rec.detach()

    val runS = warm.map(_._1).toSeq
    info("run_count") = runS.size.toDouble
    info("run_s_max") = if (runS.isEmpty) Double.NaN else runS.max
    info("error_rate") = failed.toDouble / attempted
    if (!trace) {
      metrics("setup_s") = setupS
      metrics("first_run_s") = first.map(_._1).getOrElse(Double.NaN)
      metrics("run_s") = median(runS)
      metrics("items_per_s") = w.items / median(runS)
      metrics("heap_retained_mb") = median((first.toSeq ++ warmUp ++ warm).map(_._2("heap_retained_mb")))
      info("resident_rdds_after") = median(warm.map(_._2("spark.resident_rdds_after")).toSeq)
      info("resident_mb_after") = median(warm.map(_._2("spark.resident_mb_after")).toSeq)
    } else {
      val runs = tracedRuns.map(_._2).toSeq
      val keys = (runs.headOption.map(_.keys).getOrElse(Nil) ++ layerRuns.headOption.map(_.keys).getOrElse(Nil))
        .filterNot(_ == "heap_retained_mb")
      keys.toSeq.sorted.foreach { k =>
        metrics(k) = median((runs ++ layerRuns).flatMap(_.get(k)))
      }
      first.foreach { case (_, m) =>
        metrics("spark.first_run_codegen_compiles") = m.getOrElse("spark.codegen_compiles", Double.NaN)
        metrics("spark.first_run_planning_ms") = m.getOrElse("spark.planning_ms", Double.NaN)
      }
      metrics("bench.trace_overhead_s") = median(tracedRuns.map(_._1).toSeq) - median(runS)
      Files.write(Paths.get(traceFile), rec.tracer.toJsonLines.mkString("\n").getBytes("UTF-8"))
    }

    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    def obj(m: collection.Map[String, Double]) = m.map { case (k, v) => s""""$k": ${num(v)}""" }.mkString("{", ", ", "}")
    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString
    } + "\""
    val json = s"""{"attempted": $attempted, "failed": $failed, "metrics": ${obj(metrics)}, """ +
      s""""info": ${obj(info)}, "run_s_samples": ${runS.map(num).mkString("[", ", ", "]")}, "errors":${errors.take(10).map(str).mkString("[", ", ", "]")}}"""
    Files.writeString(Paths.get(resultFile), json)
    spark.stop()
  }
}
