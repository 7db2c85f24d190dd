package graft

import org.apache.spark.sql.catalyst.plans.logical.Window
import org.scalatest.funsuite.AnyFunSuite

/** Global plan lint over EVERY registered query — the invariants that
  * keep the whole pack 100 TB-safe, asserted in one sweep so a new query
  * (or a regression in a shared operator) cannot silently ship an
  * anti-scale plan shape:
  *
  *   - no `CartesianProduct`: every cross join must broadcast (a
  *     non-broadcast cartesian over two corpus relations is the O(n²)
  *     shape nothing survives);
  *   - no `Window` without PARTITION BY over anything except the
  *     allowlisted provably-bounded relations (a global window funnels
  *     the corpus through ONE partition);
  *   - no `InMemoryTableScan`: nothing here caches — a cache appearing
  *     means an operator started persisting corpus data as a side effect.
  *
  * `ScaleProbe audit` remains the human-readable sweep (exchange
  * counts, join strategies); this spec is the enforced subset.
  *
  * KNOWN BLIND SPOT, audited by hand instead: a query whose operator
  * eagerly `localCheckpoint`s (the iterative k-means/CC family) returns
  * a LogicalRDD leaf — its actual training plans ran at construction
  * time where this sweep cannot see them. Those interior plans carry
  * their own justifications at the call sites (bounded k-row frames for
  * the partition-less windows in Kmeans; per-round keyed joins in CC)
  * and their scale behavior is measured in SCALE.md rather than
  * lint-asserted here.
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** Partition-less windows ranking relations bounded by construction —
    * the k-row/candidate-pool frames where a single-partition sort is
    * the right plan (documented at each call site). Currently empty:
    * the one such query (q_sim9) checkpoints and so never even shows
    * its window here (see the blind-spot note above). */
  private val boundedWindowAllowlist = Set.empty[String]

  test("every registered query passes the global plan invariants") {
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, dir)
        val phys = df.queryExecution.executedPlan.toString
        if (phys.contains("CartesianProduct"))
          failures += s"$name: CartesianProduct in the physical plan"
        if (phys.contains("InMemoryTableScan"))
          failures += s"$name: InMemoryTableScan (unexpected cache)"
        val unpartitioned = df.queryExecution.optimizedPlan.collect {
          case w: Window if w.partitionSpec.isEmpty => w
        }
        if (unpartitioned.nonEmpty && !boundedWindowAllowlist(name))
          failures += s"$name: ${unpartitioned.size} Window(s) without PARTITION BY"
      } catch {
        case e: Throwable =>
          failures += s"$name: failed to plan — ${String.valueOf(e.getMessage).take(120)}"
      }
    }
    info(s"${SparkEntry.queries.size} queries audited")
    assert(failures.isEmpty, "plan invariants violated:\n" + failures.mkString("\n"))
  }
}
