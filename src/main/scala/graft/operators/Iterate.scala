package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.GraftSqlBridge

/** The one place graft truncates lineage and the one place it runs a
  * round loop. Every operator checkpoint goes through [[checkpoint]];
  * every iterative operator (PageRank, label propagation, connected
  * components, k-means, Bradley-Terry, ...) runs its rounds through
  * [[fixpoint]]. `IterateSourceSpec` keeps direct `localCheckpoint` /
  * `checkpoint` calls out of the rest of the tree.
  *
  * HOW to truncate is a deployment decision, not an algorithm decision:
  *
  *  - `localCheckpoint` materializes to executor-local block storage —
  *    fast (no distributed-FS write) and the right default on local[32],
  *    but it FORFEITS fault recovery: the checkpointed blocks live only
  *    on the executors that computed them, so on a real cluster a single
  *    executor loss mid-iteration kills the whole multi-hour job.
  *  - reliable `checkpoint()` writes the rows to the SparkContext's
  *    checkpoint directory (HDFS / object store on a cluster) — each
  *    round pays a distributed write, and in exchange any executor can
  *    rebuild any partition after a loss.
  *
  * [[checkpoint]] picks automatically: if the caller has set a checkpoint
  * directory (`spark.sparkContext.setCheckpointDir(...)` — the explicit
  * opt-in a 100 TB deployment makes anyway), frames checkpoint reliably;
  * otherwise they fall back to `localCheckpoint`. Operators therefore
  * need no extra parameter, and the same code is fault-tolerant on a
  * cluster and fast in local mode (IterateSpec exercises both paths).
  *
  * Who releases what:
  *
  *  - [[fixpoint]] releases each round IT produced as soon as the next
  *    round has materialized — the superseded frame's blocks are freed
  *    through its `LogicalRDD`'s RDD ([[GraftSqlBridge.releaseCheckpoint]];
  *    `Dataset.unpersist` does not reach a checkpoint's blocks). The last
  *    round is the caller's result and stays.
  *  - It never releases `init`: the starting frame belongs to the caller
  *    (`Kmeans.trainFrom` receives a caller-owned centroid table) and may
  *    be read again after the loop.
  *  - Frames from plain [[checkpoint]] — loop-invariant inputs, per-round
  *    side frames inside a step, one-off pins — are never released here;
  *    they live until their RDD is garbage-collected by the context
  *    cleaner. A fold whose OUTPUT reads every stage's checkpoint
  *    (`Behavior.funnel`) must stay on plain [[checkpoint]]: releasing a
  *    stage it still reads fails the final collect with
  *    `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`.
  *  - Reliable-mode files are not removed by a release. Spark deletes
  *    them only under `spark.cleaner.referenceTracking.cleanCheckpoints=true`,
  *    so deployments should set that flag (a superseded round is
  *    unreferenced once released) or point the checkpoint dir at a
  *    TTL'd/job-scoped path — the frames are the small rank/label
  *    relations, never the corpus.
  */
object Iterate {

  /** Truncate `df`'s lineage: reliable `checkpoint(eager)` when the
    * SparkContext has a checkpoint dir set, `localCheckpoint(eager)`
    * otherwise. */
  def checkpoint(df: DataFrame, eager: Boolean = true): DataFrame = {
    val cp =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
        df.checkpoint(eager)
      else df.localCheckpoint(eager)
    // the checkpoint SNAPSHOTS the child plan's estimated Statistics —
    // in an iterative loop those estimates compound round over round
    // (and square under a self-join) until the driver drowns in
    // BigInteger arithmetic; clamp them far above every broadcast
    // threshold (see GraftSqlBridge.capCheckpointStats)
    GraftSqlBridge.capCheckpointStats(cp)
  }

  /** The outcome of [[fixpoint]]: the last round's frame, and whether
    * the `converged` probe stopped the loop (always false without one). */
  final case class Fixpoint(frame: DataFrame, converged: Boolean)

  /** Run `step` for rounds 1..`maxRounds`, each round eagerly
    * [[checkpoint]]ed. After every round the optional `converged` probe
    * reads the new frame; the loop stops the first time it answers
    * true. The skeleton runs no job of its own: a fixed-round loop pays
    * exactly its checkpoints, a probing loop one probe per round on top.
    * `maxRounds` of 0 returns `init` untouched, unconverged.
    *
    * `step(prev, round)` gets the previous frame (`init` in round 1)
    * and the 1-based round number. Each superseded round is released
    * once its successor has materialized; `init` never is (see the
    * object doc). A step may read `prev` freely — its output is
    * checkpointed before `prev` goes — but must not keep a round's
    * frame for use in a later round. */
  def fixpoint(init: DataFrame, maxRounds: Int,
      converged: Option[DataFrame => Boolean] = None)(
      step: (DataFrame, Int) => DataFrame): Fixpoint = {
    @annotation.tailrec
    def go(prev: DataFrame, round: Int): Fixpoint =
      if (round > maxRounds) Fixpoint(prev, converged = false)
      else {
        val next = checkpoint(step(prev, round))
        if (prev ne init) GraftSqlBridge.releaseCheckpoint(prev)
        if (converged.exists(_(next))) Fixpoint(next, converged = true)
        else go(next, round + 1)
      }
    go(init, 1)
  }
}
