package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{count, when}
import org.apache.spark.sql.graftbridge.GraftSqlBridge

/** The one place graft truncates lineage and the one place it runs a
  * round loop. Every operator checkpoint goes through [[checkpoint]];
  * every iterative operator (PageRank, label propagation, connected
  * components, k-means, Bradley-Terry, ...) runs its rounds through
  * [[fixpoint]]. `IterateSourceSpec` keeps direct `localCheckpoint` /
  * `checkpoint` calls out of the rest of the tree.
  *
  * HOW to truncate is a deployment decision, not an algorithm decision.
  * `localCheckpoint` keeps the rows in executor-local blocks: fast, the
  * right default on local[32], but an executor loss mid-iteration kills
  * the job. Reliable `checkpoint()` writes them to the checkpoint
  * directory (HDFS / object store), so any executor can rebuild any
  * partition. [[checkpoint]] checkpoints reliably once the deployment has
  * set a checkpoint dir (`sparkContext.setCheckpointDir`) and locally
  * otherwise, so operators need no parameter for it (IterateSpec runs
  * both paths).
  *
  * Who releases what:
  *
  *  - [[fixpoint]] releases each round it produced once the next round
  *    has materialized, through its `LogicalRDD`'s RDD
  *    ([[GraftSqlBridge.releaseCheckpoint]]; `Dataset.unpersist` does not
  *    reach a checkpoint's blocks). The last round is the caller's result.
  *  - Side frames die with their round: every [[checkpoint]] a step takes
  *    (hits' `aRaw`/`hRaw`, mixtureReweight's `raw`) is released with the
  *    round that step read. A step must not checkpoint a frame it means
  *    to keep for a later round.
  *  - `init` is never released: it belongs to the caller
  *    (`Kmeans.trainFrom` receives a caller-owned centroid table).
  *  - [[checkpoint]]s outside a step (loop invariants, one-off pins) live
  *    until the context cleaner collects their RDD. A fold whose output
  *    reads every stage's checkpoint (`Behavior.funnel`) must not release
  *    them, or its final collect fails with
  *    `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`.
  *  - A release does not delete reliable-mode files; Spark does so only
  *    under `spark.cleaner.referenceTracking.cleanCheckpoints=true`, so
  *    deployments set that flag or use a job-scoped checkpoint dir.
  *
  * Where the convergence probe runs: it is one boolean aggregate Column
  * over the new round's frame. With local checkpoints the round is
  * checkpointed lazily and the probe's aggregate is the job that
  * materializes it (caches its blocks and cuts its lineage), so a probing
  * round costs one job more than a fixed round, not two. With reliable
  * checkpoints the round is checkpointed eagerly and the probe reads the
  * written frame: a lazy reliable checkpoint would compute the round
  * once for the probe and again to write its files.
  */
object Iterate {

  /** The side frames the running step has checkpointed (null outside a
    * step); not inheritable, so pool threads a step starts keep none. */
  private val roundSides = new ThreadLocal[ArrayBuffer[DataFrame]]

  private def reliable(df: DataFrame): Boolean =
    df.sparkSession.sparkContext.getCheckpointDir.isDefined

  /** Truncate `df`'s lineage: reliable `checkpoint(eager)` when the
    * SparkContext has a checkpoint dir set, `localCheckpoint(eager)`
    * otherwise. Inside a [[fixpoint]] step the frame is a side frame of
    * the round and is released with it. */
  def checkpoint(df: DataFrame, eager: Boolean = true): DataFrame = {
    val cp = if (reliable(df)) df.checkpoint(eager) else df.localCheckpoint(eager)
    // the checkpoint SNAPSHOTS the child plan's estimated Statistics,
    // which compound round over round (see GraftSqlBridge.capCheckpointStats)
    val out = GraftSqlBridge.capCheckpointStats(cp)
    Option(roundSides.get).foreach(_ += out)
    out
  }

  /** Whether `probe`, one boolean aggregate over `frame`'s rows, holds
    * (a null answer does not). [[fixpoint]] tests every round with it; a
    * caller that tests `init` before looping uses it too. */
  def holds(frame: DataFrame, probe: Column): Boolean = {
    val r = frame.agg(probe).head()
    !r.isNullAt(0) && r.getBoolean(0)
  }

  /** The probe "no row satisfies `cond`" (true on an empty frame; a row
    * where `cond` is null does not count). */
  def noRow(cond: Column): Column = count(when(cond, true)) === 0L

  /** The outcome of [[fixpoint]]: the last round's frame, and whether
    * the `converged` probe stopped the loop (always false without one). */
  final case class Fixpoint(frame: DataFrame, converged: Boolean)

  /** Run `step` for rounds 1..`maxRounds`, each round [[checkpoint]]ed,
    * and stop after the first round whose frame the optional `converged`
    * probe [[holds]] for. The skeleton runs no job of its own: a fixed
    * round pays its checkpoint, a probing round its probe (see the object
    * doc). `maxRounds` of 0 returns `init` untouched, unconverged.
    *
    * `step(prev, round)` gets the previous frame (`init` in round 1) and
    * the 1-based round number. Once the new round has materialized, the
    * superseded round and every frame the step checkpointed are
    * released, so a step must not keep either for a later round. */
  def fixpoint(init: DataFrame, maxRounds: Int,
      converged: Option[Column] = None)(
      step: (DataFrame, Int) => DataFrame): Fixpoint = {
    @annotation.tailrec
    def go(prev: DataFrame, round: Int): Fixpoint =
      if (round > maxRounds) Fixpoint(prev, converged = false)
      else {
        val outer = roundSides.get
        val sides = ArrayBuffer[DataFrame]()
        roundSides.set(sides)
        val built = try step(prev, round) finally roundSides.set(outer)
        val next = checkpoint(built, eager = converged.isEmpty || reliable(built))
        val done = converged.exists(holds(next, _))
        (if (prev ne init) sides :+ prev else sides)
          .foreach(GraftSqlBridge.releaseCheckpoint)
        if (done) Fixpoint(next, converged = true) else go(next, round + 1)
      }
    go(init, 1)
  }
}
