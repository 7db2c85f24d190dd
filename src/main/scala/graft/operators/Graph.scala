package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph ranking over an edge list — the corpus-curation use is domain /
  * source quality ranking (rank a source by who links to it, then weight
  * or filter the training mixture by rank), the classic web-scale data
  * pipeline step.
  *
  * PageRank here is the power iteration expressed relationally, the only
  * shape that survives 100 TB: each round is one equi-join of the edge
  * list with the current rank vector on `src` (both sides hash-partition
  * on the same key, so a cluster co-partitions them once and reuses the
  * exchange), one `dst`-keyed aggregation of contributions (map-side
  * partial — a node's in-edges combine within each task before the
  * shuffle), and one keys-sized left join back to the node set. Nothing
  * is ever collected to the driver except the node COUNT and (under
  * `tol`) one movement aggregate per round; rounds run through
  * [[Iterate.fixpoint]], which truncates lineage via
  * [[Iterate.checkpoint]] — executor-local blocks on local[32], reliable
  * checkpoint files when the deployment has set a checkpoint dir (the
  * 100 TB posture: an executor loss mid-iteration then recovers instead
  * of killing the job) — exactly like the connected-components loop in
  * [[Dedup]].
  *
  * Dangling nodes (no out-edges) are handled the standard way: their
  * rank mass is redistributed uniformly each round (a 1-row aggregate,
  * broadcast), so the iteration cannot leak mass. Numerics: ranks are
  * carried as integer MICRO-units PER NODE (each seed starts at exactly
  * 10⁶; total mass is s·10⁶, normalized to sum ~1 only at output — so
  * precision is independent of graph size, where a per-graph 10⁶ would
  * underflow past ~10⁶ nodes). Per-edge shares quantize via `floor(x + 0.5)` —
  * explicit single IEEE ops, never ROUND, whose double→decimal
  * tie-breaking differs between engines on the exact .5 boundaries
  * integer division produces constantly — and per-node sums are exact
  * integer sums (order-independent). Every float step in between is a
  * single IEEE double op, so a relational oracle replays the whole
  * iteration bit-for-bit (the first attempt with 6-dp ROUND + DECIMAL
  * sums hash-mismatched at sf0.01 on precisely such a tie).
  */
object Graph {

  /** Edge-count threshold above which the power-iteration cores
    * hash-partition + sort the degree-annotated edge relation on the
    * per-round join key before checkpointing it (see the comment at the
    * use site). Below it the extra setup exchange and the forced wide
    * partitioning cost more than they save on a graph whose rank
    * vector AQE broadcasts anyway. */
  private val copartitionMinEdges = 262144L

  /** PageRank over directed `edges(src, dst)`. Parallel edges are
    * legal (they weight the link); self-loops are legal. Returns
    * `(node, rank)` over every node appearing as src or dst, ranks
    * summing to ~1 (full-precision doubles — the 6-dp micro-unit
    * quantization is internal per-node mass, normalized by the node
    * count at output).
    *
    * `iters` is bounded: the caller picks convergence depth explicitly
    * (each round is a full pass over the edge relation — at 100 TB that
    * is the dominant cost and must be a conscious choice, not a
    * convergence loop that silently runs 80 rounds). `tol` adds the
    * early exit a bounded round count can't express: each round ends in
    * one aggregate ([[Iterate.fixpoint]]'s probe) of the total absolute rank
    * movement Σ|Δrank| (exact integer micro-units, so the test is
    * deterministic), and the loop stops once movement ≤ tol. The
    * round's output is kept, so the result is bit-identical to running
    * exactly that many fixed rounds — an oracle replaying the executed
    * round count reproduces it (GraphSpec pins early-exit ==
    * fixed-iters at the stop round). `iters` stays the hard ceiling. */
  def pageRank(edges: DataFrame, iters: Int,
      damping: Double = 0.85, tol: Option[Double] = None): DataFrame =
    pageRankCore(edges, seeds = None, iters, damping, tol)

  /** The one seeded power-iteration core behind [[pageRank]] (seeds =
    * None → every node is a seed, the uniform-restart classic) and
    * [[personalizedPageRank]] (seeds = Some(set)). Factored so a fix to
    * the round shape lands in exactly one place — the all-seeds case is
    * spec-pinned bit-identical to the dedicated plain form this
    * replaced (GraphSpec), and q_g1's oracle hash re-proves it at
    * sf0.01 every round. */
  private def pageRankCore(edges: DataFrame, seeds: Option[DataFrame],
      iters: Int, damping: Double, tol: Option[Double],
      weighted: Boolean = false): DataFrame = {
    require(iters >= 1 && iters <= 50, s"need 1 <= iters <= 50, got $iters")
    require(damping > 0 && damping < 1, s"need 0 < damping < 1, got $damping")
    tol.foreach(t => require(t >= 0, s"tol must be >= 0, got $t"))

    // the projected edge relation feeds the degree aggregation, the
    // degree-annotation join AND the node-set union below — checkpoint
    // it so the caller's edge-construction lineage (often an
    // orders × lineitem join or a co-occurrence expansion) runs once,
    // not once per consumer (guide §1.2; measured: the q_g1 edge build
    // ran 3-4x in the setup jobs before)
    val e = Iterate.checkpoint(
      if (weighted) edges.select(col("src"), col("dst"), col("w"))
      else edges.select(col("src"), col("dst")))
    // out-degrees (weighted: total out-weight) and the degree-annotated
    // edge list are materialized ONCE and reused every round (the joins
    // below would otherwise recompute the degree aggregation per
    // iteration). The edge relation is hash-partitioned on `src` — the
    // per-round join key — BEFORE the checkpoint (guide §2.4: keyed
    // operations share one exchange): the checkpoint preserves the
    // partitioning, so every round's contribution join streams these
    // blocks without re-exchanging the edge relation; only the
    // nodes-sized rank vector moves per round.
    val deg = Iterate.checkpoint(
      if (weighted) e.groupBy("src").agg(sum(col("w")).as("__outdeg"))
      else e.groupBy("src").agg(count(lit(1)).as("__outdeg")))
    // SCALE-ADAPTIVE co-partitioning (guide §2.4): when the edge
    // relation is large, hash-partition + sort it on `src` ONCE before
    // the checkpoint so every round's contribution join streams it with
    // no exchange and no re-sort (at cluster scale the rank vector is
    // far past any broadcast threshold, so the join is sort-merge and
    // re-shuffling the edges per round is the dominant cost). Below the
    // threshold the extra setup exchange + the fixed per-round tasks of
    // a forced wide partitioning cost more than they save — AQE already
    // broadcasts a nodes-sized rank vector there (measured: +1.0s on
    // the 20-host q_x102 graph, ±0 on the 1.2M-edge q_g1 at sf0.1).
    // The edge count is one cheap aggregate over the checkpointed
    // nodes-sized degree relation, not an edge scan. Partition count is
    // pinned to the session shuffle default (the knob deployments
    // already size): an AQE-sized repartition could coalesce to one
    // partition and serialize every round, and the per-round ranks
    // exchange must match this count for the reuse to fire.
    // (for the weighted form __outdeg sums weights — an upper bound on
    // the edge count since weights are required positive integers; the
    // decision only needs the order of magnitude)
    val edgeCount = deg.agg(coalesce(sum(col("__outdeg")), lit(0L)))
      .first().getLong(0)
    val annotated = e.join(deg, "src")
    val withDeg = Iterate.checkpoint(
      if (edgeCount < copartitionMinEdges) annotated
      else annotated.repartition(
          edges.sparkSession.sessionState.conf.numShufflePartitions,
          col("src"))
        .sortWithinPartitions("src"))
    val allNodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val seeded = seeds match {
      case Some(sd) =>
        val seedSet = sd.select(col("node")).distinct()
          .withColumn("__sd", lit(true))
        allNodes.join(broadcast(seedSet), Seq("node"), "left")
          .select(col("node"), coalesce(col("__sd"), lit(false)).as("__seed"))
      case None => allNodes.withColumn("__seed", lit(true))
    }
    // the dangling flag is STATIC (deg never changes), so it is folded
    // into the node state ONCE — the per-round dangling-mass scalar then
    // reads the rank vector itself instead of paying a ranks × deg
    // anti-join every round (guide §2.4: one join less per round)
    val nodes = Iterate.checkpoint(seeded
      .join(deg.select(col("src").as("node"), lit(true).as("__has")),
        Seq("node"), "left")
      .select(col("node"), col("__seed"),
        coalesce(col("__has"), lit(false)).as("__out")))
    val s = nodes.filter(col("__seed")).count() // one driver scalar
    require(s > 0,
      if (seeds.isDefined) "personalizedPageRank: no seed appears in the graph"
      else "pageRank: empty edge list")
    // PRECISION AT SCALE: micro-units are carried PER NODE — every seed
    // starts at exactly 1e6 and total mass is s·1e6, normalized back to
    // sum ~1 only at output. The earlier per-graph scaling (init
    // floor(1e6/s)) underflowed to 0-1 micro-units once the graph
    // passed ~10⁶ nodes, collapsing all precision exactly where a
    // 100 TB edge list lives; per-node units keep quantization error at
    // 1e-6 of a node's mass regardless of graph size. restartM is the
    // constant (1-d)·1e6 — exact at 150000 for the default damping.
    val restartM = (1.0 - damping) * 1e6

    val init = nodes.select(col("node"), col("__seed"), col("__out"),
      when(col("__seed"), lit(1000000L)).otherwise(lit(0L)).as("rank_m"))
    // exact-integer movement over the new round's frame (new rank +
    // carried previous rank — no join). Normalized by s so tol keeps
    // meaning "total movement in OUTPUT-rank units (which sum to ~1)"
    // under per-node micros.
    val settled = tol.map(t =>
      coalesce(sum(abs(col("rank_m") - col("__prev"))), lit(0L))
        .cast("double") / lit(1e6) / lit(s) <= lit(t))
    val ranks = Iterate.fixpoint(init, iters, settled) { (ranks, _) =>
      // share per out-edge: long/long division is IEEE double in both
      // engines; floor(x + 0.5) quantizes to micros deterministically.
      // Weighted: rank·w/wsum as CAST-to-double FIRST then two IEEE ops
      // (the exact-integer product could overflow at mass × weight)
      val share =
        if (weighted)
          floor(col("rank_m").cast("double") * col("w") / col("__outdeg") +
            lit(0.5))
        else floor(col("rank_m") / col("__outdeg") + lit(0.5))
      val contribs = withDeg
        .join(ranks.select(col("node"), col("rank_m")),
          col("src") === col("node"))
        .select(col("dst"), share.as("__c"))
        .groupBy("dst").agg(sum("__c").as("__s"))
      // rank mass sitting on dangling nodes (no out-edges), returned to
      // the seeds uniformly (= all nodes in the plain form); 1-row
      // aggregate over the static __out flag, pure integer sum — exact
      val dangling = ranks.filter(!col("__out"))
        .agg(coalesce(sum("rank_m"), lit(0L)).as("__dm"))
      // the rank vector itself is the per-round spine (same key set as
      // `nodes`, already materialized): under `tol` the previous rank
      // rides along, so the movement scalar is one scan of the new
      // checkpoint instead of a ranks × prev join (guide §2.4)
      val outCols = Seq(col("node"), col("__seed"), col("__out"),
        when(col("__seed"),
          floor(lit(restartM) + lit(damping) *
            (coalesce(col("__s"), lit(0L)).cast("double") +
              col("__dm").cast("double") / s) + lit(0.5)))
          .otherwise(floor(lit(damping) *
            coalesce(col("__s"), lit(0L)).cast("double") + lit(0.5)))
          .as("rank_m")) ++
        (if (tol.isDefined) Seq(col("rank_m").as("__prev")) else Nil)
      ranks
        .join(contribs, col("node") === col("dst"), "left")
        .crossJoin(broadcast(dangling))
        .select(outCols: _*)
    }.frame
    ranks.select(col("node"),
      (col("rank_m").cast("double") / lit(1e6) / s).as("rank"))
  }

  /** Weighted PageRank over `edges(src, dst, w)`: a node's rank splits
    * across its out-edges PROPORTIONALLY TO `w` instead of uniformly —
    * the natural form when the edge relation aggregates interactions
    * ("customer ordered from supplier 17 times") rather than listing
    * one row per interaction. Weights must be POSITIVE integers (a
    * zero-total-weight source divides by zero; model absent links by
    * omitting the edge, not weighting it 0). Per-edge share is
    * `floor(rank·w/wsum + 0.5)` with the cast to double BEFORE the
    * product — the exact-integer product could overflow at mass ×
    * weight — so the replay contract still holds: two IEEE ops and one
    * quantization, mirrored by the oracle. With all weights 1 this
    * reduces to [[pageRank]] bit-exactly (GraphSpec pins it; other
    * uniform weights agree only up to double rounding of c·x/c·y).
    * Everything else (per-node micros, dangling, `tol`) is
    * [[pageRank]]'s. */
  def pageRankWeighted(edges: DataFrame, iters: Int,
      damping: Double = 0.85, tol: Option[Double] = None): DataFrame =
    pageRankCore(edges, seeds = None, iters, damping, tol, weighted = true)

  /** Personalized PageRank over directed `edges(src, dst)`: restart
    * mass teleports to the `seeds` node set instead of uniformly — the
    * proximity-to-trusted-seeds score web-corpus curation uses to
    * weight sources by their link distance from a vetted whitelist
    * (rather than by global popularity, which [[pageRank]] measures).
    * Dangling mass likewise returns to the seeds, the standard
    * formulation that keeps total mass at ~1.
    *
    * `seeds` is a keys-sized one-column (`node`) relation — it is
    * deduplicated, intersected with the graph's nodes, and broadcast;
    * seeds outside the graph are ignored (an empty intersection fails
    * loudly). Iteration shape, integer micro-rank numerics, `tol`
    * early-exit, and per-round lineage truncation are exactly
    * [[pageRank]]'s — same bit-exact oracle replay discipline, with the
    * seed flag deciding between the two FLOOR expressions per node.
    * With seeds = ALL nodes this reduces to [[pageRank]] exactly
    * (GraphSpec pins that equivalence). Returns `(node, rank)`. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iters: Int,
      damping: Double = 0.85, tol: Option[Double] = None): DataFrame =
    pageRankCore(edges, Some(seeds), iters, damping, tol)

  /** HITS hubs-and-authorities over directed `edges(src, dst)` — the
    * complement of [[pageRank]] for link corpora where "points at good
    * content" (hub) and "is good content" (authority) are distinct
    * signals: a crawl frontier scores SEED LISTS by hub value and
    * DOCUMENTS by authority value. Kleinberg's alternating iteration:
    * each round the authority vector aggregates in-edge hub mass, then
    * the hub vector aggregates out-edge mass of the NEW authorities.
    *
    * Numerics follow the [[pageRank]] micro-rank discipline, with
    * MAX-normalization replacing the L2 norm (a square root cannot be
    * replayed exactly; dividing by the exact-integer per-round maximum
    * can): raw scores are exact integer sums, and the rescale is
    * `floor(raw · 1e6 / max + 0.5)` — two IEEE double ops and one
    * quantization, so a relational oracle replays every round
    * bit-for-bit. The per-round maximum lands at exactly 1e6, so the
    * iteration cannot drift or overflow. Shape per half-round: one
    * keyed equi-join + one map-side-combined sum + a broadcast 1-row
    * max + a keys-sized left join; lineage truncates per round via
    * [[Iterate.checkpoint]]. `tol` carries the same per-output-unit
    * meaning as [[pageRank]]'s: the per-round movement scalar
    * Σ(|Δauth| + |Δhub|) is normalized by the node count, so one tol
    * value expresses the same per-node convergence bar on a 1k-node
    * fixture and a 1B-node crawl graph. Returns `(node, auth, hub)`
    * rounded to 6 dp, maxima at 1.0. */
  def hits(edges: DataFrame, iters: Int,
      tol: Option[Double] = None): DataFrame = {
    require(iters >= 1 && iters <= 50, s"need 1 <= iters <= 50, got $iters")
    tol.foreach(t => require(t >= 0, s"tol must be >= 0, got $t"))
    val e = Iterate.checkpoint(edges.select(col("src"), col("dst")))
    val nodes = Iterate.checkpoint(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    val n = nodes.count() // one driver scalar, the tol normalizer
    require(n > 0, "hits: empty edge list")

    val init = nodes
      .withColumn("auth_m", lit(1000000L))
      .withColumn("hub_m", lit(1000000L))
    // the pageRank tol discipline: one exact-integer movement per round
    // — Σ(|Δauth_m| + |Δhub_m|) over the new round's frame (previous
    // scores carried along — no join), normalized by the NODE count so
    // tol means "average per-node movement in score units" on any graph
    // size, the same per-output-unit contract as pageRank's division by
    // its seed count; output equals the fixed round count actually
    // executed (GraphSpec)
    val settled = tol.map(t =>
      coalesce(sum(abs(col("auth_m") - col("__pa")) +
          abs(col("hub_m") - col("__ph"))), lit(0L))
        .cast("double") / lit(1e6) / lit(n) <= lit(t))
    val scores = Iterate.fixpoint(init, iters, settled) { (scores, _) =>
      // the previous score frame is the per-round spine (same key set
      // as `nodes`, already materialized): authorities rescale onto it
      // carrying the previous scores along, hubs rescale onto THAT —
      // which fuses the old separate auth ⋈ hub re-join into the hub
      // rescale (guide §2.4: one nodes-sized join less per round), and
      // under `tol` makes the movement scalar one scan of the new
      // checkpoint instead of a scores × prev join
      // aRaw/hRaw are each consumed TWICE (the 1-row max normalizer's
      // broadcast build + the rescale join run as separate jobs, so
      // exchange reuse cannot dedupe them) — without these checkpoints
      // the edge contribution join ran 4x per round instead of 2x
      // (guide §1.2); nodes-sized, released with the round
      val aRaw = Iterate.checkpoint(
        e.join(scores.select(col("node"), col("hub_m")),
          col("node") === col("src"))
        .groupBy(col("dst")).agg(sum("hub_m").as("__raw")))
      val amx = aRaw.agg(max(col("__raw")).as("__mx"))
      val auth = scores
        .select(col("node"), col("auth_m").as("__pa"),
          col("hub_m").as("__ph"))
        .join(aRaw, col("node") === col("dst"), "left")
        .crossJoin(broadcast(amx))
        .select(col("node"), col("__pa"), col("__ph"),
          floor(coalesce(col("__raw"), lit(0L)).cast("double") * lit(1e6) /
            col("__mx") + lit(0.5)).as("auth_m"))
      val hRaw = Iterate.checkpoint(
        e.join(auth.select(col("node"), col("auth_m")),
          col("node") === col("dst"))
        .groupBy(col("src")).agg(sum("auth_m").as("__raw")))
      val hmx = hRaw.agg(max(col("__raw")).as("__mx"))
      val keepPrev = if (tol.isDefined) Seq(col("__pa"), col("__ph")) else Nil
      auth
        .join(hRaw, col("node") === col("src"), "left")
        .crossJoin(broadcast(hmx))
        .select(Seq(col("node"), col("auth_m"),
          floor(coalesce(col("__raw"), lit(0L)).cast("double") * lit(1e6) /
            col("__mx") + lit(0.5)).as("hub_m")) ++ keepPrev: _*)
    }.frame
    scores.select(col("node"),
      (col("auth_m").cast("double") / lit(1e6)).as("auth"),
      (col("hub_m").cast("double") / lit(1e6)).as("hub"))
  }

  /** Triangle counting + local clustering coefficient over `edges(src,
    * dst)` treated as an UNDIRECTED simple graph (direction dropped,
    * self-loops and parallel edges removed) — the local-density signal a
    * link-corpus curation pass uses to separate organic neighborhoods
    * (high clustering) from spam farms and scraped link lists (star
    * shapes: high degree, near-zero clustering).
    *
    * The 100 TB shape is the degree-ORIENTED wedge join (the published
    * MapReduce triangle-counting trick — Suri & Vassilvitskii 2011,
    * Cohen 2009): orient every undirected edge from its lower to its
    * higher endpoint under the total order (degree, node), then count
    * paths u→v→w closed by an edge u→w. Each triangle has exactly one
    * vertex ordering compatible with the orientation, so it is found
    * exactly ONCE (no /6 correction, no duplicate elimination), and —
    * the scale point — a node's oriented OUT-degree is O(√m) however
    * skewed its raw degree (a celebrity node with 10⁸ followers orients
    * almost all of those edges INWARD), so the wedge relation is
    * bounded by Σ outdeg² ≤ O(m^1.5) instead of the unbounded Σ deg² a
    * naive wedge join produces. Three keyed equi-joins, two hash
    * aggregations, pure integer arithmetic until the final 6-dp
    * coefficient — nothing driver-side, no iteration.
    *
    * Returns `(node, degree, n_tri, lcc)` for every node:
    * `lcc = 2·n_tri / (degree·(degree−1))` rounded to 6 dp, 0.0 for
    * degree < 2 (the convention that makes isolated-ish nodes sort
    * low, not null-out). */
  def triangles(edges: DataFrame): DataFrame = {
    // und feeds 4 consumers (deg + both orientation joins + the final
    // degree join) — materialize it ONCE; downstream relations stay
    // LAZY: at edge-relation sizes the extra checkpoint barriers cost
    // more than the recompute they save (measured on the co-occurrence
    // bench query), and Catalyst reuses the materialized und blocks in
    // every branch
    val und = Iterate.checkpoint(edges
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct())
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    // orient low → high under (degree, node); `a < b` already, so the
    // degree tie breaks to `a` — one deterministic total order
    val oriented = und
      .join(deg.select(col("node").as("a"), col("degree").as("__da")), "a")
      .join(deg.select(col("node").as("b"), col("degree").as("__db")), "b")
      .select(
        when(col("__da") <= col("__db"), col("a")).otherwise(col("b")).as("u"),
        when(col("__da") <= col("__db"), col("b")).otherwise(col("a")).as("v"))
    val o1 = oriented.select(col("u").as("x"), col("v").as("y"))
    val o2 = oriented.select(col("u").as("y"), col("v").as("z"))
    val o3 = oriented.select(col("u").as("x"), col("v").as("z"))
    val tri = o1.join(o2, "y").join(o3, Seq("x", "z"))
    val perNode = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("lcc",
        when(col("degree") >= 2,
          round((lit(2L) * col("n_tri")).cast("double") /
            (col("degree") * (col("degree") - 1)), 6))
          .otherwise(lit(0.0)))
  }

  /** k-core decomposition (the k-core itself, by iterative peeling) over
    * `edges(src, dst)` treated as an UNDIRECTED simple graph — the
    * density filter a link-corpus curation pass uses to keep only the
    * mutually-well-connected region of a domain graph (a node survives
    * only if ≥ k of its neighbors ALSO survive, recursively — degree
    * alone can't express that cascade).
    *
    * Matula & Beck's peeling, relationalized: each round recomputes
    * degrees over the surviving-induced subgraph (two keyed semi-joins
    * of the edge relation against the alive set + one hash count) and
    * drops every node below k. Pure integer arithmetic — no
    * quantization discipline needed, the oracle's round-by-round replay
    * is exact by construction. The early exit (no node dropped) is
    * OUTPUT-INVARIANT: a stable round is a no-op, so running the
    * ceiling `iters` rounds yields bit-identical output — which is
    * exactly what lets a fixed-round oracle replay an early-exiting
    * engine (the LPA/tol contract, here with no tolerance knob at all).
    * One count per round (the [[Iterate.fixpoint]] probe) reaches the
    * driver; lineage truncates per round via [[Iterate.checkpoint]].
    *
    * Returns `(node, degree)` for the nodes of the k-core, `degree`
    * being the WITHIN-CORE degree (≥ k by construction) WHEN the
    * peeling converged within `iters` rounds. If the cascade is still
    * running when `iters` exhausts, the returned nodes are a SUPERSET
    * of the true k-core and the degrees are measured in the LAST
    * surviving-induced subgraph (so they can exceed the true
    * within-core degree) — [[kCoreWithStatus]] reports which case
    * happened, and this convenience wrapper logs the truncation loudly
    * instead of letting a 100×-scale caller mistake a partial peel for
    * the real core. Empty result when the graph has no k-core — that
    * is an answer, not an error. */
  def kCore(edges: DataFrame, k: Int, iters: Int = 20): DataFrame = {
    val (result, converged) = kCoreWithStatus(edges, k, iters)
    if (!converged)
      System.err.println(s"[graft] kCore: peel did NOT stabilize within " +
        s"$iters rounds — result is a SUPERSET of the true $k-core and " +
        "degrees are measured in the last surviving-induced subgraph; " +
        "raise iters (or call kCoreWithStatus to branch on convergence)")
    result
  }

  /** [[kCore]] with an explicit convergence verdict: `(core, converged)`.
    * `converged == false` means the iteration ceiling cut the cascade
    * short — `core` is then a superset of the true k-core (its `degree`
    * column measured in the last surviving-induced subgraph, not the
    * final core) and the caller must either raise `iters` or treat the
    * result as an upper bound. Peeling depth is graph-dependent and
    * unknown a priori (a long chain cascades one node per round), so at
    * scales where `iters` is a guess this is the honest entry point. */
  def kCoreWithStatus(edges: DataFrame, k: Int,
      iters: Int = 20): (DataFrame, Boolean) = {
    require(k >= 1, s"need k >= 1, got $k")
    require(iters >= 1 && iters <= 50, s"need 1 <= iters <= 50, got $iters")
    val und = Iterate.checkpoint(edges
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct())
    val nbr = und.select(col("a").as("node"), col("b").as("other"))
      .unionAll(und.select(col("b").as("node"), col("a").as("other")))
    // DELTA peeling (guide §2.4): degrees are computed ONCE over the
    // full graph; each round subtracts the neighbors lost to that
    // round's removals instead of re-joining the whole edge relation
    // against the alive set and re-counting every survivor. Per-round
    // work is wavefront-sized (Σ deg(removed) across all rounds ≤ 2|E|,
    // vs |E| PER ROUND before) and round t's surviving degrees are, by
    // induction, exactly the induced-subgraph degrees the re-count
    // produced — deg_t(v) counts v's neighbors inside the round-(t−1)
    // survivor set, so output (and the non-converged superset case) is
    // bit-identical.
    val deg0 = Iterate.checkpoint(
      nbr.groupBy("node").agg(count(lit(1)).as("degree")))
    // the peel is done once a round removes nothing (stable core) or
    // everything (empty core)
    val removing = count(when(col("degree") < lit(k.toLong), true))
    val settled = removing === 0L || removing === count(lit(1))
    // the first removal round runs on the initial degrees; each
    // fixpoint round peels the previous round's removals, so `iters`
    // removal rounds are iters - 1 peels
    val peeled =
      if (Iterate.holds(deg0, settled)) Iterate.Fixpoint(deg0, converged = true)
      else Iterate.fixpoint(deg0, iters - 1, Some(settled)) { (deg, _) =>
        val removed = deg.filter(col("degree") < lit(k.toLong))
        val drops = nbr
          .join(removed.select(col("node").as("other")), Seq("other"))
          .groupBy("node").agg(count(lit(1)).as("__drop"))
        deg.filter(col("degree") >= lit(k.toLong))
          .join(drops, Seq("node"), "left")
          .select(col("node"),
            (col("degree") - coalesce(col("__drop"), lit(0L))).as("degree"))
      }
    (peeled.frame.filter(col("degree") >= lit(k.toLong)), peeled.converged)
  }

  /** Label-propagation community detection over directed `edges(src,
    * dst)` — the lightweight community pass a curation pipeline runs to
    * group domains/sources before per-community mixing decisions (pass
    * each edge both ways for the undirected semantics). Synchronous LPA:
    * every node starts as its own label; each round a node adopts the
    * label most frequent among its in-neighbors, ties broken to the
    * SMALLEST label (total order ⇒ deterministic, engine-replayable —
    * asynchronous/randomized LPA variants trade that away); isolated
    * nodes keep their label.
    *
    * Shape per round: one src-keyed equi-join of the edge list with the
    * current label vector, one (dst, label) hash count (map-side
    * partial), the per-node max-count + min-label resolution as two
    * keyed aggregations, one keys-sized left join back — all keyed
    * shuffles, nothing driver-side, lineage truncated per round via
    * [[Iterate.checkpoint]] like [[pageRank]] and the
    * connected-components loop. Pure integer/string arithmetic: no
    * floats anywhere, so the oracle replay is exact by construction.
    *
    * `iters` bounded for the same reason as [[pageRank]]: each round is
    * a full edge-relation pass. `tolChanged` is the convergence
    * counterpart of pageRank's `tol`: each round ends in one count of
    * the nodes whose label CHANGED, and the loop stops once that count
    * ≤ tolChanged (0 = run to stability) — output identical to the
    * fixed round count actually executed (GraphSpec). Returns
    * `(node, label)`. */
  def labelPropagation(edges: DataFrame, iters: Int,
      tolChanged: Option[Long] = None): DataFrame = {
    require(iters >= 1 && iters <= 50, s"need 1 <= iters <= 50, got $iters")
    tolChanged.foreach(t => require(t >= 0, s"tolChanged must be >= 0, got $t"))
    val e = Iterate.checkpoint(edges.select(col("src"), col("dst")))
    val nodes = Iterate.checkpoint(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    val settled = tolChanged.map(t => count(when(col("__chg"), true)) <= t)
    Iterate.fixpoint(nodes.withColumn("label", col("node")), iters,
        settled) { (prev, _) =>
      val labels = prev.select(col("node"), col("label"))
      val counts = e.join(labels, col("src") === col("node"))
        .groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("__cnt"))
      // (max count, min label) as ONE min_by over (−count, label):
      // struct ordering is lexicographic, so the minimal struct is the
      // largest count with the smallest label among its ties — the same
      // winner the old max-count join + min-label aggregation picked,
      // in one hash aggregation instead of two plus a join (guide §2.4)
      val winner = counts.groupBy(col("dst"))
        .agg(min_by(col("label"),
          struct((-col("__cnt")).as("nc"), col("label"))).as("__new"))
      labels
        .join(winner, col("node") === col("dst"), "left")
        .select(col("node"),
          coalesce(col("__new"), col("label")).as("label"),
          (col("__new").isNotNull && col("__new") =!= col("label"))
            .as("__chg"))
    }.frame.select(col("node"), col("label"))
  }

  /** Co-occurrence edge construction: items sharing a container become an
    * undirected edge (`src < dst`, distinct) — the "bought together" /
    * "cited together" graph every basket or link analysis starts from.
    *
    * The pair expansion is QUADRATIC PER CONTAINER (a container with n
    * items emits n·(n−1)/2 pairs), which is fine for organic baskets
    * (tens of items) and catastrophic for degenerate ones — one
    * million-item container is 5·10¹¹ pairs on a single join key, a
    * task that never finishes and never errors. So the expansion is
    * GUARDED the [[Resample.fillForward]] way: a containers-sized count
    * relation filters to the over-cap offenders and unions into the
    * output as an empty-unless-violated branch — any container over
    * `maxItemsPerContainer` fails the job loudly WITH THE KEY NAMED
    * (in-plan `raise_error`, so the guard holds on executors at any
    * scale — no driver pass), and when every container is within the
    * cap the branch is zero rows and costs one keyed count, never a
    * join against the pair expansion. Cap it deliberately higher for
    * known-fat containers, or pre-split them upstream; at the default
    * 1000 the worst container costs ≤ ~500k pairs, one task's honest
    * work.
    *
    * Shape: one keyed distinct, one containers-sized count (the guard
    * branch), one keyed self-join — all equi-joins on the container
    * key, nothing driver-side. Returns `(src, dst)`. */
  def coOccurrenceEdges(df: DataFrame, containerCol: String, itemCol: String,
      maxItemsPerContainer: Int = 1000): DataFrame = {
    require(maxItemsPerContainer >= 2,
      s"need maxItemsPerContainer >= 2, got $maxItemsPerContainer")
    val pr = df
      .filter(col(containerCol).isNotNull && col(itemCol).isNotNull)
      .select(col(containerCol).as("__o"), col(itemCol).as("__p"))
      .distinct()
    val itemType = pr.schema("__p").dataType
    // the guard is an EMPTY-unless-violated union branch, not a join on
    // the hot path: the containers-sized count relation filters to the
    // over-cap offenders, and projecting any surviving row raises with
    // the key named — executed on executors at any scale, zero rows and
    // ~zero cost when every container is within the cap (one extra
    // keyed count over pr, no join against the pair expansion)
    // both output columns carry the raise (a literal-null column here
    // would let a pushed-down IsNotNull constant-fold the whole guard
    // branch away without ever evaluating the error)
    val boom = raise_error(concat(
      lit("coOccurrenceEdges: container "), col("__o").cast("string"),
      lit(" holds "), col("__n").cast("string"),
      lit(s" items (cap $maxItemsPerContainer) — its pair expansion " +
        "is quadratic; pre-split the container or raise " +
        "maxItemsPerContainer deliberately"))).cast(itemType)
    val offenders = pr.groupBy(col("__o")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxItemsPerContainer)
      .select(boom.as("src"), boom.as("dst"))
    pr.select(col("__o"), col("__p").as("pa"))
      .join(pr.select(col("__o"), col("__p").as("pb")), Seq("__o"))
      .filter(col("pa") < col("pb"))
      .select(col("pa").as("src"), col("pb").as("dst"))
      .distinct()
      .unionAll(offenders)
  }

  /** Multi-source BFS depth (unit-weight single-source shortest paths
    * generalized to a seed SET) over directed `edges(src, dst)` — the
    * crawl-depth signal a link-corpus curation pass uses: distance from
    * trusted seeds is the classic quality prior (TrustRank's first
    * half), and "reachable within d hops" is the frontier-bounded crawl
    * scope. Returns `(node, dist)` for every node REACHED within
    * `iters` hops, `dist` the minimum hop count from any seed (0 for
    * the seeds themselves); unreached nodes are absent — that is an
    * answer, not an error. Seeds not present in the edge relation still
    * return (they are trivially at distance 0).
    *
    * Relational frontier iteration (level-synchronous BFS): each round
    * joins the CURRENT frontier (nodes first reached last round — not
    * the whole distance relation) with the edge list on `src`, then
    * min-merges the relaxed distances into the accumulated relation —
    * one keyed equi-join + one keyed min-aggregation per round, nothing
    * driver-side but the frontier-size probe, lineage truncated
    * via [[Iterate.checkpoint]]. Under unit weights a node's FIRST
    * reached level is already its minimal distance, so settled nodes
    * never move; an empty frontier is therefore OUTPUT-INVARIANT
    * convergence — running the ceiling `iters` rounds yields
    * bit-identical output, which lets a fixed-round oracle replay the
    * early-exiting engine (the kCore contract). Pure integer
    * arithmetic — exact by construction. Frontier pruning keeps the
    * per-round join frontier-sized: on a 100 TB graph the steady-state
    * rounds touch only the BFS wavefront, not every settled node. */
  def bfsDepth(edges: DataFrame, seeds: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 50, s"need 1 <= iters <= 50, got $iters")
    val e = Iterate.checkpoint(edges
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .select(col("src"), col("dst")).distinct())
    // `__new` marks the frontier: nodes first reached in the round that
    // produced the frame (the seeds in the initial one)
    val dist = Iterate.checkpoint(seeds
      .filter(col("node").isNotNull)
      .select(col("node")).distinct()
      .withColumn("dist", lit(0L)).withColumn("__new", lit(true)))
    require(dist.count() > 0, "bfsDepth: empty seed set")
    // an empty frontier is convergence
    Iterate.fixpoint(dist, iters, Some(Iterate.noRow(col("__new")))) { (dist, _) =>
      val relaxed = e.join(dist.filter(col("__new")), col("src") === col("node"))
        .select(col("dst").as("node"), (col("dist") + lit(1L)).as("dist"),
          lit(true).as("__r"))
      // the new frontier: nodes all of whose merged rows come from this
      // round's relaxation, i.e. first reached now (a settled node brings
      // its own row). Read off the rows, not the round number, so every
      // round runs one plan and reuses its generated code; as a flag on
      // the merged frame it needs no checkpoint of its own (guide §1.2)
      dist.select(col("node"), col("dist"), lit(false).as("__r"))
        .unionAll(relaxed)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"),
          bool_and(col("__r")).as("__new"))
    }.frame.select(col("node"), col("dist"))
  }

  /** Weighted multi-source shortest paths over directed `edges(src,
    * dst, w)` with NON-NEGATIVE integer weights — [[bfsDepth]]'s
    * frontier iteration generalized to costs (Bellman-Ford with DELTA
    * relaxation): each round relaxes only the edges leaving nodes whose
    * distance changed last round, then min-merges into the settled
    * relation. Delta relaxation is round-for-round IDENTICAL to full
    * relaxation (a node unchanged since round j already contributed
    * dist_j(u)+w then, and min is idempotent), so a fixed-round oracle
    * unrolling the FULL relaxation replays this engine bit-for-bit —
    * while the engine's per-round join stays changed-set-sized, the
    * 100 TB shape (steady-state rounds touch the moving wavefront, not
    * every settled node). A no-change round is output-invariant
    * convergence, same contract as [[bfsDepth]]/[[kCore]].
    *
    * Pure integer arithmetic (weights REQUIRED non-negative — one
    * driver scalar checks the minimum; Bellman-Ford's negative-cycle
    * regime has no fixed point to replay). Returns `(node, dist)` for
    * nodes reached within `iters` relaxation rounds; unreached nodes
    * are absent. */
  def shortestPaths(edges: DataFrame, seeds: DataFrame,
      iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 50, s"need 1 <= iters <= 50, got $iters")
    val e = Iterate.checkpoint(edges
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("w").isNotNull)
      .select(col("src"), col("dst"), col("w").cast("long")))
    val minW = e.agg(coalesce(min(col("w")), lit(0L))).first().getLong(0)
    require(minW >= 0,
      s"shortestPaths: negative edge weight $minW — non-negative " +
        "weights only (no replayable fixed point under negative cycles)")
    // `__pd` is the distance before the round that produced the frame
    // (null for a node that round first reached — every seed initially)
    val dist = Iterate.checkpoint(seeds
      .filter(col("node").isNotNull)
      .select(col("node")).distinct()
      .withColumn("dist", lit(0L)).withColumn("__pd", lit(null).cast("long")))
    require(dist.count() > 0, "shortestPaths: empty seed set")
    val changed = col("__pd").isNull || col("dist") < col("__pd")
    // a no-change round is convergence
    Iterate.fixpoint(dist, iters, Some(Iterate.noRow(changed))) { (dist, _) =>
      val relaxed = e.join(dist.filter(changed), col("src") === col("node"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"),
          lit(null).cast("long").as("__pd"))
      // the previous distance rides the settled rows INTO the min-merge
      // (each node has at most one settled row, so min(__pd) recovers
      // it; relaxed rows contribute null, which min ignores) — the
      // changed set is then a filter over the just-checkpointed merge
      // instead of a second nodes × nodes join + checkpoint per round
      // (guide §2.4)
      dist.select(col("node"), col("dist"), col("dist").as("__pd"))
        .unionAll(relaxed)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"),
          min(col("__pd")).as("__pd"))
    }.frame.select(col("node"), col("dist"))
  }

  /** Adamic-Adar link prediction over undirected `edges(src, dst)` —
    * the common-neighbor completion signal (Adamic & Adar 2003): a
    * candidate pair scores Σ 1/ln(deg z) over its common neighbors z,
    * so RARE shared neighbors weigh most. The curation use is
    * co-occurrence completion: "parts/domains that SHOULD be linked" —
    * candidate related-item pairs mined from the basket graph without a
    * trained model. Returns the k best PREDICTED (absent) links per
    * node: `(node, candidate, aa_score, rnk)` — existing edges are
    * excluded (prediction, not recall), both endpoints see the pair.
    *
    * Scale contract: exact common-neighbor enumeration is inherently
    * Σ C(deg(z), 2) wedge work — no orientation trick applies because
    * EVERY common neighbor contributes to the score (unlike triangle
    * counting's found-once freedom). The published practical fix is a
    * DEGREE CAP, and it is principled here, not just cheap: a center of
    * degree d contributes 1/ln(d) → 0 to every one of its ~d²/2 pairs,
    * so the hubs that dominate the quadratic cost are precisely the
    * neighbors that carry no signal ("everyone bought tape" predicts
    * nothing). Centers above `maxDegree` are dropped, bounding the
    * wedge relation by Σ C(min(deg, cap), 2); the bounded
    * [[graft.functions.TopKAggregator]] ranking ships ≤ k pairs per
    * node per map task, never a per-node sort. The pair aggregation's
    * shuffle is SIZED from that same closed-form wedge count (~2M rows
    * per reduce task, capped at 4096 partitions), so the agg state fits
    * in memory at any graph size instead of spilling once the session
    * default partitioning saturates. That sizing probe is ONE eager
    * nodes-sized scalar at plan-construction time (it runs a Spark job
    * the moment this is called — the operator is batch-only by design);
    * pass `sizeShuffle = false` to skip it and stay side-effect-free
    * on the session default partitioning (lazily composable, at the
    * cost of the spill protection — dev loops and small graphs).
    *
    * Determinism: per-center weight = round(1/ln(deg), 6) carried as
    * exact integer MICROS (the DECIMAL(18,6) value times 10⁶ — a long),
    * summed exactly (order-independent) and divided back by 10⁶ only at
    * output; final ranking ties on the rounded score break by candidate
    * id. The long carrier matters at scale: a DECIMAL(18,6) sum's
    * buffer is DECIMAL(28,6) — past the compact-long precision — so
    * every wedge row's aggregation update allocates BigDecimals, and at
    * 32 concurrent tasks on a long-lived heap that allocation storm is
    * GC-bound (guide §5); the long sum is allocation-free codegen. The
    * micros → double conversion is bit-identical to the decimal path:
    * both are the correctly-rounded double of the exact rational
    * Σmicros/10⁶ (IEEE division of two exactly-represented operands vs
    * BigDecimal.doubleValue) while Σmicros < 2⁵³ — and 2⁵³ micros would
    * need ~9·10⁹ weighted wedges on ONE candidate pair. Node ids must
    * be integral (they ride the bounded ranking buffer as longs — the
    * [[Similarity.perQueryTopK]] contract); re-key string-keyed graphs
    * first. */
  def adamicAdar(edges: DataFrame, k: Int, maxDegree: Int = 10000,
      sizeShuffle: Boolean = true): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    require(maxDegree >= 2, s"need maxDegree >= 2, got $maxDegree")
    val und = Iterate.checkpoint(edges
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct())
    val nbrs = und.select(col("a").as("z"), col("b").as("x"))
      .unionAll(und.select(col("b").as("z"), col("a").as("x")))
    // deg >= 2: a one-neighbor center closes no wedge (and ln(1) = 0);
    // deg <= maxDegree: the signal-free hub cut that bounds the wedges
    val cdeg = Iterate.checkpoint(nbrs.groupBy(col("z"))
      .agg(count(lit(1)).as("__d"))
      .filter(col("__d") >= 2 && col("__d") <= maxDegree))
    // size the pair aggregation from the EXACT wedge count Σ C(d, 2)
    // (one nodes-sized scalar over the checkpointed degree relation —
    // tiny next to the wedge join it sizes): the (x, y) key space is
    // wedge-bounded, and letting the session shuffle default decide it
    // is what spilled above ~300M pair rows. ~2M rows per reduce task
    // keeps the per-task agg state comfortably in memory; small graphs
    // stay on the session default (no extra exchange, no bench tax).
    val defaultParts = edges.sparkSession.sessionState.conf.numShufflePartitions
    val pairParts = if (!sizeShuffle) defaultParts else {
      val wedgeRows = cdeg.agg(coalesce(
        sum(col("__d") * (col("__d") - lit(1L))), lit(0L)))
        .first().getLong(0) / 2
      // rows-per-task budget is CONCURRENCY-aware (guide §5): the
      // per-task agg state shares one executor heap with every
      // concurrently running task, so the budget shrinks as core count
      // grows (16M rows split across the active cores, floored at 500k)
      // instead of a flat 2M that let 32 simultaneous tasks hold 32
      // full-sized hash maps on the same heap
      val cores = math.max(1, edges.sparkSession.sparkContext.defaultParallelism)
      val rowsPerTask = math.max(500000L, 16000000L / cores)
      math.min(4096L,
        math.max(defaultParts.toLong, wedgeRows / rowsPerTask + 1)).toInt
    }
    // per-center weight as exact integer micros: the decimal(18,6)
    // value is micros-exact, so decimal × 10⁶ → long is lossless and
    // the wedge aggregation below becomes an allocation-free long sum
    val centers = cdeg.select(col("z"),
      (round(lit(1.0) / log(col("__d")), 6).cast("decimal(18,6)") *
        lit(1000000L)).cast("long").as("w"))
    val wn = nbrs.join(centers, Seq("z"))
    val wedges = wn.select(col("z"), col("x"), col("w"))
      .join(wn.select(col("z"), col("x").as("y")), Seq("z"))
      .filter(col("x") < col("y"))
    val spreadWedges = if (pairParts > defaultParts)
      wedges.repartition(pairParts, col("x"), col("y")) else wedges
    val pairs = spreadWedges
      .groupBy(col("x"), col("y"))
      .agg(sum(col("w")).as("__s"))
      // prediction, not recall: drop pairs that are already edges
      .join(und, col("x") === col("a") && col("y") === col("b"),
        "left_anti")
      // micros → score: exact operands, correctly-rounded IEEE division
      // — bit-identical to the former sum(decimal(18,6)).cast(double)
      // (see the scaladoc's 2⁵³ argument)
      .select(col("x"), col("y"),
        (col("__s").cast("double") / lit(1e6)).as("score"))
    val scored = pairs
      .select(col("x").as("query_id"), col("y").as("neighbor_id"),
        col("score"))
      .unionAll(pairs.select(col("y").as("query_id"),
        col("x").as("neighbor_id"), col("score")))
    Similarity.perQueryTopK(scored, k)
      .select(col("query_id").as("node"),
        col("neighbor_id").as("candidate"),
        col("score").as("aa_score"), col("rnk"))
  }

  /** Degree histogram of the undirected simple graph: `(degree,
    * n_nodes)` — the first profiling question asked of any graph corpus
    * (power-law tail? median degree? isolated hubs?), and the input to
    * every sampling/cap decision the other operators take
    * ([[adamicAdar]]'s maxDegree, [[coOccurrenceEdges]]' container
    * cap). Two hash aggregations over the canonicalized edge relation —
    * exact integers end to end. */
  def degreeHistogram(edges: DataFrame): DataFrame = {
    // NOT checkpointed: both union branches scan the same exchange
    // subtree and Spark's exchange reuse already dedupes it — a
    // measured checkpoint A/B read 1.73 → 2.02 s (the materialization
    // job costs more than the re-scan it saves)
    val und = undirected(edges)
    und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over every edge (both directions — the standard
    * symmetric treatment). Positive = hubs link to hubs (social
    * graphs), negative = hubs link to leaves (the web, co-occurrence
    * stars). All five moments accumulate as EXACT integer sums
    * (degrees are integers; m is edge-direction count), so the only
    * floating arithmetic is the final one-row formula, rounded to
    * 6 dp — a relational oracle replays it bit-for-bit. Returns one row
    * `(m_directed, assortativity)`; a graph whose degree variance is 0
    * (every node the same degree) has no defined correlation and
    * returns null. */
  def assortativity(edges: DataFrame): DataFrame = {
    // the canonical edge relation feeds the degree aggregation AND the
    // degree-annotation joins — checkpoint it so the upstream edge
    // construction (often a quadratic co-occurrence expansion) runs
    // once, not once per consumer (guide §1.2)
    val und = Iterate.checkpoint(undirected(edges))
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    val dd = und
      .join(deg.select(col("node").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("d").as("db")), Seq("b"))
    // the both-directions union folded into ONE pass over dd via the
    // symmetric identities (exact integer sums ⇒ bit-identical to
    // aggregating the mirrored union): m = 2·|und|, sx = sy = Σ(da+db),
    // sxy = 2·Σ da·db, sxx = syy = Σ(da² + db²)
    val sums = dd.select(col("da"), col("db"))
      .agg((count(lit(1)) * lit(2L)).as("m"),
        sum(col("da") + col("db")).as("sx"),
        (sum(col("da") * col("db")) * lit(2L)).as("sxy"),
        sum(col("da") * col("da") + col("db") * col("db")).as("sxx"))
      .select(col("m"), col("sx"), col("sx").as("sy"), col("sxy"),
        col("sxx"), col("sxx").as("syy"))
    // the cross-moment products overflow int64 on big graphs (m·sxy is
    // edge-count × Σ da·db) — they multiply as DECIMAL(38,0), exactly
    // the HUGEINT arithmetic the oracle runs (the kpp parity pattern)
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    def d38(c: Column) = c.cast(dec)
    // try_divide: a zero-variance (regular) graph divides by sqrt(0) —
    // the documented null, not an ANSI arithmetic error
    sums.select(col("m").as("m_directed"),
      round(try_divide((d38(col("m")) * d38(col("sxy")) -
          d38(col("sx")) * d38(col("sy"))).cast("double"),
        sqrt((d38(col("m")) * d38(col("sxx")) -
            d38(col("sx")) * d38(col("sx"))).cast("double") *
          (d38(col("m")) * d38(col("syy")) -
            d38(col("sy")) * d38(col("sy"))).cast("double"))),
        6).as("assortativity"))
  }

  /** Canonical undirected simple-graph edge relation shared by the
    * profiling operators: null endpoints and self-loops dropped,
    * (min, max) orientation, exact duplicates collapsed. */
  private def undirected(edges: DataFrame): DataFrame = edges
    .filter(col("src").isNotNull && col("dst").isNotNull)
    .select(least(col("src"), col("dst")).as("a"),
      greatest(col("src"), col("dst")).as("b"))
    .filter(col("a") =!= col("b")).distinct()
}
