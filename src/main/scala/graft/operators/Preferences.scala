package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftSqlBridge.{column, expression}

import graft.functions.GaeFold

/** Pairwise-preference aggregation — the RLHF-data side of the engine:
  * a preference corpus is billions of `(winner, loser)` judgments over a
  * SMALL candidate set (models, policies, prompt variants), and the
  * questions a training pipeline asks are "what is the aggregate
  * ranking?" and "is the data even consistent enough to rank?".
  *
  * Everything here reduces the corpus to the candidates² pairwise-count
  * relation in ONE hash aggregation and stays exact-integer from there —
  * the corpus is never joined row-to-row, and every number replays in a
  * relational oracle (no Elo sequential state, no Bradley-Terry floats;
  * Copeland is the deterministic tournament rule, and the literature's
  * standard first-cut aggregate).
  */
object Preferences {

  /** The majority tournament relation underlying both operators: per
    * ordered candidate pair `(a, b)` with at least one judgment in
    * either direction, the win counts both ways. One corpus-sized hash
    * aggregation to the pairs relation; everything downstream is
    * candidates²-sized. Self-preferences (winner = loser) and null
    * candidates are judgment errors — excluded, count them upstream. */
  private[graft] def pairCounts(prefs: DataFrame, winnerCol: String,
      loserCol: String): DataFrame = {
    val p = prefs
      .filter(col(winnerCol).isNotNull && col(loserCol).isNotNull &&
        col(winnerCol) =!= col(loserCol))
      .select(least(col(winnerCol), col(loserCol)).as("a"),
        greatest(col(winnerCol), col(loserCol)).as("b"),
        when(col(winnerCol) <= col(loserCol), 1L).otherwise(0L).as("__aw"))
    p.groupBy(col("a"), col("b"))
      .agg(sum(col("__aw")).as("wins_ab"),
        (count(lit(1)) - sum(col("__aw"))).as("wins_ba"))
  }

  /** Copeland aggregation of pairwise preferences: each candidate scores
    * 1 per opponent it MAJORITY-beats, ½ per exact tie, 0 per loss —
    * the deterministic, oracle-replayable tournament ranking (Elo
    * depends on judgment order; Bradley-Terry needs float iterations).
    * Scores are emitted in HALVES (`copeland_x2`) so ties stay exact
    * integers. Only pairs with at least one judgment count — a sparse
    * tournament ranks on the evidence it has; `n_opponents` says how
    * much evidence each candidate got (observability over a silently
    * dense-looking score). Returns
    * `(candidate, n_wins, n_ties, n_losses, n_opponents, copeland_x2)`. */
  def copelandScores(prefs: DataFrame, winnerCol: String,
      loserCol: String): DataFrame = {
    val pc = pairCounts(prefs, winnerCol, loserCol)
    val perSide = pc.select(col("a").as("candidate"),
        when(col("wins_ab") > col("wins_ba"), 1L).otherwise(0L).as("w"),
        when(col("wins_ab") === col("wins_ba"), 1L).otherwise(0L).as("t"))
      .unionAll(pc.select(col("b").as("candidate"),
        when(col("wins_ba") > col("wins_ab"), 1L).otherwise(0L).as("w"),
        when(col("wins_ab") === col("wins_ba"), 1L).otherwise(0L).as("t")))
    perSide.groupBy(col("candidate"))
      .agg(sum(col("w")).as("n_wins"), sum(col("t")).as("n_ties"),
        (count(lit(1)) - sum(col("w")) - sum(col("t"))).as("n_losses"),
        count(lit(1)).as("n_opponents"))
      .withColumn("copeland_x2", col("n_wins") * 2 + col("n_ties"))
  }

  /** Intransitivity audit — "can this preference data support a ranking
    * at all?": count the directed 3-cycles (a majority-beats b, b
    * majority-beats c, c majority-beats a) in the majority tournament.
    * A transitive tournament has zero; every cycle is a triple no
    * ranking can order, and a rising cycle share is the canonical
    * noisy-rater / prompt-dependent-preference signal. Ties contribute
    * no edge (they assert no direction). Cost: the corpus reduces to
    * the candidates²-bounded edge relation first, so the triple join is
    * candidates-cubed at WORST — candidate sets are models/variants
    * (tens), not corpus rows, and the audit refuses more than
    * `maxCandidates` of them rather than quietly running a big cube.
    * Returns one row `(n_candidates, n_edges, n_cycles)`. */
  def cycleAudit(prefs: DataFrame, winnerCol: String, loserCol: String,
      maxCandidates: Int = 1000): DataFrame = {
    val pc = Iterate.checkpoint(pairCounts(prefs, winnerCol, loserCol))
    val nCand = pc.select(col("a").as("c"))
      .unionAll(pc.select(col("b").as("c"))).distinct().count()
    require(nCand <= maxCandidates,
      s"cycleAudit: $nCand candidates exceeds maxCandidates=" +
        s"$maxCandidates — the triple join is candidates-cubed; raise " +
        "the cap deliberately if the candidate set is really this big")
    val edges = pc
      .filter(col("wins_ab") =!= col("wins_ba"))
      .select(when(col("wins_ab") > col("wins_ba"), col("a"))
          .otherwise(col("b")).as("src"),
        when(col("wins_ab") > col("wins_ba"), col("b"))
          .otherwise(col("a")).as("dst"))
    val cycles = edges.as("e1")
      .join(edges.as("e2"), col("e1.dst") === col("e2.src"))
      .join(edges.as("e3"), col("e2.dst") === col("e3.src") &&
        col("e3.dst") === col("e1.src"))
      .count() / 3
    val sp = prefs.sparkSession
    import sp.implicits._
    Seq((nCand, edges.count(), cycles))
      .toDF("n_candidates", "n_edges", "n_cycles")
  }

  /** DPO/RLHF preference-PAIR dataset construction — the last mile from
    * raw judgments to the `(prompt, chosen, rejected)` relation a
    * DPO/RLHF trainer actually consumes. Judgments arrive as
    * `(prompt, winner, loser)` rows (many raters per pair); per prompt
    * and UNORDERED response pair the majority direction decides chosen
    * vs rejected:
    *
    *   - exact ties are EXCLUDED — a tied pair asserts no preference
    *     and training on an arbitrary direction injects noise;
    *   - `margin = n_for − n_against` (wins in the majority direction
    *     minus wins against it, ≥ 1 by construction) with an optional
    *     `minMargin` gate — low-margin pairs are the noisiest slice of
    *     any preference corpus;
    *   - pairs lying on an intransitivity 3-cycle of the prompt's
    *     majority tournament ([[cycleAudit]]'s triangles, here keyed
    *     per prompt) carry `in_cycle = true` and are dropped when
    *     `excludeCycles` — a cycle is a triple no reward model can fit,
    *     and DPO literature excludes or down-weights them.
    *
    * Scale shape: ONE corpus-sized hash aggregation reduces the
    * judgments to the per-prompt pair-count relation (checkpointed —
    * it is reused by the majority rows, the triangle join, and the
    * in-plan cap guard); everything downstream is |prompts| ×
    * candidates²-sized. The triangle join is keyed by prompt, so its
    * cost is candidates-cubed PER PROMPT — responses-per-prompt is
    * single-digits in real preference data, and an empty-unless-
    * violated raise_error union branch (the matchByHash band-cap
    * discipline) refuses a prompt with more than
    * `maxCandidatesPerPrompt` distinct responses rather than quietly
    * running a big cube. Returns `(<promptCol>, chosen_id, rejected_id,
    * n_for, n_against, margin, in_cycle)`. */
  def dpoPairs(prefs: DataFrame, promptCol: String, winnerCol: String,
      loserCol: String, minMargin: Long = 1L,
      excludeCycles: Boolean = true,
      maxCandidatesPerPrompt: Int = 64): DataFrame = {
    require(minMargin >= 1L, s"minMargin must be >= 1, got $minMargin")
    require(maxCandidatesPerPrompt >= 2,
      s"need maxCandidatesPerPrompt >= 2, got $maxCandidatesPerPrompt")
    val p = prefs
      .filter(col(promptCol).isNotNull &&
        col(winnerCol).isNotNull && col(loserCol).isNotNull &&
        col(winnerCol) =!= col(loserCol))
      .select(col(promptCol).as("__p"),
        least(col(winnerCol), col(loserCol)).as("a"),
        greatest(col(winnerCol), col(loserCol)).as("b"),
        when(col(winnerCol) <= col(loserCol), 1L).otherwise(0L).as("__aw"))
    val pc = Iterate.checkpoint(p.groupBy(col("__p"), col("a"), col("b"))
      .agg(sum(col("__aw")).as("wins_ab"),
        (count(lit(1)) - sum(col("__aw"))).as("wins_ba")))
    // majority rows: ties (wins_ab = wins_ba) assert no direction
    val majority = pc.filter(col("wins_ab") =!= col("wins_ba"))
      .select(col("__p"),
        when(col("wins_ab") > col("wins_ba"), col("a")).otherwise(col("b"))
          .as("chosen_id"),
        when(col("wins_ab") > col("wins_ba"), col("b")).otherwise(col("a"))
          .as("rejected_id"),
        greatest(col("wins_ab"), col("wins_ba")).as("n_for"),
        least(col("wins_ab"), col("wins_ba")).as("n_against"))
      .withColumn("margin", col("n_for") - col("n_against"))
    // per-prompt majority-tournament triangles: a directed edge on any
    // 3-cycle marks its pair intransitive (the cycleAudit triple join,
    // keyed by prompt so it never leaves the prompt's candidate set)
    val edges = majority.select(col("__p"), col("chosen_id").as("src"),
      col("rejected_id").as("dst"))
    val onCycle = edges.as("e1")
      .join(edges.as("e2"), col("e1.__p") === col("e2.__p") &&
        col("e1.dst") === col("e2.src"))
      .join(edges.as("e3"), col("e2.__p") === col("e3.__p") &&
        col("e2.dst") === col("e3.src") && col("e3.dst") === col("e1.src"))
      .select(col("e1.__p").as("__p"), col("e1.src").as("chosen_id"),
        col("e1.dst").as("rejected_id"))
      .distinct()
    val flagged = majority
      .join(onCycle.withColumn("__cyc", lit(true)),
        Seq("__p", "chosen_id", "rejected_id"), "left")
      .withColumn("in_cycle", coalesce(col("__cyc"), lit(false)))
      .filter(col("margin") >= minMargin)
      .filter(if (excludeCycles) !col("in_cycle") else lit(true))
      .select(col("__p").as(promptCol), col("chosen_id"),
        col("rejected_id"), col("n_for"), col("n_against"),
        col("margin"), col("in_cycle"))
    // cap guard: every output column carries the raise — a literal-null
    // column would let a pushed-down IsNotNull constant-fold it away
    val st = flagged.schema
    val boom = raise_error(concat(
      lit("dpoPairs: prompt "), col("__p").cast("string"), lit(" has "),
      col("__nc").cast("string"),
      lit(s" distinct responses (cap $maxCandidatesPerPrompt) — the " +
        "per-prompt triangle join is candidates-cubed; raise " +
        "maxCandidatesPerPrompt deliberately if the fan-out is real")))
    val offenders = pc.select(col("__p"), col("a").as("c"))
      .unionAll(pc.select(col("__p"), col("b").as("c")))
      .groupBy(col("__p"))
      .agg(countDistinct(col("c")).as("__nc"))
      .filter(col("__nc") > maxCandidatesPerPrompt)
      .select(st.map(f => boom.cast(f.dataType).as(f.name)): _*)
    flagged.unionAll(offenders)
  }

  /** Best-of-n / rejection-sampling dataset construction (the Llama-2
    * RLHF recipe's SFT stage; RFT): per prompt keep the top-`k`
    * samples by reward-model score — the last mile from scored
    * generations to the fine-tuning set, as [[dpoPairs]] is for
    * pairwise judgments. Rewards ride the INTEGER-MICROS contract
    * (the engine's score convention — a float reward column should be
    * quantized upstream, the [[graft.operators.Profile.calibrationBins]]
    * stance); ties break to the LOWER response id (the
    * [[graft.operators.Similarity]] top-k buffer contract), and rows
    * with a null prompt/response/reward are unjudged — excluded.
    * `n_samples` carries the prompt's candidate count so a consumer
    * can spot prompts where best-of-n selected from too few samples.
    * The shared buffer carries scores as doubles, so the reward
    * magnitude is guarded in-plan at 2^53 micros (the largest integer
    * a double holds exactly) — beyond that the long→double cast would
    * silently break exact ordering and the lower-id tie contract.
    *
    * Scale shape: ONE bounded top-k hash aggregation (the shared
    * TopKAggregator buffer — ≤ k (score, id) pairs per prompt per map
    * task, no window, no per-prompt sort) plus one prompt-keyed count.
    * Response ids must be integral (they ride the buffer as longs).
    * Returns `(<promptCol>, rank, <respIdCol>, reward_micros,
    * n_samples)`. */
  def bestOfN(samples: DataFrame, promptCol: String, respIdCol: String,
      rewardMicrosCol: String, k: Int = 1): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val base = samples.filter(col(promptCol).isNotNull &&
      col(respIdCol).isNotNull && col(rewardMicrosCol).isNotNull)
    val nS = base.groupBy(col(promptCol))
      .agg(count(lit(1)).as("n_samples"))
    // 2^53 = the double-exact integer bound; the guard rides the value
    // path so pushdown can't fold it away
    val doubleExact = 9007199254740992L
    val guardedReward = when(
      abs(col(rewardMicrosCol).cast("long")) > lit(doubleExact),
      raise_error(concat(
        lit("bestOfN: |reward_micros| exceeds 2^53 ("),
        col(rewardMicrosCol).cast("string"),
        lit(") — the top-k buffer carries scores as doubles; rescale " +
          "the reward upstream"))).cast("long")
    ).otherwise(col(rewardMicrosCol).cast("long"))
    Similarity.perQueryTopK(
        base.select(col(promptCol).as("query_id"),
          col(respIdCol).as("neighbor_id"),
          guardedReward.cast("double").as("score")), k,
        idName = "neighbor_id", scoreName = "score")
      .select(col("query_id").as(promptCol),
        col("rnk").cast("long").as("rank"),
        col("neighbor_id").as(respIdCol),
        col("score").cast("long").as("reward_micros"))
      .join(nS, Seq(promptCol))
  }

  /** Bradley-Terry strength fitting (Zermelo 1929; Hunter 2004's MM
    * algorithm) — the MLE rung of the preference family above
    * [[copelandScores]]' tournament rule: strengths `s_i` such that
    * P(i beats j) = s_i/(s_i+s_j), fitted by the minorize-maximize
    * update `s_i ← W_i / Σ_j n_ij/(s_i+s_j)` for a FIXED `iterations`
    * count. The header's "no Bradley-Terry floats" stance is obsolete
    * since the 6-dp/half-up-micro discipline landed (q_x27/q_x81):
    * here NO float enters at all — strengths are integer MICROS
    * (start 1e6 each), each division is the half-up `(2a+b) div (2b)`
    * idiom at `Scale` = 1e9 resolution, and each iteration renormalizes
    * to Σ s = candidates × 1e6 with a 1-micro floor (keeps every pair
    * sum positive under extreme skew), so the whole recursion replays
    * bit-for-bit in a relational oracle as unrolled CTEs. `iterations`
    * is part of the result contract (MM converges linearly; 5 rounds
    * separate strengths decisively on realistic corpora — this is a
    * ranking statistic, not a physics constant).
    *
    * Guard (Ford 1957's existence condition, its cheap necessary
    * part): a candidate with ZERO wins has MLE strength 0 — the update
    * collapses in one step and a later all-zero pair sum would divide
    * by zero — so such a candidate trips an in-plan raise_error rather
    * than quietly emitting a degenerate fit; judge it out upstream or
    * accept Copeland for that corpus. Zero-LOSS candidates are finite
    * under fixed iterations and pass through.
    *
    * Scale shape: ONE corpus-sized hash aggregation ([[pairCounts]])
    * reduces the judgments to the candidates²-bounded relation; each
    * iteration is two keyed joins + one hash aggregation over frames
    * bounded by candidates² (models/variants — tens), checkpointed
    * per round ([[Iterate.fixpoint]]). Arithmetic headroom: BIGINT
    * holds W_i × 1e9, so ~9e9 judgments per candidate before the ANSI
    * overflow raise — shard by time window beyond that. Returns
    * `(candidate, n_wins, n_games, strength_micro)`. */
  def bradleyTerry(prefs: DataFrame, winnerCol: String, loserCol: String,
      iterations: Int = 5): DataFrame = {
    require(iterations >= 1 && iterations <= 50,
      s"iterations must be in [1, 50], got $iterations")
    val pc = Iterate.checkpoint(pairCounts(prefs, winnerCol, loserCol))
    val games = pc.select(col("a"), col("b"),
      (col("wins_ab") + col("wins_ba")).as("n"))
    val w = Iterate.checkpoint(pc
      .select(col("a").as("candidate"), col("wins_ab").as("__w"),
        (col("wins_ab") + col("wins_ba")).as("__g"))
      .unionAll(pc.select(col("b").as("candidate"), col("wins_ba").as("__w"),
        (col("wins_ab") + col("wins_ba")).as("__g")))
      .groupBy(col("candidate"))
      .agg(sum(col("__w")).as("n_wins"), sum(col("__g")).as("n_games")))
    val nc = w.agg(count(lit(1)).as("__nc"))
    val s = Iterate.fixpoint(w.select(col("candidate"), lit(1000000L).as("__s")),
        iterations) { (s, _) =>
      val terms = games
        .join(s.select(col("candidate").as("a"), col("__s").as("__sa")),
          Seq("a"))
        .join(s.select(col("candidate").as("b"), col("__s").as("__sb")),
          Seq("b"))
        .select(col("a"), col("b"), expr(
          "(2 * n * 1000000000L + (__sa + __sb)) div (2 * (__sa + __sb))")
          .as("__t"))
      val denom = terms.select(col("a").as("candidate"), col("__t"))
        .unionAll(terms.select(col("b").as("candidate"), col("__t")))
        .groupBy(col("candidate")).agg(sum(col("__t")).as("__d"))
      val unnorm = w.join(denom, Seq("candidate"))
        .select(col("candidate"),
          expr("(2 * n_wins * 1000000000L + __d) div (2 * __d)").as("__sn"))
      val total = unnorm.agg(sum(col("__sn")).as("__tot"))
      unnorm.crossJoin(broadcast(total)).crossJoin(broadcast(nc))
        .select(col("candidate"), greatest(lit(1L), expr(
          "(2 * __sn * __nc * 1000000L + __tot) div (2 * __tot)"))
          .as("__s"))
    }.frame
    val fitted = w.join(s, Seq("candidate"))
      .select(col("candidate"), col("n_wins"), col("n_games"),
        col("__s").as("strength_micro"))
    // Ford guard: every output column carries the raise (the dpoPairs
    // stance — a literal-null column would constant-fold away)
    val st = fitted.schema
    val boom = raise_error(concat(
      lit("bradleyTerry: candidate "), col("candidate").cast("string"),
      lit(" has zero wins — its MLE strength is 0 and the MM update " +
        "degenerates (Ford's condition); exclude it upstream or use " +
        "copelandScores for this corpus")))
    val offenders = w.filter(col("n_wins") === 0L)
      .select(st.map(f => boom.cast(f.dataType).as(f.name)): _*)
    fitted.unionAll(offenders)
  }

  /** Plackett-Luce listwise preference fitting (Plackett 1975; Hunter
    * 2004's MM algorithm §5) — the LISTWISE rung above [[bradleyTerry]]:
    * RLHF rating UIs emit k-way rankings, and PL models a ranking as
    * successive choices (the j-th place wins a contest against
    * everything ranked below it), so strengths `s_i` maximize
    * Π_stages s_winner / Σ_remaining s. The MM update is
    *
    *   s_i ← W_i / Σ_{stages j where i is still in the pool} 1 / D_j
    *
    * with W_i = the number of stages i wins (= lists where i is not
    * last) and D_j the pool's strength sum — on 2-item lists this IS
    * the Bradley-Terry update. Same exact-arithmetic discipline as
    * [[bradleyTerry]]: integer MICROS strengths (start 1e6), every
    * division the half-up `(2a+b) div (2b)` idiom at 1e9 resolution,
    * each round renormalized to Σ s = candidates × 1e6 with a 1-micro
    * floor, fixed `iterations` — the whole recursion replays as
    * unrolled CTEs in a relational oracle.
    *
    * Contract: `rankCol` must be DENSE 1..m per list (a tie has no PL
    * reading — break ties upstream or feed [[bradleyTerry]] the pair
    * projection), candidates must be DISTINCT within a list (a repeat
    * would double-count its strength in every suffix pool), and
    * candidate strings must not contain U+001F (the pattern-key
    * separator); violations and lists past `maxListLen` trip in-plan
    * raises. A candidate with ZERO stage wins (only ever last, or only
    * in singleton lists) degenerates exactly as in BT — Ford-style
    * in-plan raise. Null list/candidate/rank rows are unjudged —
    * excluded.
    *
    * Scale shape: the corpus reduces in ONE aggregation to the
    * DISTINCT-ORDERING grain (pattern, multiplicity) — the listwise
    * analog of [[pairCounts]] — so each MM round runs over distinct
    * orderings only, never the raw judgment stream: per round one
    * pattern-partitioned window pass (suffix strength sums + prefix
    * stage terms, partitions ≤ maxListLen rows by construction) + one
    * hash aggregation, checkpointed per round ([[Iterate.fixpoint]]).
    * Headroom: BIGINT holds stage terms × total multiplicity to ~9e9
    * stages — shard by time window beyond that. Returns `(candidate,
    * n_wins, n_lists, strength_micro)` (candidate as string — the
    * pattern key is a joined string). */
  def plackettLuce(rankings: DataFrame, listCol: String, candCol: String,
      rankCol: String, iterations: Int = 5,
      maxListLen: Int = 1024): DataFrame = {
    require(iterations >= 1 && iterations <= 50,
      s"iterations must be in [1, 50], got $iterations")
    require(maxListLen >= 2, s"maxListLen must be >= 2, got $maxListLen")
    val us = "\u001f" // pattern-key separator (the dpoTrainingStrings convention)
    val base = rankings.filter(col(listCol).isNotNull &&
        col(candCol).isNotNull && col(rankCol).isNotNull)
      .select(col(listCol).as("__r"), col(candCol).cast("string").as("__c"),
        col(rankCol).cast("long").as("__k"))
    val listStats = base.groupBy(col("__r"))
      .agg(count(lit(1)).as("__n"), countDistinct(col("__k")).as("__dk"),
        countDistinct(col("__c")).as("__dc"),
        min(col("__k")).as("__lo"), max(col("__k")).as("__hi"),
        // a candidate string carrying the pattern separator would
        // corrupt the distinct-ordering grain undetected
        max(when(col("__c").contains(us), 1L).otherwise(0L)).as("__sep"))
    // ONE corpus-sized aggregation to (pattern, length, multiplicity)
    val pat = Iterate.checkpoint(base.groupBy(col("__r"))
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("__k"), col("__c")))),
          x => x.getField("__c")), us).as("__p"),
        count(lit(1)).as("__m"))
      .groupBy(col("__p"))
      .agg(max(col("__m")).as("__m"), count(lit(1)).as("__cnt")))
    val pe = Iterate.checkpoint(pat.select(col("__p"), col("__m"), col("__cnt"),
        posexplode(split(col("__p"), us)).as(Seq("__j0", "__c")))
      .withColumn("__k", col("__j0") + 1)
      .drop("__j0"))
    val w = Iterate.checkpoint(pe.groupBy(col("__c"))
      .agg(sum(when(col("__k") < col("__m"), col("__cnt"))
          .otherwise(0L)).as("n_wins"),
        sum(col("__cnt")).as("n_lists")))
    val nc = w.agg(count(lit(1)).as("__nc"))
    val wSfx = Window.partitionBy(col("__p")).orderBy(col("__k").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPre = Window.partitionBy(col("__p")).orderBy(col("__k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val s = Iterate.fixpoint(w.select(col("__c"), lit(1000000L).as("__s")),
        iterations) { (s, _) =>
      val staged = pe.join(s, Seq("__c"))
        .withColumn("__dd", sum(col("__s")).over(wSfx))
        // stage term 1e9/D_j (half-up); the last place is not a contest
        .withColumn("__t", when(col("__k") < col("__m"),
          expr("(2 * 1000000000L + __dd) div (2 * __dd)")).otherwise(0L))
        // candidate at rank k sits in the pool for stages 1..min(k, m-1)
        .withColumn("__ct", sum(col("__t")).over(wPre))
      val denom = staged.groupBy(col("__c"))
        .agg(sum(col("__ct") * col("__cnt")).as("__d"))
      val unnorm = w.join(denom, Seq("__c"))
        .select(col("__c"),
          expr("(2 * n_wins * 1000000000L + __d) div (2 * __d)").as("__sn"))
      val total = unnorm.agg(sum(col("__sn")).as("__tot"))
      unnorm.crossJoin(broadcast(total)).crossJoin(broadcast(nc))
        .select(col("__c"), greatest(lit(1L), expr(
          "(2 * __sn * __nc * 1000000L + __tot) div (2 * __tot)"))
          .as("__s"))
    }.frame
    val fitted = w.join(s, Seq("__c"))
      .select(col("__c").as("candidate"), col("n_wins"), col("n_lists"),
        col("__s").as("strength_micro"))
    val st = fitted.schema
    // Ford guard + the rank-density/cap guards: every output column
    // carries each raise (the dpoPairs stance)
    val fordBoom = raise_error(concat(
      lit("plackettLuce: candidate "), col("__c").cast("string"),
      lit(" wins zero stages — its MLE strength is 0 and the MM update " +
        "degenerates (Ford's condition); exclude it upstream or use " +
        "copelandScores for this corpus")))
    val fordOff = w.filter(col("n_wins") === 0L)
      .select(st.map(f => fordBoom.cast(f.dataType).as(f.name)): _*)
    val shapeBoom = raise_error(concat(
      lit("plackettLuce: list "), col("__r").cast("string"), lit(" has "),
      col("__n").cast("string"),
      lit(" rows with ranks ["), col("__lo").cast("string"), lit(", "),
      col("__hi").cast("string"),
      lit("], distinct ranks "), col("__dk").cast("string"),
      lit(", distinct candidates "), col("__dc").cast("string"),
      lit(s" (cap $maxListLen) — ranks must be dense 1..m per list " +
        "(ties have no PL reading), candidates must be distinct within " +
        "a list (a repeat double-counts its strength in the suffix " +
        "pools), candidate strings must not contain U+001F (the " +
        "pattern-grain separator), and lists must fit the window cap")))
    val shapeOff = listStats.filter(col("__n") > maxListLen ||
        col("__dk") =!= col("__n") || col("__dc") =!= col("__n") ||
        col("__sep") === 1L || col("__lo") =!= 1L ||
        col("__hi") =!= col("__n"))
      .select(st.map(f => shapeBoom.cast(f.dataType).as(f.name)): _*)
    fitted.unionAll(fordOff).unionAll(shapeOff)
  }

  /** Group-relative advantage normalization (the GRPO/RLOO data shape —
    * Shao et al. 2024): per prompt, each sampled response's reward is
    * centered and scaled by ITS OWN GROUP's statistics,
    * `adv = (r − mean_group) / std_group`, so the trainer consumes a
    * critic-free advantage signal. Population std (the GRPO
    * convention). Arithmetic: group sums are exact integers (Σr in
    * BIGINT, Σr² in DECIMAL(38,0) — rewards ride the integer-micros
    * contract); mean_micros is the half-up rational; std/advantage take
    * the one sqrt through the 6-dp-round discipline (every input to the
    * double expression is an exact integer, so both engines compute the
    * identical double). Degenerate groups surface honestly: n = 1 or a
    * zero-variance group has no scale — null advantage, the stats say
    * why. Null prompt/response/reward rows are unjudged — excluded.
    *
    * Scale shape: ONE prompt-keyed hash aggregation + one keyed join
    * back (map-side combined; no window, no sort). Returns
    * `(<promptCol>, <respIdCol>, reward_micros, n_samples, mean_micros,
    * std_micros, adv_micros)` — adv in micros of one group-std. */
  def groupAdvantage(samples: DataFrame, promptCol: String,
      respIdCol: String, rewardMicrosCol: String): DataFrame = {
    val base = samples.filter(col(promptCol).isNotNull &&
        col(respIdCol).isNotNull && col(rewardMicrosCol).isNotNull)
      .select(col(promptCol), col(respIdCol),
        col(rewardMicrosCol).cast("long").as("reward_micros"))
    val stats = base.groupBy(col(promptCol))
      .agg(count(lit(1)).as("n_samples"),
        sum(col("reward_micros")).as("__sr"),
        sum(expr("CAST(reward_micros AS DECIMAL(38,0)) * reward_micros"))
          .as("__srr"))
      .select(col(promptCol), col("n_samples"),
        // sign-split half-up (the kendallTau discipline): rewards are
        // signed, and bare `div` truncates toward zero on negatives
        expr("CAST(CASE WHEN __sr < 0 THEN " +
          "-((2 * (-__sr) + n_samples) div (2 * n_samples)) " +
          "ELSE (2 * __sr + n_samples) div (2 * n_samples) END " +
          "AS BIGINT)").as("mean_micros"),
        // population variance in doubles off exact integer sums — the
        // identical expression replays in the oracle
        expr("sqrt(CAST(__srr AS DOUBLE) / n_samples " +
          "- (CAST(__sr AS DOUBLE) / n_samples) " +
          "* (CAST(__sr AS DOUBLE) / n_samples))").as("__std"),
        col("__sr"))
    base.join(stats, Seq(promptCol))
      .select(col(promptCol), col(respIdCol), col("reward_micros"),
        col("n_samples"), col("mean_micros"),
        // std is already in MICROS (rewards are micros): round at the
        // integer micro — the 6-dp discipline at this quantity's scale
        when(col("n_samples") > 1,
          expr("CAST(ROUND(__std) AS BIGINT)")).as("std_micros"),
        when(col("n_samples") > 1 && col("__std") > 0, expr(
          "CAST(ROUND(ROUND((CAST(reward_micros AS DOUBLE) " +
            "- CAST(__sr AS DOUBLE) / n_samples) / __std, 6) * 1e6) " +
            "AS BIGINT)")).as("adv_micros"))
  }

  /** KTO-shaped unpaired preference aggregation (Ethayarajh et al.
    * 2024, "KTO: Model Alignment as Prospect Theoretic Optimization")
    * — the thumbs-up/down data shape production RLHF actually
    * collects: no pairs, no rankings, just a per-example binary
    * desirable/undesirable verdict. Completes the family's fourth
    * rung: pairs ([[dpoPairs]]) / global ([[bradleyTerry]]) /
    * listwise ([[plackettLuce]]) / critic-free ([[groupAdvantage]]) /
    * UNPAIRED (this).
    *
    * Per prompt the BASELINE is the desirable share (the reference
    * point the prospect-theoretic loss centers on, in exact half-up
    * micros of an integer rational); per example the centered signal
    * is `y·1e6 − baseline_micros` (y ∈ {0, 1}) — positive for
    * desirable examples, negative for undesirable, zero-sum within a
    * prompt up to the one rounding. A prompt whose feedback is ALL
    * one verdict has no contrast: baseline 0 or 1e6 and every signal
    * exactly 0 — degenerate surfaces honestly in the signal, the
    * counts say why. Each example also carries the KTO
    * class-imbalance weight (the λ_D·n_D ≈ λ_U·n_U balancing the
    * paper prescribes, anchored at λ_D = 1): desirable rows weight
    * 1e6, undesirable rows the half-up ppm of n_desirable /
    * n_undesirable, so both verdict classes carry equal total weight
    * per prompt; null when a side is empty (nothing to balance —
    * the signal is already 0). Null prompt/id/verdict rows are
    * unjudged — excluded; count them upstream.
    *
    * Scale shape: ONE prompt-keyed hash aggregation + one keyed join
    * back (map-side combined; no window, no sort — the
    * [[groupAdvantage]] discipline). All arithmetic exact integers —
    * a relational oracle replays every cell. Returns `(<promptCol>,
    * <respIdCol>, desirable, n_examples, n_desirable, n_undesirable,
    * baseline_micros, signal_micros, weight_ppm)`. */
  def ktoSignal(feedback: DataFrame, promptCol: String,
      respIdCol: String, desirableCol: String): DataFrame = {
    val base = ktoBase(feedback, promptCol, respIdCol, desirableCol)
    val counts = base.groupBy(col(promptCol))
      .agg(count(lit(1)).as("n_examples"),
        sum(when(col("desirable"), 1L).otherwise(0L)).as("n_desirable"))
    ktoSignalFromCounts(feedback, counts, promptCol, respIdCol,
      desirableCol)
  }

  private def ktoBase(feedback: DataFrame, promptCol: String,
      respIdCol: String, desirableCol: String): DataFrame =
    feedback.filter(col(promptCol).isNotNull &&
        col(respIdCol).isNotNull && col(desirableCol).isNotNull)
      .select(col(promptCol), col(respIdCol),
        col(desirableCol).cast("boolean").as("desirable"))

  /** [[ktoSignal]]'s derivation half, split out so STREAMED per-prompt
    * verdict counters ([[graft.streaming.EventStreams
    * .ktoVerdictCounts]] — live thumbs-up/down is exactly the shape
    * that ARRIVES as a stream) can feed the identical baseline /
    * centering / balancing arithmetic: `counts` is a
    * `(<promptCol>, n_examples, n_desirable)` relation that MUST
    * cover every prompt in `feedback` EXACTLY ONCE and be at least as
    * fresh as the batch. Three in-plan raises enforce the contract —
    * a prompt with examples but no counter row (stale state silently
    * dropping exactly the feedback it hasn't absorbed), a prompt with
    * MORE THAN ONE counter row (duplicate counters would silently fan
    * every output row for that prompt out once per duplicate), and a
    * counter row whose `n_examples` is BELOW the batch's own
    * per-prompt example count (a present-but-behind counter would
    * silently miscompute baseline and weights — re-read the state or
    * trim the batch). Same output contract as the batch
    * composition. */
  def ktoSignalFromCounts(feedback: DataFrame, counts: DataFrame,
      promptCol: String, respIdCol: String,
      desirableCol: String): DataFrame = {
    val base = ktoBase(feedback, promptCol, respIdCol, desirableCol)
    val stats = counts
      .select(col(promptCol), col("n_examples").cast("long")
        .as("n_examples"), col("n_desirable").cast("long")
        .as("n_desirable"))
      .select(col(promptCol), col("n_examples"), col("n_desirable"),
        (col("n_examples") - col("n_desirable")).as("n_undesirable"),
        // the > 0 guards are no-ops on a CONSISTENT counter (an example
        // implies n_examples >= 1; an undesirable row implies
        // n_undesirable >= 1) — they exist so an INCONSISTENT counter
        // reaches the named behind/duplicate raises below instead of
        // dying first on an anonymous ANSI division-by-zero
        when(col("n_examples") > 0,
          expr("(2 * n_desirable * 1000000 + n_examples) " +
            "div (2 * n_examples)")).as("baseline_micros"))
    val out = base.join(stats, Seq(promptCol))
      .select(col(promptCol), col(respIdCol), col("desirable"),
        col("n_examples"), col("n_desirable"), col("n_undesirable"),
        col("baseline_micros"),
        (when(col("desirable"), 1000000L).otherwise(0L) -
          col("baseline_micros")).as("signal_micros"),
        when(col("desirable"),
          when(col("n_undesirable") > 0, 1000000L))
          .otherwise(when(
            col("n_desirable") > 0 && col("n_undesirable") > 0, expr(
              "(2 * n_desirable * 1000000 + n_undesirable) " +
                "div (2 * n_undesirable)"))).as("weight_ppm"))
    // coverage guards: every output column carries the raise
    val sch = out.schema
    def boomRows(df: DataFrame, msg: Column): DataFrame =
      df.select(sch.map(f => raise_error(msg).cast(f.dataType).as(f.name)): _*)
    // checkpointed anti-join (the dialogPaths pushdown lesson): left
    // lazy, a consumer's pushable predicate substituted into the raise
    // columns pushes below the anti-join and fires the raise for every
    // covered prompt; a LogicalRDD leaf is a pushdown barrier
    val missing = boomRows(
      graft.operators.Iterate.checkpoint(
        base.select(col(promptCol)).distinct()
          .join(stats.select(col(promptCol)), Seq(promptCol), "left_anti")),
      concat(lit("ktoSignalFromCounts: prompt "),
        col(promptCol).cast("string"),
        lit(" has feedback examples but no counter row — the counts " +
          "relation must cover every prompt (stale state silently drops " +
          "exactly the feedback it hasn't absorbed)")))
    val duplicated = boomRows(
      counts.groupBy(col(promptCol)).agg(count(lit(1)).as("__nc"))
        .filter(col("__nc") > 1),
      concat(lit("ktoSignalFromCounts: prompt "),
        col(promptCol).cast("string"), lit(" has "),
        col("__nc").cast("string"),
        lit(" counter rows — duplicate counters would fan every output " +
          "row for the prompt out once per duplicate; aggregate the " +
          "counts relation to one row per prompt")))
    val behind = boomRows(
      base.groupBy(col(promptCol)).agg(count(lit(1)).as("__bn"))
        .join(stats.select(col(promptCol), col("n_examples")),
          Seq(promptCol))
        .filter(col("__bn") > col("n_examples")),
      concat(lit("ktoSignalFromCounts: prompt "),
        col(promptCol).cast("string"), lit(" holds "),
        col("__bn").cast("string"), lit(" batch examples but its " +
          "counter says n_examples = "), col("n_examples").cast("string"),
        lit(" — the counter is behind the batch and would miscompute " +
          "baseline/weights; re-read the state or trim the batch")))
    out.unionAll(missing).unionAll(duplicated).unionAll(behind)
  }

  /** Per-step discounted returns + GAE(λ)-shaped advantages over
    * STEPPED trajectories — the agentic-RL data shape (episodes of
    * (state, action, reward) rows; Schulman et al. 2016 for GAE):
    * response-grain signals ([[dpoPairs]] / [[groupAdvantage]] /
    * [[ktoSignal]]) stop at whole responses, but an agent trace is a
    * SEQUENCE, and the trainer consumes per-step return-to-go and
    * advantage.
    *
    * Quantized-exact arithmetic — the engine's no-float-pow discipline
    * ([[graft.operators.Behavior.timeDecayAttribution]]'s precedent,
    * here with the recursion ITSELF carrying the power, so no pow at
    * all): γ and λ arrive as ppm, and each backward step is
    * `R_t = r_t + ⌊γ·R_{t+1}/1e6⌋`,
    * `δ_t = r_t + ⌊γ·V_{t+1}/1e6⌋ − V_t` (terminal V = 0),
    * `A_t = δ_t + ⌊γλ·A_{t+1}/1e6⌋` with `γλ = ⌊γ·λ/1e6⌋` — FLOOR
    * division uniformly (rewards are signed, so truncate-toward-zero
    * would quantize in a sign-dependent direction; floor is the
    * direction-uniform choice, implemented as
    * `(x − pmod(x, 1e6)) div 1e6` — subtracting the non-negative pmod
    * makes the quotient exact, so ANY integral divide replays it; a
    * relational oracle spells the identical identity, since SQL
    * engines disagree on signed `//`).
    * γ = λ = 1e6 degenerates to the plain suffix sum (R_t = Σ r_k,
    * A_t = R_t − V_t); a single-step episode reads R = r, A = δ =
    * r − V. Null values read 0 (critic-free rows — advantage then
    * equals return); null episode/step/reward rows are unjudged —
    * excluded, count them upstream.
    *
    * Contract guards, all in-plan raises: duplicate (episode, step)
    * rows (they alias the recursion's ordering), an episode past
    * `maxSteps` (the per-episode fold state is the step list — bound
    * it deliberately), and any |value| / |return| / |advantage| past
    * 9.2e12 micros (the γ-multiply's BIGINT headroom; rescale rewards
    * upstream).
    *
    * Scale shape: ONE episode-keyed hash aggregation (bounded per-
    * episode arrays, the recursion folds inside a codegen higher-order
    * function — no window, no per-step shuffle, no driver iteration) +
    * one explode back to step grain. Returns one row per step:
    * `(<episodeCol>, n_steps, <stepCol>, reward_micros, value_micros,
    * return_micros, delta_micros, advantage_micros)`. */
  def trajectoryReturns(steps: DataFrame, episodeCol: String,
      stepCol: String, rewardMicrosCol: String, valueMicrosCol: String,
      gammaPpm: Long, lambdaPpm: Long, maxSteps: Int = 65536): DataFrame = {
    require(gammaPpm >= 0 && gammaPpm <= 1000000L,
      s"gammaPpm must be in [0, 1e6], got $gammaPpm")
    require(lambdaPpm >= 0 && lambdaPpm <= 1000000L,
      s"lambdaPpm must be in [0, 1e6], got $lambdaPpm")
    require(maxSteps >= 1, s"maxSteps must be >= 1, got $maxSteps")
    val glPpm = gammaPpm * lambdaPpm / 1000000L
    val headroom = 9200000000000L // 9.2e12: x * 1e6 stays inside BIGINT
    def fd(x: Column): Column = // exact floor(x / 1e6) as integral ops
      call_function("div", x - pmod(x, lit(1000000L)), lit(1000000L))
    def ok(c: Column, what: String): Column =
      when(abs(c) > lit(headroom), raise_error(concat(
        lit(s"trajectoryReturns: |$what| exceeds 9.2e12 micros ("),
        c.cast("string"),
        lit(") — the gamma-multiply overflows BIGINT past that; " +
          "rescale rewards/values upstream"))).cast("long"))
        .otherwise(c)
    val base = steps.filter(col(episodeCol).isNotNull &&
        col(stepCol).isNotNull && col(rewardMicrosCol).isNotNull)
      .select(col(episodeCol), col(stepCol).cast("long").as("__st"),
        col(rewardMicrosCol).cast("long").as("__r"),
        ok(coalesce(col(valueMicrosCol).cast("long"), lit(0L)), "value")
          .as("__v"))
    // the backward recursion runs as the native gae_fold kernel — the
    // HOF `aggregate` fold it replaces was CodegenFallback AND re-copied
    // the accumulated output array per step (O(n²) per episode); the
    // kernel is one O(n) pass with identical exact-integer arithmetic
    // and the same headroom raises (guide §1.2 per-task work)
    val folded = base.groupBy(col(episodeCol))
      .agg(count(lit(1)).as("n_steps"),
        reverse(array_sort(collect_list(
          struct(col("__st").as("st"), col("__r").as("r"),
            col("__v").as("v"))))).as("__desc"))
      .withColumn("__steps", column(GaeFold(expression(col("__desc")),
        Literal(gammaPpm), Literal(lambdaPpm))))
    val out = folded
      .select(col(episodeCol), col("n_steps"),
        explode(col("__steps")).as("__s"))
      .select(col(episodeCol), col("n_steps"),
        col("__s.st").as(stepCol),
        col("__s.r").as("reward_micros"),
        col("__s.v").as("value_micros"),
        col("__s.ret").as("return_micros"),
        col("__s.delta").as("delta_micros"),
        col("__s.adv").as("advantage_micros"))
    // guards: every output column carries the raise
    val sch = out.schema
    def boomRows(df: DataFrame, msg: Column): DataFrame =
      df.select(sch.map(f => raise_error(msg).cast(f.dataType).as(f.name)): _*)
    val dup = boomRows(
      base.groupBy(col(episodeCol), col("__st"))
        .agg(count(lit(1)).as("__nd")).filter(col("__nd") > 1),
      concat(lit("trajectoryReturns: episode "),
        col(episodeCol).cast("string"), lit(" holds "),
        col("__nd").cast("string"), lit(" rows for step "),
        col("__st").cast("string"),
        lit(" — duplicate steps alias the backward recursion's " +
          "ordering; de-dup upstream")))
    val oversize = boomRows(
      base.groupBy(col(episodeCol)).agg(count(lit(1)).as("__n"))
        .filter(col("__n") > maxSteps),
      concat(lit("trajectoryReturns: episode "),
        col(episodeCol).cast("string"), lit(" holds "),
        col("__n").cast("string"),
        lit(s" steps (cap $maxSteps) — the per-episode fold carries " +
          "the step list; split the episode or raise maxSteps " +
          "deliberately")))
    out.unionAll(dup).unionAll(oversize)
  }

  /** The [[dpoPairs]] → training-strings composition: each pair's
    * chosen and rejected sides render as the two-turn ChatML strings a
    * DPO trainer tokenizes, THROUGH
    * [[graft.operators.Behavior.renderChatTemplate]] (one user turn
    * carrying the prompt text, one assistant turn carrying the
    * response text — same sentinels, same ordering contract).
    * `prompts` maps `<promptCol>` → `<promptTextCol>`; `responses`
    * maps `<respIdCol>` → `<respTextCol>`; both joins are keyed (the
    * pairs relation is the small side after aggregation — AQE
    * broadcasts it while it fits). Missing prompt/response texts
    * render as empty strings through renderChatTemplate's
    * null-coalescing, never dropped. Returns the pairs columns plus
    * `(chosen, rejected)` rendered strings. */
  def dpoTrainingStrings(pairs: DataFrame, promptCol: String,
      prompts: DataFrame, promptTextCol: String,
      responses: DataFrame, respIdCol: String, respTextCol: String)
      : DataFrame = {
    val keyed = pairs
      .join(prompts.select(col(promptCol), col(promptTextCol).as("__pt")),
        Seq(promptCol), "left")
      .join(responses.select(col(respIdCol).as("chosen_id"),
        col(respTextCol).as("__ct")), Seq("chosen_id"), "left")
      .join(responses.select(col(respIdCol).as("rejected_id"),
        col(respTextCol).as("__rt")), Seq("rejected_id"), "left")
      .withColumn("__pk", concat_ws("\u001f",
        col(promptCol).cast("string"), col("chosen_id").cast("string"),
        col("rejected_id").cast("string")))
    def rendered(respText: Column, outCol: String): DataFrame = {
      val turns = keyed.select(col("__pk"), col("__pt"), respText.as("__x"))
        .select(col("__pk"), explode(array(
          struct(lit(1L).as("__ts"), lit(1L).as("__id"),
            lit("user").as("__role"), col("__pt").as("__text")),
          struct(lit(2L).as("__ts"), lit(2L).as("__id"),
            lit("assistant").as("__role"), col("__x").as("__text"))))
          .as("t"))
        .select(col("__pk"), col("t.__ts").as("__ts"),
          col("t.__id").as("__id"), col("t.__role").as("__role"),
          col("t.__text").as("__text"))
      Behavior.renderChatTemplate(turns, "__pk", "__ts", "__id",
        "__role", "__text")
        .select(col("__pk"), col("rendered").as(outCol))
    }
    keyed
      .join(rendered(col("__ct"), "chosen"), Seq("__pk"))
      .join(rendered(col("__rt"), "rejected"), Seq("__pk"))
      .drop("__pk", "__pt", "__ct", "__rt")
  }
}
