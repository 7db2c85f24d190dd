package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** User-behavior analytics over an event stream — the funnel / cohort
  * surface every product-analytics warehouse query pack carries.
  *
  * Both operators reduce the event relation to per-user keyed aggregates
  * before anything else touches it, so every shuffle is keyed by user —
  * no windows over the raw event stream, no driver-side iteration over
  * data. Step/offset counts are small by construction (steps are a
  * caller-fixed list; offsets are bounded by the corpus time span in
  * weeks), so the output never needs its own reduction strategy.
  */
object Behavior {

  /** Ordered-funnel reach counts: how many users performed `steps(0)`,
    * then `steps(1)` STRICTLY after it, then `steps(2)` strictly after
    * that, … Each stage keeps the EARLIEST qualifying timestamp per user
    * (the canonical funnel semantics: a user converts on their first
    * opportunity, and a later step must follow the first completion of
    * the previous one).
    *
    * Shape: one filtered min-aggregate for step 1, then per step one
    * keyed equi-join (user ⨝ user) + min-aggregate — steps.length − 1
    * shuffles total, each carrying one row per surviving user. Each
    * stage's per-user frame is materialized once via
    * [[Iterate.checkpoint]] before it feeds BOTH its own count and the
    * next stage (without that, the final union would re-execute stage
    * j's entire lineage — the event scan plus joins of stages 1..j —
    * independently per stage: O(steps²) passes over the event relation).
    * The per-step counts union into a steps.length-row result; no count
    * ever collects to the driver.
    *
    * Returns `(step: int 1-based, event_type, users: long)` — users is 0
    * for stages nobody reached (the row is still present, so a funnel
    * chart never silently loses its tail). */
  /** `withinSeconds`: optional conversion deadline — each stage must
    * land within that many seconds of the previous stage's completion
    * ("purchased within 30 minutes of the click"), the standard
    * product-analytics windowed funnel. None = unbounded. */
  def funnel(events: DataFrame, steps: Seq[String],
      userCol: String = "user_id", typeCol: String = "event_type",
      tsCol: String = "ts", withinSeconds: Option[Long] = None): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct.length == steps.length,
      s"funnel steps must be distinct, got ${steps.mkString(", ")}")
    withinSeconds.foreach(w =>
      require(w > 0, s"withinSeconds must be positive, got $w"))
    val ev = events.select(col(userCol).as("__u"), col(typeCol).as("__t"),
      col(tsCol).as("__ts"))
    var reached = Iterate.checkpoint(ev.filter(col("__t") === steps.head)
      .groupBy(col("__u")).agg(min(col("__ts")).as("__first")))
    val stages = Seq.newBuilder[DataFrame]
    def countOf(df: DataFrame, step: Int, tpe: String): DataFrame =
      df.agg(count(lit(1)).as("users"))
        .select(lit(step).as("step"), lit(tpe).as("event_type"), col("users"))
    stages += countOf(reached, 1, steps.head)
    steps.zipWithIndex.drop(1).foreach { case (tpe, i) =>
      val deadline = withinSeconds
        .map(w => col("__ts") <= col("__prev") + expr(s"INTERVAL $w SECOND"))
        .getOrElse(lit(true))
      reached = Iterate.checkpoint(ev.filter(col("__t") === tpe)
        .join(reached.select(col("__u"), col("__first").as("__prev")), Seq("__u"))
        .filter(col("__ts") > col("__prev") && deadline)
        .groupBy(col("__u")).agg(min(col("__ts")).as("__first")))
      stages += countOf(reached, i + 1, tpe)
    }
    stages.result().reduce(_ unionByName _)
  }

  /** Tag every event with its session id — the event-level
    * gaps-and-islands complement to the session-window AGGREGATE
    * ([[graft.streaming.EventStreams.sessionCounts]]): downstream
    * per-session feature extraction needs the tag on each row, not just
    * per-session counts. A session breaks when the gap to the user's
    * previous event reaches `gapSeconds` (same `>=` break rule as the
    * session-window operator, so the two agree on boundaries).
    *
    * Session ids are `<user>#<n>` with n counting the user's sessions in
    * time order from 1 — deterministic and replayable. Shape: one window
    * over the per-USER partition ordered by ts (lag + running sum — the
    * standard islands construction; user keys are many, so the partition
    * sort distributes; this is the documented exception to the no-window
    * rule, as a per-user event sequence has no keyed-aggregate
    * equivalent). Ties on ts within a user order by the id column for a
    * total order. */
  def sessionize(events: DataFrame, gapSeconds: Long = 1800L,
      userCol: String = "user_id", tsCol: String = "ts",
      idCol: String = "event_id"): DataFrame = {
    require(gapSeconds > 0, s"gapSeconds must be positive, got $gapSeconds")
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val brk = when(lag(col(tsCol), 1).over(w).isNull ||
      unix_micros(col(tsCol)) - unix_micros(lag(col(tsCol), 1).over(w)) >=
        gapSeconds * 1000000L, 1).otherwise(0)
    events
      .withColumn("__brk", brk)
      .withColumn("session_id",
        concat(col(userCol).cast("string"), lit("#"),
          sum(col("__brk")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("string")))
      .drop("__brk")
  }

  /** Weekly retention cohorts: users are cohorted by the ISO week
    * (Monday-truncated) of their FIRST event; for every later week in
    * which a cohort member was active, the cohort's retained-user count
    * is reported at that week offset.
    *
    * Shape: the event relation first reduces to the distinct
    * (user, week) activity grid — the only pass over raw events — then
    * one min-aggregate per user for the cohort and one keyed join back.
    * offset 0 is each cohort's full size, so retention ratios derive in
    * the result without another query.
    *
    * Returns `(cohort_week: date, week_offset: int, users: long)`. */
  def retention(events: DataFrame,
      userCol: String = "user_id", tsCol: String = "ts"): DataFrame = {
    val weeks = events
      .select(col(userCol).as("__u"),
        date_trunc("week", col(tsCol)).cast("date").as("__wk"))
      .distinct()
    val cohorts = weeks.groupBy(col("__u"))
      .agg(min(col("__wk")).as("cohort_week"))
    weeks.join(cohorts, Seq("__u"))
      .groupBy(col("cohort_week"),
        (datediff(col("__wk"), col("cohort_week")) / 7).cast("int").as("week_offset"))
      .agg(count(lit(1)).as("users"))
  }

  /** Last-touch marketing attribution: for every conversion event, the
    * LATEST touch event by the same user at-or-before the conversion and
    * within the lookback window — the product-analytics attribution
    * model every warehouse pack ships first (multi-touch models start
    * from this join). Conversions with no in-window touch keep NULL
    * channel/touch_ts — organic is an answer, not a drop.
    *
    * Shape: the library's own native as-of join
    * ([[graft.plans.AsOfJoin]], whole-stage-codegen'd sort-merge) from
    * conversions to touches keyed by user with `tolerance` as the
    * lookback — no interval-range shuffle, no per-conversion window
    * scan; both sides shuffle ONCE on user_id. Touches pre-reduce to
    * one row per (user, ts) with `max(event_type)` so timestamp ties
    * resolve deterministically (the [[Resample.fillForward]]
    * discipline). Returns
    * `(event_id, user_id, conv_ts, touch_ts, channel, value)`. */
  def lastTouch(events: DataFrame, convType: String,
      touchTypes: Seq[String], lookbackMicros: Long): DataFrame = {
    require(touchTypes.nonEmpty, "need at least one touch event type")
    require(lookbackMicros > 0,
      s"lookback must be positive micros, got $lookbackMicros")
    require(!touchTypes.contains(convType),
      s"'$convType' cannot be both conversion and touch")
    val conv = events
      .filter(col("event_type") === convType &&
        col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("event_id"), col("user_id"),
        col("ts").as("conv_ts"), col("value"))
    val touches = events
      .filter(col("event_type").isin(touchTypes: _*) &&
        col("user_id").isNotNull && col("ts").isNotNull)
      .groupBy(col("user_id").as("tu"), col("ts").as("touch_ts"))
      .agg(max(col("event_type")).as("channel"))
    graft.plans.AsOfJoin.asofJoin(conv, touches, "user_id", "tu",
        "conv_ts", "touch_ts", tolerance = Some(lookbackMicros))
      .select(col("event_id"), col("user_id"), col("conv_ts"),
        col("touch_ts"), col("channel"), col("value"))
  }

  /** The multi-touch blow-up guard: the conversions ⨝ touches join
    * expands as convs × in-window touches PER USER — bounded by
    * lookback × arrival rate for humans, quadratic for a bot user. The
    * guard is an EMPTY-unless-violated union branch on the touches side
    * (the [[Graph.coOccurrenceEdges]] pattern — no join on the hot
    * path, one extra users-sized keyed count; EVERY projected column
    * carries the raise so no pushed-down IsNotNull can constant-fold
    * the branch away): any user holding more than `cap` touch events
    * fails the job loudly with the user named, instead of hanging a
    * task at 100× scale. [[lastTouch]] needs no guard — its as-of join
    * is sort-merge, never a pair expansion. */
  private def guardTouches(touches: DataFrame, cap: Int): DataFrame = {
    require(cap >= 1, s"maxTouchesPerUser must be >= 1, got $cap")
    def boom(t: org.apache.spark.sql.types.DataType) = raise_error(concat(
      lit("attribution: user "), col("user_id").cast("string"),
      lit(" holds "), col("__n").cast("string"),
      lit(s" touch events (cap $cap) — the conversions x touches join " +
        "expands quadratically on a hot user; pre-filter bot traffic " +
        "or raise maxTouchesPerUser deliberately"))).cast(t)
    val offenders = touches.groupBy(col("user_id"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > cap)
      .select(touches.schema.map(f => boom(f.dataType).as(f.name)): _*)
    touches.unionAll(offenders)
  }

  /** Linear (equal-credit) multi-touch attribution — [[lastTouch]]'s
    * companion model: EVERY in-window touch shares the conversion's
    * credit equally, aggregated per channel. Credit is integer MICROS
    * (`nc·1e6 div n` — pure integral division, so a relational oracle
    * replays it exactly; per-conversion credit sums to ≤1e6 with the
    * division remainder dropped, never redistributed — deterministic
    * beats cosmetically-exact here). Organic conversions emit one NULL
    * -channel row carrying the full 1e6 — a conversion never vanishes
    * from the attribution report.
    *
    * Shape: one user-keyed equi-join (both sides shuffle once on
    * user_id) with the window as a post-join filter — per-user touch
    * lists are bounded by lookback × arrival rate, so the join output
    * is conversions × in-window touches, not a cross product — then
    * two keyed aggregations and an anti-join for the organic branch.
    * Returns `(event_id, user_id, conv_ts, channel, credit_m)`. */
  def linearAttribution(events: DataFrame, convType: String,
      touchTypes: Seq[String], lookbackMicros: Long,
      maxTouchesPerUser: Int = 100000): DataFrame = {
    require(touchTypes.nonEmpty, "need at least one touch event type")
    require(lookbackMicros > 0,
      s"lookback must be positive micros, got $lookbackMicros")
    require(!touchTypes.contains(convType),
      s"'$convType' cannot be both conversion and touch")
    val conv = events
      .filter(col("event_type") === convType &&
        col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts").as("conv_ts"))
    val touches = guardTouches(events
      .filter(col("event_type").isin(touchTypes: _*) &&
        col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), col("ts").as("touch_ts"),
        col("event_type").as("channel")), maxTouchesPerUser)
    val j = conv.join(touches, Seq("user_id"))
      .filter(col("touch_ts") <= col("conv_ts") &&
        unix_micros(col("conv_ts")) - unix_micros(col("touch_ts")) <=
          lit(lookbackMicros))
    val n = j.groupBy(col("event_id")).agg(count(lit(1)).as("__n"))
    val credited = j
      .groupBy(col("event_id"), col("user_id"), col("conv_ts"),
        col("channel"))
      .agg(count(lit(1)).as("__nc"))
      .join(n, Seq("event_id"))
      .select(col("event_id"), col("user_id"), col("conv_ts"),
        col("channel"),
        expr("(__nc * CAST(1000000 AS BIGINT)) div __n").as("credit_m"))
    val organic = conv.join(j.select(col("event_id")).distinct(),
        Seq("event_id"), "left_anti")
      .select(col("event_id"), col("user_id"), col("conv_ts"),
        lit(null).cast("string").as("channel"),
        lit(1000000L).as("credit_m"))
    credited.unionAll(organic)
  }

  /** Position-based (U-shaped) multi-touch attribution — the third
    * member of the family ([[lastTouch]], [[linearAttribution]]): the
    * FIRST in-window touch gets 40% of the conversion's credit, the
    * LAST 40%, and the middles share the remaining 20% equally — the
    * standard 40/20/40 model. Degenerate cases follow the industry
    * convention: a single touch takes the full credit; exactly two
    * touches split 50/50. Credit is integer MICROS (the
    * [[linearAttribution]] discipline): the middle share is
    * `200000 div (n-2)` with the division remainder dropped, never
    * redistributed, so a relational oracle replays every row exactly.
    * Organic conversions emit one NULL-channel row with the full 1e6.
    *
    * Position needs a total order over each conversion's touches: one
    * window PARTITIONED BY event_id ordered by `(touch_ts, channel)` —
    * bounded per conversion by lookback × arrival rate, and the
    * partition key is the many-valued conversion id, so the sort
    * distributes (the [[sessionize]] exception to the no-window rule).
    * Exact duplicate touches are interchangeable under this order and
    * the per-channel aggregate is invariant to their permutation.
    * Returns `(event_id, user_id, conv_ts, channel, credit_m)`. */
  def positionAttribution(events: DataFrame, convType: String,
      touchTypes: Seq[String], lookbackMicros: Long,
      maxTouchesPerUser: Int = 100000): DataFrame = {
    require(touchTypes.nonEmpty, "need at least one touch event type")
    require(lookbackMicros > 0,
      s"lookback must be positive micros, got $lookbackMicros")
    require(!touchTypes.contains(convType),
      s"'$convType' cannot be both conversion and touch")
    val conv = events
      .filter(col("event_type") === convType &&
        col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts").as("conv_ts"))
    val touches = guardTouches(events
      .filter(col("event_type").isin(touchTypes: _*) &&
        col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), col("ts").as("touch_ts"),
        col("event_type").as("channel")), maxTouchesPerUser)
    val j = conv.join(touches, Seq("user_id"))
      .filter(col("touch_ts") <= col("conv_ts") &&
        unix_micros(col("conv_ts")) - unix_micros(col("touch_ts")) <=
          lit(lookbackMicros))
    val w = Window.partitionBy(col("event_id"))
      .orderBy(col("touch_ts"), col("channel"))
    val wAll = Window.partitionBy(col("event_id"))
    val positioned = j
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wAll))
    val credit =
      when(col("__n") === 1, lit(1000000L))
        .when(col("__n") === 2, lit(500000L))
        .when(col("__rn") === 1 || col("__rn") === col("__n"), lit(400000L))
        .otherwise(expr("CAST(200000 AS BIGINT) div (__n - 2)"))
    val credited = positioned
      .withColumn("__c", credit)
      .groupBy(col("event_id"), col("user_id"), col("conv_ts"),
        col("channel"))
      .agg(sum(col("__c")).as("credit_m"))
    val organic = conv.join(j.select(col("event_id")).distinct(),
        Seq("event_id"), "left_anti")
      .select(col("event_id"), col("user_id"), col("conv_ts"),
        lit(null).cast("string").as("channel"),
        lit(1000000L).as("credit_m"))
    credited.unionAll(organic)
  }

  /** Time-decay multi-touch attribution — the fourth member of the
    * family: recent touches earn more, with weight halving per
    * `halfLifeMicros` of age. The decay is QUANTIZED to whole
    * half-lives: `w = 1e6 div 2^(age div halfLife)` — pure integer
    * arithmetic (a shift, an integral division), so a relational oracle
    * replays every weight exactly; the continuous `2^(-age/h)` differs
    * from it by at most a factor of 2 per touch, far inside the noise
    * of any attribution model, and "deterministic beats
    * cosmetically-exact" is the house rule ([[linearAttribution]]).
    * Weights are floored at 1 micro: past ~20 half-lives the integral
    * division underflows, and an all-ancient-touch conversion must still
    * credit rather than emit NULL credit rows.
    * Per-channel credit is `Σ_channel w · 1e6 div Σ_all w` micros,
    * remainder dropped; organic conversions emit the NULL-channel row
    * with the full 1e6.
    *
    * Same join shape as [[linearAttribution]]: one user-keyed equi-join
    * + window filter, two keyed aggregations, the organic anti-join —
    * no windows, no per-conversion scans. */
  def timeDecayAttribution(events: DataFrame, convType: String,
      touchTypes: Seq[String], lookbackMicros: Long,
      halfLifeMicros: Long, maxTouchesPerUser: Int = 100000): DataFrame = {
    require(touchTypes.nonEmpty, "need at least one touch event type")
    require(lookbackMicros > 0,
      s"lookback must be positive micros, got $lookbackMicros")
    require(halfLifeMicros > 0,
      s"half-life must be positive micros, got $halfLifeMicros")
    require(lookbackMicros / halfLifeMicros < 62,
      s"lookback spans ${lookbackMicros / halfLifeMicros} half-lives — " +
        "beyond 62 the integer weight underflows the shift; widen the " +
        "half-life or narrow the lookback")
    require(!touchTypes.contains(convType),
      s"'$convType' cannot be both conversion and touch")
    val conv = events
      .filter(col("event_type") === convType &&
        col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts").as("conv_ts"))
    val touches = guardTouches(events
      .filter(col("event_type").isin(touchTypes: _*) &&
        col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), col("ts").as("touch_ts"),
        col("event_type").as("channel")), maxTouchesPerUser)
    val j = conv.join(touches, Seq("user_id"))
      .filter(col("touch_ts") <= col("conv_ts") &&
        unix_micros(col("conv_ts")) - unix_micros(col("touch_ts")) <=
          lit(lookbackMicros))
      // greatest(..., 1): past ~20 half-lives the integer division
      // underflows to 0; an in-window touch always carries at least one
      // micro of weight, so a conversion whose touches are all ancient
      // still credits (never a div-0 NULL) — the "a conversion never
      // vanishes" contract holds at every age inside the lookback.
      .withColumn("__w", greatest(expr(
        s"CAST(1000000 AS BIGINT) div shiftleft(CAST(1 AS BIGINT), " +
          s"CAST((unix_micros(conv_ts) - unix_micros(touch_ts)) div " +
          s"${halfLifeMicros} AS INT))"), lit(1L)))
    val tot = j.groupBy(col("event_id")).agg(sum(col("__w")).as("__tw"))
    val credited = j
      .groupBy(col("event_id"), col("user_id"), col("conv_ts"),
        col("channel"))
      .agg(sum(col("__w")).as("__cw"))
      .join(tot, Seq("event_id"))
      .select(col("event_id"), col("user_id"), col("conv_ts"),
        col("channel"),
        expr("(__cw * CAST(1000000 AS BIGINT)) div __tw").as("credit_m"))
    val organic = conv.join(j.select(col("event_id")).distinct(),
        Seq("event_id"), "left_anti")
      .select(col("event_id"), col("user_id"), col("conv_ts"),
        lit(null).cast("string").as("channel"),
        lit(1000000L).as("credit_m"))
    credited.unionAll(organic)
  }

  /** Dialog-format audit — the chat-training-data QA gate (SFT/RLHF
    * corpora are conversations, and a malformed one — double user
    * turns, assistant-first, trailing user message, alien roles —
    * poisons a chat template silently): per conversation, in event-time
    * order with an explicit integral tiebreak, the turn count, the
    * first/last roles, the number of ALTERNATION VIOLATIONS
    * (consecutive same-role turns), the count of roles outside
    * {user, assistant}, and the composed `well_formed` verdict
    * (starts with user, ends with assistant, zero violations, zero
    * alien roles, zero null-timestamp turns). Null-role turns count as
    * alien (a missing role is malformed, not ignorable). A
    * null-TIMESTAMP turn cannot be placed in the alternation order, so
    * it is excluded from the ordered checks — but NEVER silently: it is
    * counted in `n_null_ts` and fails the verdict (a conversation whose
    * only defect is an unplaceable turn is still malformed, which is
    * the whole point of the gate). A conversation where EVERY turn has
    * a null timestamp still surfaces: `n_turns = 0`, null roles,
    * `well_formed = false`. ONE window pass partitioned by conversation
    * + one hash aggregate, plus a conversations-sized outer join for
    * the null-ts counts — conversations are bounded, the corpus is
    * never globally sorted. Returns `(<convCol>, n_turns, first_role,
    * last_role, n_violations, n_alien_roles, n_null_ts,
    * well_formed)`. */
  def dialogAudit(df: DataFrame, convCol: String, tsCol: String,
      idCol: String, roleCol: String, userRole: String = "user",
      assistantRole: String = "assistant"): DataFrame = {
    require(userRole != assistantRole, "user and assistant roles must differ")
    val w = Window.partitionBy(col(convCol))
      .orderBy(col(tsCol), col(idCol))
    val base = df.filter(col(convCol).isNotNull)
      .select(col(convCol), col(tsCol), col(idCol),
        col(roleCol).cast("string").as("__r"))
    val ordered = base
      .filter(col(tsCol).isNotNull)
      .withColumn("__rn", row_number().over(w))
      .withColumn("__prev", lag(col("__r"), 1).over(w))
    val audited = ordered.groupBy(col(convCol))
      .agg(count(lit(1)).as("n_turns"),
        max(when(col("__rn") === 1, col("__r"))).as("first_role"),
        max(struct(col("__rn"), col("__r"))).getField("__r")
          .as("last_role"),
        sum(when(col("__prev").isNotNull &&
          col("__prev") <=> col("__r"), 1L).otherwise(0L))
          .as("n_violations"),
        sum(when(col("__r").isNull ||
          !col("__r").isin(userRole, assistantRole), 1L).otherwise(0L))
          .as("n_alien_roles"))
    val nullTs = base.filter(col(tsCol).isNull)
      .groupBy(col(convCol)).agg(count(lit(1)).as("__n_null_ts"))
    audited.join(nullTs, Seq(convCol), "full_outer")
      .select(col(convCol),
        coalesce(col("n_turns"), lit(0L)).as("n_turns"),
        col("first_role"), col("last_role"),
        coalesce(col("n_violations"), lit(0L)).as("n_violations"),
        coalesce(col("n_alien_roles"), lit(0L)).as("n_alien_roles"),
        coalesce(col("__n_null_ts"), lit(0L)).as("n_null_ts"))
      .withColumn("well_formed",
        coalesce(col("first_role") === userRole, lit(false)) &&
          coalesce(col("last_role") === assistantRole, lit(false)) &&
          col("n_violations") === 0L && col("n_alien_roles") === 0L &&
          col("n_null_ts") === 0L)
  }

  /** Message-TREE linearization — the OpenAssistant data shape
    * (Köpf et al. 2023): crowd-sourced conversations arrive as a tree
    * (each reply points at its parent; several candidate replies per
    * node), and trainers consume root-to-leaf PATHS as flat
    * conversations. One output path per LEAF, each carrying every
    * ancestor in order — the standard tree→SFT extraction (feed the
    * per-turn relation into [[dialogAudit]] / [[sftPairs]] /
    * [[renderChatTemplate]] with `path_id` as the conversation key).
    *
    * Tree contract, enforced not assumed: roots have a NULL parent;
    * every non-root's parent must EXIST and sit strictly closer to a
    * root (acyclic). A node that is never reached from a root within
    * `maxDepth` levels — orphaned subtree (parent id absent), a
    * cycle, or a genuinely deeper tree — trips an in-plan raise
    * naming the node: silently dropping unreachable turns would
    * truncate conversations without evidence. Duplicate message ids
    * would alias turns — also unreached-raise material when they
    * disagree on parents, but de-dup upstream.
    *
    * Scale shape: POINTER JUMPING (path doubling) — each round every
    * unfinished node splices its ancestor pointer's accumulated path
    * in front of its own and inherits that ancestor's pointer, so the
    * contracted distance doubles per round and a depth-d tree settles
    * in ⌈log₂(d−1)⌉+1 keyed joins instead of d level-synchronous ones
    * (the round count is what dominates an iterative job's cost — each
    * round is a full join + checkpoint + probe cycle; guide §1.2).
    * Every round is checkpointed by [[Iterate.fixpoint]] (plans stay
    * O(1) per round, superseded rounds are freed). Paths
    * ride as id ARRAYS (text joined back exactly once at the end) —
    * the exchanged volume is ids × depth, never text × depth. The loop
    * exits as soon as no node can still make progress (the count probe
    * rides the job that materializes each round), so a depth-3
    * forest pays 2 rounds at any maxDepth — and the round ceiling
    * ⌈log₂(maxDepth−1)⌉+1 guarantees every node within `maxDepth`
    * levels of a root has settled, so the placed/unreachable verdict
    * is identical to running the levels one at a time (a settled path
    * longer than maxDepth is flagged exactly like a node BFS never
    * reached).
    *
    * Id contract, enforced not assumed: ids must be INTEGRAL — a
    * non-null id whose long cast is null (e.g. OpenAssistant's UUID
    * strings) trips an in-plan raise naming the id, instead of
    * surfacing later as a misleading unreachable-node error (hash
    * string ids to longs upstream — [[graft.operators.Sampling
    * .saltedKey]] is the house recipe). Returns one row per
    * (leaf, turn): `(path_id, n_turns, turn, msg_id, role, text)` —
    * `path_id` = the leaf's message id, `turn` 1-based from the
    * root. */
  def dialogPaths(msgs: DataFrame, msgIdCol: String, parentIdCol: String,
      roleCol: String, textCol: String, maxDepth: Int = 32): DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 128,
      s"maxDepth must be in [1, 128], got $maxDepth")
    def longId(c: String, what: String): Column = {
      // try_cast, not cast: under ANSI a malformed string would throw
      // the generic CAST_INVALID_INPUT before this guard could name
      // the contract; try_cast yields null and the raise explains it
      val casted = expr(s"try_cast(`$c` AS LONG)")
      when(col(c).isNotNull && casted.isNull,
        raise_error(concat(lit(s"dialogPaths: $what id '"),
          col(c).cast("string"),
          lit("' does not cast to long — ids must be integral; hash " +
            "string ids (UUIDs) to longs upstream"))).cast("long"))
        .otherwise(casted)
    }
    val m = graft.operators.Iterate.checkpoint(
      msgs.select(longId(msgIdCol, "message").as("__id"),
        longId(parentIdCol, "parent").as("__p"),
        col(roleCol).cast("string").as("__role"),
        col(textCol).cast("string").as("__text")))
    val parents = m.filter(col("__p").isNotNull)
      .select(col("__p").as("__id")).distinct()
    val leaves = m.select(col("__id"))
      .join(parents, Seq("__id"), "left_anti")
    // pointer-jumping state, one row per node: `__jump` = the nearest
    // ancestor whose path is not yet spliced in (null once the path
    // reaches a root), `__path` = the contiguous ancestor chain from
    // __jump's child down to the node itself, `__dead` = the chain hit
    // a dangling parent id (no such node — unreachable forever)
    val init = Iterate.checkpoint(m.select(col("__id"),
      col("__p").as("__jump"), array(col("__id")).as("__path"),
      lit(false).as("__dead")))
    // every node within maxDepth levels of a root settles within
    // ceil(log2(maxDepth-1))+1 doublings (depth d needs
    // ceil(log2(d-1))+1); deeper-but-settled paths are flagged by
    // length below, exactly like nodes level-BFS never reached
    val roundCap = if (maxDepth == 1) 0
      else 64 - java.lang.Long.numberOfLeadingZeros(maxDepth - 2L) + 1
    // done once no node still has a path to splice
    val settled = Iterate.noRow(!col("__dead") && col("__jump").isNotNull)
    val state =
      if (Iterate.holds(init, settled)) init
      else Iterate.fixpoint(init, roundCap, Some(settled)) { (state, _) =>
        val done = state.filter(col("__dead") || col("__jump").isNull)
        val contracted = state
          .filter(!col("__dead") && col("__jump").isNotNull)
          .join(state.select(col("__id").as("__jump"),
              col("__jump").as("__jump2"), col("__path").as("__path2")),
            Seq("__jump"), "left")
          .select(col("__id"),
            when(col("__path2").isNull, col("__jump"))
              .otherwise(col("__jump2")).as("__jump"),
            coalesce(concat(col("__path2"), col("__path")), col("__path"))
              .as("__path"),
            col("__path2").isNull.as("__dead"))
        done.unionAll(contracted)
      }.frame
    val placedRows = state.filter(!col("__dead") && col("__jump").isNull &&
      size(col("__path")) <= maxDepth)
    val placed = placedRows.select(col("__id"))
    val acc = placedRows.select(col("__id"), col("__path"))
      .join(leaves, Seq("__id"), "left_semi")
    val out = acc
      .select(col("__id").as("path_id"),
        size(col("__path")).cast("long").as("n_turns"),
        posexplode(col("__path")).as(Seq("__pos", "msg_id")))
      .select(col("path_id"), col("n_turns"),
        (col("__pos") + 1).cast("long").as("turn"), col("msg_id"))
      .join(m.select(col("__id").as("msg_id"), col("__role").as("role"),
        col("__text").as("text")), Seq("msg_id"))
      .select(col("path_id"), col("n_turns"), col("turn"), col("msg_id"),
        col("role"), col("text"))
    val sch = out.schema
    val boom = raise_error(concat(
      lit("dialogPaths: message "), col("__id").cast("string"),
      lit(s" is unreachable from any root within $maxDepth levels — " +
        "orphaned parent, cycle, or a deeper tree; repair the tree " +
        "or raise maxDepth deliberately")))
    // The raise projection must sit over a CHECKPOINTED anti-join:
    // left lazy, a downstream pushable predicate on any output column
    // (e.g. a consumer join's isnotnull on its keys) substitutes to
    // isnotnull(raise_error(...)) and Catalyst pushes it BELOW the
    // anti-join onto all of m — firing the unreachable raise for every
    // message in a perfectly well-formed tree the moment the output is
    // self-joined or band-joined (the conversation-dedup chain found
    // this). Checkpointing materializes the (normally empty) offender
    // id set here — one id-only job in an already-eager operator — and
    // a LogicalRDD leaf is a pushdown barrier.
    val offenders = graft.operators.Iterate.checkpoint(
        m.select(col("__id")).join(placed, Seq("__id"), "left_anti"))
      .select(sch.map(f => boom.cast(f.dataType).as(f.name)): _*)
    out.unionAll(offenders)
  }

  /** Sibling-reply preference extraction — the other half of the
    * OpenAssistant recipe next to [[dialogPaths]]: when several
    * candidate replies answer the SAME parent message and each
    * carries a quality score (rank labels, ratings, a reward model),
    * every scored sibling set yields preference pairs — the
    * best-scored child (ties to the LOWER id, deterministic) as
    * `chosen`, each other sibling as one `rejected` row. This is how
    * tree-shaped human feedback becomes DPO training pairs with the
    * PROMPT CONTEXT shared by construction (both replies answer the
    * identical parent — join `parent_id` back onto [[dialogPaths]]'
    * relation to render the shared context).
    *
    * Tied siblings carry no preference signal but are never silently
    * dropped: they emit with `tie = true` and margin 0 (the
    * [[graft.operators.Preferences.dpoPairs]] observability stance —
    * the trainer filters, the curator counts). Single-child parents
    * have no contrast and emit nothing. Null parent (roots), id, or
    * score rows are unjudged — excluded.
    *
    * Scale shape: ONE parent-keyed struct-min hash aggregation (the
    * canonicalByScore argmax — no window, no sort) + one keyed join
    * back; the one negation-unsafe long (Long.MinValue) trips an
    * in-plan raise. Returns `(parent_id, chosen_id,
    * chosen_score_micros, rejected_id, rejected_score_micros,
    * margin_micros, tie)` — one row per non-chosen sibling. */
  def siblingPreferences(msgs: DataFrame, msgIdCol: String,
      parentIdCol: String, scoreMicrosCol: String): DataFrame = {
    val base = msgs.filter(col(parentIdCol).isNotNull &&
        col(msgIdCol).isNotNull && col(scoreMicrosCol).isNotNull)
      .select(col(parentIdCol).cast("long").as("parent_id"),
        col(msgIdCol).cast("long").as("__id"),
        col(scoreMicrosCol).cast("long").as("__s"))
    val guarded = when(col("__s") === lit(Long.MinValue),
      raise_error(lit("siblingPreferences: score_micros is " +
        "Long.MinValue — its negation overflows the struct-min " +
        "argmax ordering; rescale upstream")).cast("long"))
      .otherwise(col("__s"))
    val best = base
      .groupBy(col("parent_id"))
      .agg(min(struct((-guarded).as("__ns"), col("__id").as("__cid")))
        .as("__b"))
      .select(col("parent_id"), col("__b.__cid").as("chosen_id"),
        (-col("__b.__ns")).as("chosen_score_micros"))
    base.join(best, Seq("parent_id"))
      .filter(col("__id") =!= col("chosen_id"))
      .select(col("parent_id"), col("chosen_id"),
        col("chosen_score_micros"),
        col("__id").as("rejected_id"),
        col("__s").as("rejected_score_micros"),
        (col("chosen_score_micros") - col("__s")).as("margin_micros"),
        (col("chosen_score_micros") === col("__s")).as("tie"))
  }

  /** Tool-call trace validation — the agentic-SFT QA gate next to
    * [[dialogAudit]]: agentic corpora are conversations whose
    * assistant turns carry tool_call JSON
    * (`{"name": ..., "arguments": {...}}`), and a call that names an
    * undeclared tool, omits a required argument, or passes the wrong
    * JSON type poisons tool-use training silently. Each call is
    * audited against a DECLARED tool-schema RELATION
    * (`(tool, arg, arg_type, required)` — one row per declared
    * argument; `arg_type` ∈ string/number/boolean/object/array) and
    * emits one verdict row — the [[graft.operators.Profile]]
    * expectation-suite stance: per-call evidence columns, never a
    * silent drop.
    *
    * Verdicts, by precedence of evidence: `malformed_json` (the JSON
    * does not parse, has no name, or carries a non-object
    * `arguments`) — malformed calls get no argument verdicts;
    * `unknown_tool` (parses fine, names no declared tool) — its
    * arguments are reported in `n_args` but not judged against a
    * schema that doesn't exist; otherwise the three argument checks:
    * missing REQUIRED args, provided args whose observed JSON class
    * mismatches the declared type (a JSON `null` value is class
    * 'null' and mismatches every declared type — provided-but-null is
    * not provided), and EXTRA args the schema never declared.
    * Numbers are one class (BIGINT/DOUBLE/DECIMAL all read 'number' —
    * JSON has one number type); nested objects/arrays are opaque
    * classes (validate nested shapes with a per-arg schema relation
    * at the nested grain). `ok` = parsed, known, zero
    * missing/mismatch/extra.
    *
    * Scale shape: ONE map-only variant parse
    * (`try_parse_json`/`variant_get` — codegen, no UDF), one explode
    * to the argument grain, broadcast joins against the
    * dimension-sized schema relation, ONE call-keyed hash aggregation
    * back. In-plan raises on a declared `arg_type` outside the JSON
    * class set and on duplicate `(tool, arg)` declarations (either
    * would silently mis-judge every call of that tool). Null-id calls
    * are unauditable — excluded; count them upstream. Returns
    * `(<idCol>, tool, malformed_json, unknown_tool, n_args,
    * n_missing_required, missing_args, n_type_mismatch,
    * mismatch_args, n_extra_args, extra_args, ok)` — the `*_args`
    * lists sorted and '|'-joined (the driver-compare list
    * convention). */
  def toolCallAudit(calls: DataFrame, idCol: String, jsonCol: String,
      toolSchema: DataFrame, toolCol: String = "tool",
      argCol: String = "arg", typeCol: String = "arg_type",
      requiredCol: String = "required"): DataFrame = {
    val allowed = Seq("string", "number", "boolean", "object", "array")
    val decl = toolSchema.select(col(toolCol).cast("string").as("__tool"),
      col(argCol).cast("string").as("__darg"),
      lower(col(typeCol).cast("string")).as("__ty"),
      col(requiredCol).cast("boolean").as("__req"))
    val tools = decl.select(col("__tool")).distinct()
      .withColumn("__known", lit(true))
    val reqArr = decl.filter(col("__req"))
      .groupBy(col("__tool"))
      .agg(array_sort(collect_list(col("__darg"))).as("__reqargs"))
    val base = calls.filter(col(idCol).isNotNull)
      .select(col(idCol), col(jsonCol))
      .withColumn("__v", try_parse_json(col(jsonCol)))
      .withColumn("__name", expr("try_variant_get(__v, '$.name', 'string')"))
      .withColumn("__argsch",
        expr("schema_of_variant(variant_get(__v, '$.arguments'))"))
      .withColumn("__m",
        expr("try_variant_get(__v, '$.arguments', 'map<string, variant>')"))
      .withColumn("__bad", col("__v").isNull || col("__name").isNull ||
        (col("__argsch").isNotNull && col("__argsch") =!= "VOID" &&
          !col("__argsch").startsWith("OBJECT")))
      .join(broadcast(tools), col("__name") === col("__tool"), "left")
      .drop("__tool")
    val cls = {
      val vt = call_function("schema_of_variant", col("__val"))
      when(col("__val").isNull, lit(null).cast("string"))
        .when(vt === "STRING", "string")
        .when(vt === "BOOLEAN", "boolean")
        .when(vt === "VOID", "null")
        .when(vt.startsWith("OBJECT"), "object")
        .when(vt.startsWith("ARRAY"), "array")
        .otherwise("number") // BIGINT / DOUBLE / DECIMAL(p,s) / FLOAT
    }
    val judged = base
      .select(col(idCol), col("__name"), col("__bad"), col("__known"),
        explode_outer(when(!col("__bad"), col("__m"))).as(Seq("__arg", "__val")))
      .withColumn("__cls", cls)
      .join(broadcast(decl.select(col("__tool"), col("__darg"), col("__ty"))),
        col("__name") === col("__tool") && col("__arg") === col("__darg"),
        "left")
      .withColumn("__mismatch", !col("__bad") &&
        coalesce(col("__known"), lit(false)) && col("__ty").isNotNull &&
        !(col("__cls") <=> col("__ty")))
      .withColumn("__extra", !col("__bad") &&
        coalesce(col("__known"), lit(false)) && col("__arg").isNotNull &&
        col("__ty").isNull)
    val out = judged
      .join(broadcast(reqArr), col("__name") === reqArr("__tool"), "left")
      .groupBy(col(idCol))
      .agg(max(col("__name")).as("tool"),
        max(col("__bad")).as("malformed_json"),
        (!max(col("__bad")) && !coalesce(max(col("__known")), lit(false)))
          .as("unknown_tool"),
        sum(when(col("__arg").isNotNull, 1L).otherwise(0L)).as("n_args"),
        coalesce(array_sort(array_except(max(when(!col("__bad"),
          col("__reqargs"))), collect_list(col("__arg")))),
          array().cast("array<string>")).as("__missing"),
        sum(when(col("__mismatch"), 1L).otherwise(0L))
          .as("n_type_mismatch"),
        array_sort(collect_list(when(col("__mismatch"), col("__arg"))))
          .as("__mm"),
        sum(when(col("__extra"), 1L).otherwise(0L)).as("n_extra_args"),
        array_sort(collect_list(when(col("__extra"), col("__arg"))))
          .as("__ex"))
      .select(col(idCol), col("tool"), col("malformed_json"),
        col("unknown_tool"),
        col("n_args"),
        size(col("__missing")).cast("long").as("n_missing_required"),
        array_join(col("__missing"), "|").as("missing_args"),
        col("n_type_mismatch"),
        array_join(col("__mm"), "|").as("mismatch_args"),
        col("n_extra_args"),
        array_join(col("__ex"), "|").as("extra_args"),
        (!col("malformed_json") && !col("unknown_tool")).as("__judged"))
      .withColumn("ok", col("__judged") && col("n_missing_required") === 0L &&
        col("n_type_mismatch") === 0L && col("n_extra_args") === 0L)
      .drop("__judged")
    // schema-relation contract guards: every output column carries them
    val sch = out.schema
    def boomRows(df: DataFrame, msg: Column): DataFrame =
      df.select(sch.map(f => raise_error(msg).cast(f.dataType).as(f.name)): _*)
    val alienType = boomRows(decl.filter(!col("__ty").isin(allowed: _*)),
      concat(lit("toolCallAudit: declared arg_type '"), col("__ty"),
        lit("' for "), col("__tool"), lit("."), col("__darg"),
        lit(s" is outside {${allowed.mkString(", ")}} — it would match " +
          "no observed JSON class and flag every call; fix the schema " +
          "relation")))
    val dupDecl = boomRows(decl.groupBy(col("__tool"), col("__darg"))
        .agg(count(lit(1)).as("__nd")).filter(col("__nd") > 1),
      concat(lit("toolCallAudit: "), col("__tool"), lit("."),
        col("__darg"), lit(" is declared "), col("__nd").cast("string"),
        lit(" times — duplicate declarations fan out every call's " +
          "argument join; de-dup the schema relation")))
    out.unionAll(alienType).unionAll(dupDecl)
  }

  /** Per-tool call-quality roll-up — the operational monitor over
    * [[toolCallAudit]]'s verdict relation: an agentic-data pipeline
    * watches WHICH tool's calls are degrading (a model that suddenly
    * hallucinates arguments for one tool, a schema change that turns
    * yesterday's valid calls into mismatches), so the verdicts roll
    * up per tool into the counter set + ok-rate a dashboard alarms
    * on. Calls whose tool name never parsed group under
    * `'<unparsed>'` — failures must stay visible, not vanish into a
    * null group. One hash aggregation at the tools grain.
    *
    * The counting aggregation and the rate derivation are split
    * ([[toolCallRatesFromCounts]]) so the streaming twin
    * ([[graft.streaming.EventStreams.toolVerdictCounts]] — live
    * verdict counters) feeds the IDENTICAL arithmetic. Returns one
    * row per tool label: `(tool, n_calls, n_malformed, n_unknown,
    * n_bad_args, n_ok, ok_ppm)` — n_bad_args = parsed, known, but
    * failing an argument check; ok_ppm in half-up ppm. */
  def toolCallRates(verdicts: DataFrame): DataFrame =
    toolCallRatesFromCounts(verdicts
      .groupBy(coalesce(col("tool"), lit("<unparsed>")).as("tool"))
      .agg(count(lit(1)).as("n_calls"),
        sum(when(col("malformed_json"), 1L).otherwise(0L))
          .as("n_malformed"),
        sum(when(col("unknown_tool"), 1L).otherwise(0L)).as("n_unknown"),
        sum(when(!col("malformed_json") && !col("unknown_tool") &&
          !col("ok"), 1L).otherwise(0L)).as("n_bad_args"),
        sum(when(col("ok"), 1L).otherwise(0L)).as("n_ok")))

  /** [[toolCallRates]]' derivation tail over a `(tool, n_calls,
    * n_malformed, n_unknown, n_bad_args, n_ok)` counter relation —
    * split out so the streamed monotone counters derive the identical
    * monitor relation bit-for-bit. */
  def toolCallRatesFromCounts(counts: DataFrame): DataFrame =
    counts.select(col("tool"), col("n_calls"), col("n_malformed"),
      col("n_unknown"), col("n_bad_args"), col("n_ok"),
      expr("CAST((2 * n_ok * 1000000 + n_calls) div (2 * n_calls) " +
        "AS BIGINT)").as("ok_ppm"))

  /** SFT pair extraction — the step that turns audited conversations
    * into supervised training examples: every ASSISTANT turn emits one
    * `(context, response)` pair, the context being all PRIOR turns
    * rendered `role: text` and newline-joined in event-time order
    * (explicit integral tiebreak). This is the [[dialogAudit]] →
    * training-data handoff, and it is STRICT where the audit is
    * permissive: an unplaceable (null-timestamp) turn cannot be ordered
    * into anyone's context, so it fails the job with an in-plan raise —
    * run [[dialogAudit]] first and gate on `well_formed` (the
    * triage-then-strict discipline the media stack uses). Null-role or
    * null-text turns render as empty strings inside the context (the
    * pair is the caller's audit problem, not this operator's silent
    * edit). ONE window pass partitioned by conversation: the context is
    * a bounded running collect over the conversation's own turns —
    * conversations are bounded by contract, the corpus is never
    * globally sorted. Returns `(<convCol>, <idCol>, n_context_turns,
    * context, response)` — first-turn assistant responses carry an
    * empty context. */
  def sftPairs(df: DataFrame, convCol: String, tsCol: String,
      idCol: String, roleCol: String, textCol: String,
      assistantRole: String = "assistant"): DataFrame = {
    val w = Window.partitionBy(col(convCol))
      .orderBy(col(tsCol), col(idCol))
    val rendered = df
      .select(col(convCol),
        when(col(tsCol).isNotNull, col(tsCol)).otherwise(raise_error(
          concat(lit("sftPairs: null-timestamp turn in conversation "),
            col(convCol).cast("string"),
            lit(" — unplaceable turns cannot be ordered into a " +
              "context; run dialogAudit and gate on well_formed first"))))
          .as(tsCol),
        col(idCol), col(roleCol).cast("string").as("__r"),
        col(textCol).cast("string").as("__t"))
      .withColumn("__line", concat(coalesce(col("__r"), lit("")),
        lit(": "), coalesce(col("__t"), lit(""))))
    rendered
      .withColumn("__ctx", collect_list(col("__line"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .filter(col("__r") === assistantRole)
      .select(col(convCol), col(idCol),
        size(col("__ctx")).cast("long").as("n_context_turns"),
        array_join(col("__ctx"), "\n").as("context"),
        coalesce(col("__t"), lit("")).as("response"))
  }

  /** Chat-template rendering — the other half of the [[sftPairs]]
    * handoff: one TRAINING STRING per conversation (what the tokenizer
    * actually consumes), every turn wrapped
    * `<|im_start|>role\ntext<|im_end|>` in event-time order (explicit
    * integral tiebreak) — the ChatML shape; swap the sentinels for
    * your tokenizer's specials. Same STRICT stance as sftPairs: a
    * null-timestamp turn cannot be ordered and fails the job in-plan
    * (dialogAudit first); null role/text render empty rather than
    * silently dropping the turn. One conversation-partitioned
    * aggregation — never a corpus sort. Returns `(<convCol>, n_turns,
    * rendered)`. */
  def renderChatTemplate(df: DataFrame, convCol: String, tsCol: String,
      idCol: String, roleCol: String, textCol: String,
      startTok: String = "<|im_start|>", endTok: String = "<|im_end|>")
      : DataFrame = {
    val guardedTs = when(col(tsCol).isNotNull, col(tsCol))
      .otherwise(raise_error(concat(
        lit("renderChatTemplate: null-timestamp turn in conversation "),
        col(convCol).cast("string"),
        lit(" — unplaceable turns cannot be ordered; run dialogAudit " +
          "and gate on well_formed first"))))
    df.select(col(convCol), guardedTs.as("__ts"), col(idCol).as("__id"),
        concat(lit(startTok),
          coalesce(col(roleCol).cast("string"), lit("")), lit("\n"),
          coalesce(col(textCol).cast("string"), lit("")), lit(endTok))
          .as("__turn"))
      .groupBy(col(convCol))
      .agg(count(lit(1)).as("n_turns"),
        array_join(transform(
          array_sort(collect_list(struct(col("__ts"), col("__id"),
            col("__turn")))),
          s => s.getField("__turn")), "\n").as("rendered"))
  }

  /** RFM segmentation (recency / frequency / monetary — the classic
    * customer-value grid): per user over the purchase stream, the
    * latest-purchase micros, the purchase count, and the exact DECIMAL
    * spend, each scored 1..`bins` by EQUI-DEPTH cuts
    * ([[Features.equiDepthBins]] — broadcast percentile cuts + a
    * map-only compare, never a corpus-wide ntile window), composed into
    * the `r·100 + f·10 + m` segment code. Users with no purchases are
    * absent — RFM is defined over buyers. Returns
    * `(<userCol>, r_score, f_score, m_score, segment)`. */
  def rfmSegments(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, valueCol: String, purchaseType: String,
      bins: Int = 5): DataFrame = {
    require(bins >= 2, s"need bins >= 2, got $bins")
    val per = events
      .where(col(typeCol) === purchaseType && col(userCol).isNotNull)
      .groupBy(col(userCol))
      .agg(max(unix_micros(col(tsCol))).as("recency_us"),
        count(lit(1)).as("frequency"),
        sum(col(valueCol).cast("decimal(18,2)")).cast("double")
          .as("monetary"))
    val binned = Seq("recency_us", "frequency", "monetary")
      .foldLeft(per)((df, c) => Features.equiDepthBins(df, c, bins))
    binned.select(col(userCol),
      (col("recency_us_bin") + 1).as("r_score"),
      (col("frequency_bin") + 1).as("f_score"),
      (col("monetary_bin") + 1).as("m_score"))
      .withColumn("segment",
        col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
  }

  /** Top user paths — the Sankey/flow report next to
    * [[markovTransitions]]: each user's first `pathLen` events (ts
    * order, integral tiebreak) join into a `a>b>c` path string; the
    * most common paths return with counts, top-k by (count desc, path
    * asc).
    *
    * Shape: the per-user prefix is a user-partitioned rank filtered to
    * `rn ≤ pathLen` BEFORE any collection, so per-user state downstream
    * is ≤ pathLen rows however hot the user (a bot with millions of
    * events contributes the same 5-row prefix); the path fold is one
    * user-keyed aggregate over those prefixes; the global top-k
    * compiles to TakeOrderedAndProject (each partition keeps k rows —
    * never a full sort). Returns `(path, n)`. */
  def topPaths(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, tieCol: String, pathLen: Int, k: Int): DataFrame = {
    require(pathLen >= 1 && k >= 1, s"need pathLen/k >= 1, got $pathLen/$k")
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(tieCol))
    events.select(col(userCol), col(typeCol).as("et"), col(tsCol), col(tieCol))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= pathLen)
      .groupBy(col(userCol))
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("rn"), col("et")))),
        x => x.getField("et")), ">").as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path")).limit(k)
  }

  /** First-order Markov transition matrix over per-user event paths —
    * the path-analysis primitive (next-step prediction, funnel
    * discovery, session flow charts): for each consecutive in-user pair
    * `(e_i → e_{i+1})` count transitions and emit the row-conditional
    * probability P(to | from) in exact micros.
    *
    * Shape: ONE window pass partitioned by user (ordered by ts with an
    * explicit integral tiebreak — never rely on physical row order),
    * then a hash aggregate to the |types|² transition relation; the
    * row-total window runs over THAT aggregated relation (≤ |types|²
    * rows — bounded however large the corpus). Probability is
    * round-half-up((n·1e6)/row_total) as pure long arithmetic
    * ((2a+b) div (2b) — the pplCore discipline), so the oracle replays
    * every cell. Returns `(from_type, to_type, n, p_micros)`. */
  def markovTransitions(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(tieCol))
    val pairs = events
      .select(col(userCol), col(typeCol).as("from_type"), col(tsCol),
        col(tieCol))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .where(col("to_type").isNotNull)
    pairs.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("row_total",
        sum(col("n")).over(Window.partitionBy(col("from_type"))))
      .select(col("from_type"), col("to_type"), col("n"),
        expr("(2 * n * 1000000 + row_total) div (2 * row_total)")
          .as("p_micros"))
  }
}
