package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.CacheRegistry.TrackedPersist

/** Ordered funnel analysis over the `events` table: how many users
  * completed step 1, then step 2 strictly after their first step 1,
  * then step 3 strictly after that — the classic product-analytics
  * query (and a conversion-labeling step for behavioral training
  * data).
  *
  * Shape chosen for scale: each stage is a filtered per-user MIN
  * aggregate joined to the previous stage on user_id — no window over
  * the full event stream, no per-user event arrays. Every shuffle is
  * keyed on user_id with map-side partial MINs, so a user's funnel
  * state is one row regardless of how many events they have; stage
  * DataFrames shrink monotonically. Timestamps compare as raw `ts`
  * values (exact for both the long-nanos and timestamp encodings);
  * second/day/week arithmetic goes through [[graft.Tables.epochSec]]
  * so the operators are agnostic to the testdata's physical ts type.
  */
object EventFunnel {

  def funnel(events: DataFrame,
      steps: Seq[String] = Seq("view", "click", "purchase")): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    def stepCount(stage: DataFrame, label: String): DataFrame =
      stage.agg(count(lit(1)).as("n_users"))
        .select(lit(label).as("step"), col("n_users"))
    import graft.operators.CacheRegistry.TrackedPersist
    // stage 1: first occurrence of the entry event per user. Every
    // stage is |users|-sized and feeds BOTH its step count and the
    // next stage's join — persisted, or each later stage re-evaluates
    // every earlier one (the q194 shared-subtree rule; unpersisted,
    // the 3-step funnel scanned events 5x)
    var stage = events.where(col("event_type") === steps.head)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t"))
      .trackedPersist()
    var out = Seq(stepCount(stage, s"step1_${steps.head}"))
    // stage k: first occurrence strictly after the user's stage-(k-1)
    for ((s, i) <- steps.zipWithIndex.drop(1)) {
      val prev = stage.select(col("user_id").as("pu"), col("t").as("pt"))
      stage = events.where(col("event_type") === s)
        .join(prev, col("user_id") === col("pu") && col("ts") > col("pt"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t"))
        .trackedPersist()
      out = out :+ stepCount(stage, s"step${i + 1}_$s")
    }
    out.reduce(_.unionByName(_)).orderBy("step")
  }

  /** First-order Markov transition matrix over per-user event
    * sequences: for each ordered pair of consecutive events (by ts,
    * event_id ties) within a user's stream, count (from_type → to_type)
    * and the conditional probability P(to | from). The behavioral
    * counterpart of bigram statistics — used for next-action modeling
    * and for spotting broken product flows.
    *
    * Scale shape: one window (`lead`) over events shuffled by user_id —
    * the same single-shuffle layout as sessionize (q22) — then a hash
    * aggregate whose key space is |event_types|², a constant. The
    * probability is one double division of exact longs (the window SUM
    * over the 25-cell count table is exact), so the matrix is
    * bit-identical at any parallelism.
    */
  def transitions(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val counts = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .where(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val fromW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("from_type"))
    counts
      .select(col("from_type"), col("to_type"), col("n"),
        (col("n").cast("double") / sum(col("n")).over(fromW)).as("p"))
      .orderBy("from_type", "to_type")
  }

  /** Volume-anomaly days: for each event type, the days whose event
    * count exceeds 1.15× that type's average daily count — the ops
    * alarm a pipeline fires before a traffic spike poisons
    * behavioral training data. The threshold predicate is EXACT
    * integer arithmetic (`n · n_days · 100 > 115 · total`) so the
    * flagged set is bit-stable across engines; the reported average is
    * the only float, produced by a single division.
    *
    * Scale shape: ONE (type, day) hash agg over the stream (map-side
    * partials), then the per-type rollup as a window over that tiny
    * aggregate — a separate `groupBy` + join-back would scan the event
    * stream twice (Catalyst does not dedup shared subtrees), which is
    * the difference that matters at 100 TB.
    */
  def dailyAnomalies(events: DataFrame, pctThreshold: Int = 115): DataFrame = {
    val daily = events
      .select(col("event_type"), graft.Tables.epochSec(events).as("sec"))
      .select(col("event_type"), expr("sec DIV 86400").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
    daily
      .withColumn("total", sum(col("n")).over(w))
      .withColumn("n_days", count(lit(1)).over(w))
      .where(col("n") * col("n_days") * 100 >
        lit(pctThreshold.toLong) * col("total"))
      .select(col("event_type"), col("day"), col("n"),
        (col("total").cast("double") / col("n_days")).as("avg_daily"))
      .orderBy("event_type", "day")
  }

  /** Per-session feature extraction: the row-per-session table a
    * behavioral model trains on — session id from the classic
    * gap-threshold window (new session when > `gapSec` since the
    * previous event), then per-session event count, duration, and
    * exact-cents value sum. Complements q22 (which reduces to
    * per-user session COUNTS); this emits the sessions themselves.
    *
    * Scale shape: one shuffle by user_id feeding both windows (lag +
    * running sum share the same ordering, so Spark plans ONE sort),
    * then a hash agg keyed on (user, session). Money sums are
    * cents-longs (order-insensitive, overflow-bounded by session
    * length).
    */
  def sessionFeatures(events: DataFrame, gapSec: Long = 1800L): DataFrame = {
    import graft.queries.Q
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
    val cum = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    events
      .select(col("user_id"), col("event_id"),
        graft.Tables.epochSec(events).as("sec"), col("value"))
      .withColumn("prev", lag(col("sec"), 1).over(w))
      .withColumn("new_s",
        when(col("prev").isNull || col("sec") - col("prev") > gapSec, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_s")).over(cum))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        (max(col("sec")) - min(col("sec"))).as("duration_sec"),
        (sum(Q.cents(col("value"))).cast("double") / 100).as("value_sum"))
      .orderBy("user_id", "session_id")
  }

  /** Cohort retention: users grouped by their first-activity epoch week,
    * counted again in each later week — the standard retention triangle
    * (and a freshness/engagement signal when curating behavioral
    * training data). Weeks are absolute epoch weeks (`sec DIV 604800`),
    * so no global-min aggregate gates the plan; the flow is one
    * distinct (user, week) projection, a per-user MIN, and one hash
    * aggregate on (cohort, offset) — every shuffle keyed on user_id or
    * the tiny (cohort, offset) pair.
    */
  def retention(events: DataFrame, maxOffset: Int = 3): DataFrame = {
    val uw = events
      .select(col("user_id"), graft.Tables.epochSec(events).as("sec"))
      .select(col("user_id"), expr("sec DIV 604800").as("wk"))
      .distinct()
    val cohort = uw.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_week"))
    uw.join(cohort, "user_id")
      .withColumn("offset", col("wk") - col("cohort_week"))
      .where(col("offset").between(0, maxOffset))
      .groupBy(col("cohort_week"), col("offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .orderBy("cohort_week", "offset")
  }

  /** DAU/WAU stickiness census: per absolute epoch week, the weekly
    * active user count, the summed daily-active counts over its days,
    * and the stickiness ratio `Σ_day DAU · 10⁶ DIV (7 · WAU)` — the
    * engagement ratio (avg DAU / WAU) growth analytics tracks, in
    * exact ppm (a user active all 7 days contributes 7/7; one-day
    * drive-by traffic pulls the ratio toward 10⁶/7).
    *
    * Scale shape: ONE corpus-sized operation and ONE scan — the
    * distinct (user, day) projection, whose map-side partial distinct
    * collapses each user's within-day events before the shuffle; all
    * three weekly measures (sum-DAU = the row count, WAU and active
    * days = two distinct-aggregates) come off that single collapsed
    * frame in one grouped aggregate (planned as an Expand ×2 over the
    * ALREADY-collapsed rows — a branching daily/weekly formulation
    * instead re-scans and re-distincts the corpus once per branch,
    * which is what this shape avoids). Event-time arithmetic goes
    * through [[graft.Tables.epochSec]].
    */
  def stickiness(events: DataFrame): DataFrame =
    events
      .select(col("user_id"), graft.Tables.epochSec(events).as("sec"))
      .select(col("user_id"), expr("sec DIV 86400").as("day"))
      .distinct()
      .select(col("user_id"), col("day"), expr("day DIV 7").as("wk"))
      .groupBy(col("wk"))
      .agg(countDistinct(col("day")).as("n_days_active"),
        count(lit(1)).as("sum_dau"),
        countDistinct(col("user_id")).as("wau"))
      .select(col("wk"), col("n_days_active"), col("sum_dau"), col("wau"),
        expr("sum_dau * 1000000 DIV (7 * wau)").as("stickiness_ppm"))
      .orderBy("wk")

  /** Weekly growth accounting: the new / retained / resurrected /
    * churned user-flow decomposition (the standard growth-team ledger;
    * [[retention]] is the cohort triangle, this is the week-over-week
    * flow). Per active epoch week: WAU, users active for the first
    * time (`n_new`), users also active the immediately preceding
    * calendar week (`n_retained`), users returning after a gap
    * (`n_resurrected`), and `n_churned` = previous ACTIVE week's WAU
    * minus this week's retained — i.e. attributed to the next active
    * week when fully-inactive calendar weeks intervene, since an
    * all-quiet week emits no row (documented caveat; 0 for the first
    * week).
    *
    * Scale shape: the distinct (user, week) projection is the only
    * corpus-sized op (map-side partial distinct); the per-user lag
    * window shuffles that already-collapsed frame by user_id; the
    * weekly rollup and the single-partition churn lag run on |weeks|
    * rows.
    */
  def growthAccounting(events: DataFrame): DataFrame = {
    val uw = events
      .select(col("user_id"), graft.Tables.epochSec(events).as("sec"))
      .select(col("user_id"), expr("sec DIV 604800").as("wk"))
      .distinct()
    val perUser = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("wk"))
    val weekly = uw
      .withColumn("prev", lag(col("wk"), 1).over(perUser))
      .groupBy(col("wk"))
      .agg(count(lit(1)).as("wau"),
        sum(when(col("prev").isNull, 1L).otherwise(0L)).as("n_new"),
        sum(when(col("prev") === col("wk") - 1, 1L).otherwise(0L))
          .as("n_retained"),
        sum(when(col("prev").isNotNull && col("prev") < col("wk") - 1, 1L)
          .otherwise(0L)).as("n_resurrected"))
    val byWk = org.apache.spark.sql.expressions.Window.orderBy(col("wk"))
    weekly
      .withColumn("n_churned",
        coalesce(lag(col("wau"), 1).over(byWk), lit(0L)) - col("n_retained"))
      .orderBy("wk")
  }

  /** Top-K within-session event-type paths (trigrams): the most common
    * three-step behavioral sequences users take inside one session —
    * the path-mining census behind "what do users do right before
    * purchase" questions and next-action training labels. Sessions are
    * the classic gap-threshold cut (> `gapSec` since the previous
    * event starts a new session, the q22/q75 convention); a trigram
    * counts only when all three events share a session.
    *
    * Scale shape: ONE shuffle — session assignment (lag + running
    * sum) and the two trigram leads are window functions over the SAME
    * (user_id)-partitioned (sec, event_id) ordering, so Catalyst
    * plans one Exchange + one sort feeding two stacked Window
    * operators (the second consumes the first's session_id but needs
    * no re-sort; zero Exchange on a user_id-bucketed table). The
    * within-session constraint is `lead(session_id, 1|2) ==
    * session_id` on that same window — NOT a second window
    * partitioned by (user, session), which would re-shuffle. The
    * trigram rollup's key space is |event_types|³, a constant; top-K
    * is a total order (n DESC, then the three steps ASC), so the cut
    * is deterministic on any engine at any parallelism.
    */
  def sessionPaths(events: DataFrame, gapSec: Long = 1800L,
      topK: Int = 20): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
    val cum = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    events
      .select(col("user_id"), col("event_id"),
        graft.Tables.epochSec(events).as("sec"), col("event_type"))
      .withColumn("prev", lag(col("sec"), 1).over(w))
      .withColumn("new_s",
        when(col("prev").isNull || col("sec") - col("prev") > gapSec, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_s")).over(cum))
      .withColumn("t2", lead(col("event_type"), 1).over(w))
      .withColumn("t3", lead(col("event_type"), 2).over(w))
      .withColumn("s2", lead(col("session_id"), 1).over(w))
      .withColumn("s3", lead(col("session_id"), 2).over(w))
      .where(col("s2") === col("session_id") &&
        col("s3") === col("session_id"))
      .groupBy(col("event_type").as("step1"), col("t2").as("step2"),
        col("t3").as("step3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("step1"), col("step2"), col("step3"))
      .limit(topK)
  }

  /** Per-origin transition concentration: for each from-type, how
    * predictable the next event is — outgoing volume, distinct next
    * types, the modal next type with its exact-ppm share, and the
    * Simpson concentration index Σnᵢ²/n² (the collision probability
    * of two random next-events; 10⁶ ppm = fully deterministic flows,
    * 10⁶/|types| = uniform). Simpson is used INSTEAD of Shannon
    * entropy deliberately: entropy needs a multi-term float sum whose
    * result depends on addition order (not reproducible bit-for-bit
    * across engines or partitionings), while Σnᵢ² is EXACT integer
    * arithmetic all the way down to one final double division — the
    * same determinism-first choice as the ppm ledgers elsewhere.
    *
    * Scale shape: the q67 single-window transition count (one user_id
    * shuffle, |event_types|²-row result), then a rollup of that tiny
    * matrix. The modal next type is `min(struct(-n, to_type))` —
    * argmax-with-smallest-tiebreak in one aggregate, no join-back.
    * Overflow: Σnᵢ² stays in int64 while each cell count nᵢ < 3·10⁹;
    * corpora past that per-(from,to)-cell volume would lift the two
    * quadratic columns to DECIMAL(38,0) (nothing else changes).
    */
  def transitionConcentration(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
    events
      .select(col("user_id"), col("event_id"),
        graft.Tables.epochSec(events).as("sec"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .where(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("from_type"))
      .agg(sum(col("n")).as("n_out"),
        count(lit(1)).as("n_next_types"),
        min(struct((-col("n")).as("neg"), col("to_type").as("t"))).as("top"),
        sum(col("n") * col("n")).as("sum_sq"))
      .select(col("from_type"), col("n_out"), col("n_next_types"),
        col("top.t").as("top_to_type"),
        expr("(-top.neg) * 1000000 DIV n_out").as("top_share_ppm"),
        (col("sum_sq").cast("double") /
          (col("n_out").cast("double") * col("n_out").cast("double")))
          .as("simpson"))
      .orderBy("from_type")
  }

  /** First-touch acquisition attribution: users grouped by the type of
    * their FIRST event ever (ts, event_id tiebreak — the acquisition
    * channel proxy), with conversion to `convEvent` reported per
    * group: user count, converted-user count, total conversions, and
    * exact-ppm conversion / conversions-per-user rates. The
    * attribution report growth teams join against marketing spend, and
    * a labeling step for propensity training data.
    *
    * Scale shape: NO window — the first event is `min(struct(sec,
    * event_id, event_type))` inside the same single user_id-keyed hash
    * aggregate that counts the user's conversions (map-side partial
    * mins/sums; one corpus-sized shuffle, zero on a user_id-
    * bucketed table), then a |event_types|-row rollup. Rates are integer ppm
    * DIVs of exact longs.
    */
  def acquisitionAttribution(events: DataFrame,
      convEvent: String = "purchase"): DataFrame =
    events
      .select(col("user_id"), graft.Tables.epochSec(events).as("sec"),
        col("event_id"), col("event_type"))
      .groupBy(col("user_id"))
      .agg(
        min(struct(col("sec"), col("event_id"), col("event_type"))).as("fst"),
        sum(when(col("event_type") === convEvent, 1L).otherwise(0L))
          .as("conv"))
      .groupBy(col("fst.event_type").as("first_type"))
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("conv") > 0, 1L).otherwise(0L)).as("n_converted"),
        sum(col("conv")).as("n_conversions"))
      .select(col("first_type"), col("n_users"), col("n_converted"),
        col("n_conversions"),
        expr("n_converted * 1000000 DIV n_users").as("conversion_ppm"),
        expr("n_conversions * 1000000 DIV n_users")
          .as("conversions_per_user_ppm"))
      .orderBy("first_type")

  /** Time-to-convert census: EXACT delay percentiles (lower median and
    * ceil-p90 — the q110 rank convention) from a user's FIRST
    * `fromEvent` to their first `toEvent` strictly after it, grouped
    * by the user's acquisition cohort (epoch week of the first
    * `fromEvent`). The conversion-latency ledger behind "is activation
    * getting faster for newer cohorts", and the label generator for
    * time-to-event models.
    *
    * Scale shape: two user_id-keyed filtered MIN aggregates and one
    * user_id equi-join (all co-partitioned — one shuffle key
    * throughout, zero Exchange on a user_id-bucketed table), then the
    * count-table percentile read: delays collapse to (cohort, delay)
    * counts (map-side partials; the distinct-delay domain is bounded
    * by the corpus time span in seconds, not by users), the window
    * runs per cohort over that tiny table, and the ranks are integer
    * arithmetic — bit-identical on any engine at any parallelism.
    */
  def timeToConvert(events: DataFrame, fromEvent: String = "view",
      toEvent: String = "purchase"): DataFrame = {
    val e = events.select(col("user_id"), col("event_type"),
      graft.Tables.epochSec(events).as("sec"))
    val first = e.where(col("event_type") === fromEvent)
      .groupBy(col("user_id")).agg(min(col("sec")).as("t0"))
    val conv = e.where(col("event_type") === toEvent)
      .join(first, "user_id")
      .where(col("sec") > col("t0"))
      .groupBy(col("user_id"))
      .agg(min(col("sec") - col("t0")).as("delay"),
        min(expr("t0 DIV 604800")).as("cohort_week"))
    import graft.operators.CacheRegistry.TrackedPersist
    val c = conv.groupBy(col("cohort_week"), col("delay"))
      .agg(count(lit(1)).as("n"))
      // (cohort, delay)-domain-sized; feeds BOTH the cumulative window
      // and the per-cohort totals join — unpersisted, the two filtered
      // user aggregates and their join run twice (the q194 rule)
      .trackedPersist()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cohort_week")).orderBy(col("delay"))
    val tot = c.groupBy(col("cohort_week")).agg(sum(col("n")).as("n_conv"))
    c.withColumn("cum", sum(col("n")).over(w))
      .join(tot, "cohort_week")
      .groupBy(col("cohort_week"))
      .agg(min(col("n_conv")).as("n_converted"),
        min(col("delay")).as("min_delay"),
        min(when(col("cum") >= expr("(n_conv + 1) DIV 2"), col("delay")))
          .as("p50_delay"),
        min(when(col("cum") >= expr("(9 * n_conv + 9) DIV 10"), col("delay")))
          .as("p90_delay"),
        max(col("delay")).as("max_delay"))
      .orderBy("cohort_week")
  }

  /** RFM segmentation census: purchasing users cut into value-based
    * terciles on Recency (days since last purchase, anchored at the
    * corpus's last purchase day), Frequency (purchase count), and
    * Monetary (exact cents sum; segmented at whole-dollar resolution),
    * with per-(r,f,m)-cell user counts, purchase counts, and revenue.
    * Segment 1 = the lowest third of the metric's VALUE distribution
    * (for recency that is the most-recent cohort), assigned by
    * comparing against the tercile cut VALUES — a value cut, not an
    * ntile rank cut, so ties land in one segment deterministically and
    * no global row-ranking is ever needed.
    *
    * Scale shape: one user_id-keyed purchase rollup (map-side
    * partials), a 1-row anchor broadcast, then three tercile cuts read
    * off per-metric DISTINCT-VALUE count tables (domains bounded by
    * the corpus day span, the max per-user purchase count, and the
    * dollar-quantized spend range — NOT by user count; the dollar
    * quantization of the monetary CUT — sums stay exact cents — is
    * what bounds that third domain). The three 1-row cut frames
    * broadcast back onto the user rollup; the census is a ≤27-row
    * aggregate. The ordered windows over the count tables are
    * single-partition but |distinct values|-sized; a corpus whose
    * value domains genuinely explode would swap in the two-phase
    * distributed prefix sum [[Sampling.budgetSelect]] already uses.
    * Money is exact cents-longs end to end; the reported revenue is
    * one final double division.
    */
  def rfmSegments(events: DataFrame): DataFrame = {
    import graft.queries.Q
    val p = events.where(col("event_type") === "purchase")
      .select(col("user_id"), graft.Tables.epochSec(events).as("sec"),
        col("value"))
      .select(col("user_id"), expr("sec DIV 86400").as("day"),
        Q.cents(col("value")).cast("long").as("cents"))
    import graft.operators.CacheRegistry.TrackedPersist
    val per = p.groupBy(col("user_id"))
      .agg(max(col("day")).as("last_day"), count(lit(1)).as("freq"),
        sum(col("cents")).as("cents"))
      // |purchasing users|-sized; feeds the anchor AND (via u) three
      // tercile cuts plus the final census — unpersisted, the purchase
      // rollup re-scanned events five times (the q194 rule)
      .trackedPersist()
    val anchor = per.agg(max(col("last_day")).as("max_day"))
    val u = per.crossJoin(broadcast(anchor))
      .select(col("user_id"), (col("max_day") - col("last_day")).as("recency"),
        col("freq"), col("cents"), expr("cents DIV 100").as("dollars"))
      .trackedPersist() // four consumers: three cuts + the census
    // value-based tercile cuts of one metric: first value whose
    // cumulative count reaches ceil(n/3) / ceil(2n/3)
    def cuts(metric: String): DataFrame = {
      val cnt = u.groupBy(col(metric).as("v")).agg(count(lit(1)).as("n"))
        .trackedPersist() // value-domain-sized; window + its own total
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("v"))
      cnt.withColumn("cum", sum(col("n")).over(w))
        .crossJoin(broadcast(cnt.agg(sum(col("n")).as("nu"))))
        .agg(min(when(col("cum") >= expr("(nu + 2) DIV 3"), col("v")))
          .as(s"${metric}_t1"),
          min(when(col("cum") >= expr("(2 * nu + 2) DIV 3"), col("v")))
            .as(s"${metric}_t2"))
    }
    def seg(metric: String): org.apache.spark.sql.Column =
      lit(1L) + when(col(metric) > col(s"${metric}_t1"), 1L).otherwise(0L) +
        when(col(metric) > col(s"${metric}_t2"), 1L).otherwise(0L)
    u.crossJoin(broadcast(
        cuts("recency").crossJoin(cuts("freq")).crossJoin(cuts("dollars"))))
      .select(seg("recency").as("r_seg"), seg("freq").as("f_seg"),
        seg("dollars").as("m_seg"), col("freq"), col("cents"))
      .groupBy(col("r_seg"), col("f_seg"), col("m_seg"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("freq")).as("n_purchases"),
        (sum(col("cents")).cast("double") / 100).as("monetary_sum"))
      .orderBy("r_seg", "f_seg", "m_seg")
  }

  /** Per-type volume-trend census: the least-squares slope of daily
    * event counts over absolute epoch days — the "is this source
    * growing or decaying" number an ingest dashboard tracks next to
    * q71's spike alarms. The slope is computed from the CLOSED FORM
    * (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) where x = epoch day and
    * y = the day's count — every Σ is an EXACT integer sum, so the
    * only float is the one final division (guarded NULL when the
    * denominator is 0, i.e. a single active day); no iterative fit,
    * no order-sensitive float accumulation, bit-identical on any
    * engine at any parallelism.
    *
    * Scale shape: one (type, day)-keyed hash agg over the stream
    * (map-side partials — the only corpus-sized op), then a
    * |event_types|-row rollup of integer moments. Overflow: the int64
    * MOMENT sums bind at Σxy ≈ epoch-day·total ≈ 2⁶³, i.e. ~4.6·10¹⁴
    * lifetime events per type (≫ a 100 TB event stream); the
    * final-select PRODUCTS (n_days·Σxy, Σx·total, Σx², n_days·Σxx)
    * would wrap int64 four orders of magnitude earlier (~4.6·10¹⁰
    * events per type on a ~2·10⁴-day span), so they are computed in
    * DECIMAL(38,0) — exact to 10³⁸, headroom ~10¹⁴ beyond the moment
    * bound — and the oracle spelling uses HUGEINT for the same terms,
    * keeping the two engines divergence-free (Spark non-ANSI would
    * wrap silently where DuckDB errors).
    */
  def volumeTrend(events: DataFrame): DataFrame = {
    val daily = events
      .select(col("event_type"), graft.Tables.epochSec(events).as("sec"))
      .select(col("event_type"), expr("sec DIV 86400").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"))
    volumeTrendFromMoments(daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("n")).as("total"),
        min(col("day")).as("first_day"), max(col("day")).as("last_day"),
        sum(col("day") * col("n")).as("sxy"), sum(col("day")).as("sx"),
        sum(col("day") * col("day")).as("sxx")))
  }

  /** Slope arithmetic over the per-type integer moments — split out so
    * the DECIMAL product path is testable at magnitudes no test corpus
    * can materialize (the int64-product wrap sits at ~4.6·10¹⁰ events
    * per type; see [[volumeTrend]]'s overflow note).
    */
  private[graft] def volumeTrendFromMoments(m: DataFrame): DataFrame = {
    // decimal(20,0) inputs → decimal(38,0) products/differences: exact
    // (values ≤ ~10²⁴ ≪ 10³⁸), and both engines round the SAME exact
    // integer to double, so the one float division stays bit-identical.
    def dec(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      c.cast("decimal(20,0)")
    m.select(col("event_type"), col("n_days"), col("total"),
        col("first_day"), col("last_day"), {
          val num = dec(col("n_days")) * dec(col("sxy")) -
            dec(col("sx")) * dec(col("total"))
          val den = dec(col("n_days")) * dec(col("sxx")) -
            dec(col("sx")) * dec(col("sx"))
          when(den === lit(0).cast("decimal(38,0)"), lit(null))
            .otherwise(num.cast("double") / den.cast("double"))
            .as("slope_per_day")
        })
      .orderBy("event_type")
  }

  /** Per-event-type inter-arrival profile: EXACT percentiles (lower
    * median and ceil-p90) of the gaps in seconds between a user's
    * consecutive events of the same type — the cadence signal that
    * separates heartbeat-like telemetry from human-paced actions, and
    * the input for sessionization-timeout and rate-limit tuning.
    *
    * Exact at scale without sorting the gap stream: gaps collapse into
    * a (event_type, gap)-keyed count table (map-side partials; the
    * distinct-gap domain is orders of magnitude smaller than the event
    * count), percentiles read off the cumulative window over that
    * DISTINCT-VALUE table, and the target ranks are integer
    * arithmetic — `(n+1) DIV 2` and `ceil(0.9n) = (9n+9) DIV 10` —
    * so the result is bit-identical on any engine at any parallelism
    * (unlike approx_percentile, whose sketch merges are
    * nondeterministic).
    *
    * Shuffles: one per-(user, type) window (the sessionize layout),
    * one hash agg to the count table, one |distinct gaps|-sized
    * window. Event-time arithmetic goes through [[graft.Tables
    * .epochSec]], so the operator is agnostic to ts's physical type.
    */
  def interArrival(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("sec"), col("event_id"))
    val gaps = events
      .select(col("user_id"), col("event_type"), col("event_id"),
        graft.Tables.epochSec(events).as("sec"))
      .withColumn("gap", col("sec") - lag(col("sec"), 1).over(w))
      .where(col("gap").isNotNull)
    val c = gaps.groupBy(col("event_type"), col("gap"))
      .agg(count(lit(1)).as("n"))
      .trackedPersist() // shared by the cumulative window and the totals agg
    val t = c.groupBy("event_type").agg(sum(col("n")).as("n_gaps"))
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("gap"))
    c.withColumn("cum", sum(col("n")).over(wc))
      .join(t, "event_type")
      .groupBy(col("event_type"))
      .agg(min(col("n_gaps")).as("n_gaps"),
        min(col("gap")).as("min_gap"),
        min(when(col("cum") >= expr("(n_gaps + 1) DIV 2"), col("gap")))
          .as("p50_gap"),
        min(when(col("cum") >= expr("(9 * n_gaps + 9) DIV 10"), col("gap")))
          .as("p90_gap"),
        max(col("gap")).as("max_gap"))
      .orderBy("event_type")
  }

  /** Session-level type-affinity (market-basket) census: for every
    * unordered pair of DISTINCT event types co-occurring inside one
    * session (same gap rule as q22), the co-occurrence count, each
    * type's session count, and exact-ppm support and lift — the
    * "which behaviors travel together" table that seeds feature
    * crosses and next-action candidate sets.
    *
    * Scale shape: ONE corpus-sized user_id shuffle (zero on a
    * user_id-bucketed table) feeds the sessionizing window; the
    * per-session distinct-type sets come from a (user_id, session_id)
    * hash aggregate that introduces NO new exchange (the child is
    * already hash-partitioned on user_id ⊆ the grouping keys); pairs
    * are generated map-side from each session's SORTED type set
    * (|types| is a small fixed vocabulary, so ≤ C(|types|,2) pairs per
    * session — bounded, never quadratic in events) and hash-agg'd into
    * a |types|²-row result. Lift's cross products (n_ab·n_sessions,
    * n_a·n_b) are computed in DECIMAL(38,0) — int64 would wrap at
    * ~3·10⁹ sessions — and floored to exact ppm with integral DIV,
    * matching the oracle's HUGEINT `//` on the same non-negative
    * operands.
    */
  def typeAffinity(events: DataFrame, gapSec: Long = 1800L): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
    val cum = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    val sess = events
      .select(col("user_id"), col("event_id"),
        graft.Tables.epochSec(events).as("sec"), col("event_type"))
      .withColumn("prev", lag(col("sec"), 1).over(w))
      .withColumn("new_s",
        when(col("prev").isNull || col("sec") - col("prev") > gapSec, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_s")).over(cum))
      .groupBy(col("user_id"), col("session_id"))
      .agg(sort_array(collect_set(col("event_type"))).as("ts"))
      .trackedPersist() // shared by the totals, per-type and pair aggs
    val sessN = sess.agg(count(lit(1)).as("n_sessions"))
    val typeN = sess.select(explode(col("ts")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("n"))
    val pairs = sess
      .select(explode(flatten(transform(col("ts"), (x, i) =>
        transform(slice(col("ts"), i + lit(2), size(col("ts"))),
          y => struct(x.as("a"), y.as("b")))))).as("p"))
      .groupBy(col("p.a").as("type_a"), col("p.b").as("type_b"))
      .agg(count(lit(1)).as("n_ab"))
    def dec(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      c.cast("decimal(20,0)")
    pairs
      .join(broadcast(typeN.select(col("t").as("type_a"),
        col("n").as("n_a"))), "type_a")
      .join(broadcast(typeN.select(col("t").as("type_b"),
        col("n").as("n_b"))), "type_b")
      .crossJoin(broadcast(sessN))
      .withColumn("lift_num",
        dec(col("n_ab")) * dec(col("n_sessions")) *
          lit(1000000L).cast("decimal(20,0)"))
      .withColumn("lift_den", dec(col("n_a")) * dec(col("n_b")))
      .select(col("type_a"), col("type_b"), col("n_ab"), col("n_a"),
        col("n_b"), col("n_sessions"),
        expr("n_ab * 1000000 DIV n_sessions").as("support_ppm"),
        expr("lift_num DIV lift_den").as("lift_ppm"))
      .orderBy("type_a", "type_b")
  }

  /** Day-of-week seasonality census: per event type, the ISO weekday
    * histogram collapsed to its decision numbers — active weekdays,
    * the peak weekday (ISO index, 0 = Monday) with its exact-ppm
    * share, and the Simpson concentration Σnᵢ²/n² in ppm (10⁶/7 ≈
    * uniform week, 10⁶ = single-day traffic). Same log-free
    * determinism stance as [[transitionConcentration]]: Simpson over
    * Shannon because Σnᵢ² is exact integer arithmetic.
    *
    * Scale shape: one (type, dow)-keyed hash agg over the stream
    * (map-side partials; ≤ 7·|types| rows out), then a |types|-row
    * rollup. The weekday index is pure integer arithmetic on epoch
    * days — `(day + 3) % 7` maps 1970-01-01 (a Thursday) to ISO
    * Monday=0 — identical in both engines, no timezone/locale
    * dependence. POST-1970 ASSUMPTION: `%` truncates identically in
    * both engines, so pre-epoch events land in NEGATIVE dow buckets
    * (-6..-1) rather than the documented Monday=0..6 range — no gate
    * divergence, but the ISO labeling only holds for ts ≥ 1970-01-01
    * (event streams are; a pre-epoch corpus would normalize with
    * `((day + 3) % 7 + 7) % 7` on BOTH sides). Quadratic terms are
    * DECIMAL(38,0) (int64 wraps at ~3·10⁹ events per (type, weekday)
    * cell).
    */
  def weeklySeasonality(events: DataFrame): DataFrame = {
    // Residual-vs-oracle disposition: ENGINE-FLOOR LEDGER row in
    // PERF_NOTES r15 (measured floor stage, scales, anchors).
    def dec(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      c.cast("decimal(20,0)")
    events
      .select(col("event_type"), graft.Tables.epochSec(events).as("sec"))
      .select(col("event_type"), expr("((sec DIV 86400) + 3) % 7").as("dow"))
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("event_type"))
      .agg(sum(col("n")).as("n_events"),
        count(lit(1)).as("n_active_dows"),
        min(struct((-col("n")).as("neg"), col("dow").as("d"))).as("top"),
        sum(dec(col("n")) * dec(col("n"))).as("sum_sq"))
      .withColumn("hhi_num", col("sum_sq") * lit(1000000L).cast("decimal(20,0)"))
      .withColumn("hhi_den", dec(col("n_events")) * dec(col("n_events")))
      .select(col("event_type"), col("n_events"), col("n_active_dows"),
        col("top.d").as("peak_dow"),
        expr("(-top.neg) * 1000000 DIV n_events").as("peak_share_ppm"),
        // DIV (IntegralDivide) floors like the oracle's HUGEINT `//`;
        // a decimal `/` would HALF_UP-round at scale 6 and can land one
        // past the floor near integer boundaries.
        expr("hhi_num DIV hhi_den").as("hhi_ppm"))
      .orderBy("event_type")
  }

  /** Rolling trailing-window active users: per day, the distinct users
    * active in the `windowDays`-day window ENDING that day, next to the
    * day's own DAU and their exact-ppm ratio — the daily-grain
    * stickiness curve (q139's DAU/WAU is its tumbling-week cousin).
    *
    * Exact rolling distincts with ONE corpus-sized shuffle (zero on
    * a user_id-bucketed table) and NO fan-out anywhere: the corpus
    * collapses to per-user SORTED active-day sets in a single user_id
    * hash aggregate (map-side partial collect_sets absorb the event
    * stream; per-user sets are bounded by the span, the q22 group-size
    * argument). A user active on day `a` credits days `[a, a+W-1]`;
    * the union of those same-width windows over the user's sorted days
    * is a list of disjoint RUNS (split where the gap to the previous
    * day is ≥ W — a gap of exactly W abuts, and the −1/+1 deltas at
    * the shared boundary cancel, so ≥ W keeps value identity), and
    * each run contributes exactly two COVERAGE DELTAS: +1 at its first
    * day, −1 at `last_day + W`. Per-day rolling actives are then the
    * running sum of deltas down the |span|-day axis — so the rolling
    * side emits ≤ 2·|runs| ≤ 2·|active days| rows per user map-side
    * (vs the previous spelling's per-user ×W window-end array: ~120 M
    * generated+hash-aggregated rows at the 200× replica, and before
    * that a ~280 M-row global-distinct exchange). Day deltas, the
    * generated day axis and the cumulative-sum Window are all
    * |span|-sized (calendar days — thousands at any corpus size; the
    * single-partition Window is above aggregates on both inputs, the
    * powerUserShare shape). Days past the observed max trim for free:
    * the axis ends at d1, so later −1 deltas simply never join. Day
    * arithmetic is integer epoch-days via [[graft.Tables.epochSec]].
    */
  def rollingActive(events: DataFrame, windowDays: Int = 7): DataFrame = {
    val W = windowDays
    require(W >= 1, s"windowDays=$W must be >= 1")
    val sets = events
      .select(col("user_id"), graft.Tables.epochSec(events).as("sec"))
      .select(col("user_id"), expr("sec DIV 86400").as("day"))
      .groupBy(col("user_id"))
      .agg(array_sort(collect_set(col("day"))).as("days"))
      .trackedPersist() // feeds the DAU table AND the run deltas
    val dau = sets.select(explode(col("days")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val span = dau.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    // run starts: days[i] where i = 1 or gap >= W; run ends: days[i]
    // where i = last or next gap >= W. Equal-length by construction;
    // zip_with pairs them into the two deltas per run.
    val deltas: DataFrame = sets
      .select(explode(expr(
        s"""flatten(zip_with(
           |  filter(transform(sequence(1, size(days)), i ->
           |    IF(i = 1 OR element_at(days, i) - element_at(days, i-1) >= $W,
           |       element_at(days, i), CAST(null AS bigint))),
           |    x -> x IS NOT NULL),
           |  filter(transform(sequence(1, size(days)), i ->
           |    IF(i = size(days)
           |         OR element_at(days, i+1) - element_at(days, i) >= $W,
           |       element_at(days, i), CAST(null AS bigint))),
           |    x -> x IS NOT NULL),
           |  (a, b) -> array(named_struct('d', a, 'v', 1L),
           |                  named_struct('d', b + ${W}L, 'v', -1L))))"""
          .stripMargin)).as("x"))
      .groupBy(col("x.d").as("day")).agg(sum(col("x.v")).as("delta"))
    val axis = span.select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val cum = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    axis.join(deltas, Seq("day"), "left")
      .withColumn("rolling_active",
        sum(coalesce(col("delta"), lit(0L))).over(cum))
      .where(col("rolling_active") > 0) // uncredited gap days, as before
      .join(dau, Seq("day"), "left")
      .select(col("day"),
        coalesce(col("dau"), lit(0L)).as("dau"), col("rolling_active"),
        (coalesce(col("dau"), lit(0L)) * 1000000L)
          .cast("long").as("dau_e6"))
      .select(col("day"), col("dau"), col("rolling_active"),
        expr("dau_e6 DIV rolling_active").as("dau_share_ppm"))
      .orderBy("day")
  }

  /** The pre-r13 window-end fan-out spelling of [[rollingActive]] —
    * kept as the A/B reference the equivalence spec triangulates
    * against (it was itself the fix for the ~280 M-row global-distinct
    * first cut; the delta spelling above beat it ~[measured r13] at
    * the 200× replica by deleting the per-user ×W array build and the
    * ~|users|·span-row hash aggregate it fed).
    */
  def rollingActiveFanout(events: DataFrame,
      windowDays: Int = 7): DataFrame = {
    val sets = events
      .select(col("user_id"), graft.Tables.epochSec(events).as("sec"))
      .select(col("user_id"), expr("sec DIV 86400").as("day"))
      .groupBy(col("user_id"))
      .agg(collect_set(col("day")).as("days"))
      .trackedPersist() // feeds the DAU table AND the window fan-out
    val dau = sets.select(explode(col("days")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val span = dau.agg(max(col("day")).as("d1"))
    val rolling = sets
      .select(explode(array_distinct(flatten(transform(col("days"),
        d => sequence(d, d + lit(windowDays - 1).cast("long"))))))
        .as("d"))
      .crossJoin(broadcast(span))
      .where(col("d") <= col("d1"))
      .groupBy(col("d")).agg(count(lit(1)).as("rolling_active"))
    rolling.join(dau, rolling("d") === dau("day"), "left")
      .select(col("d").as("day"),
        coalesce(col("dau"), lit(0L)).as("dau"), col("rolling_active"),
        (coalesce(col("dau"), lit(0L)) * 1000000L)
          .cast("long").as("dau_e6"))
      .select(col("day"), col("dau"), col("rolling_active"),
        expr("dau_e6 DIV rolling_active").as("dau_share_ppm"))
      .orderBy("day")
  }

  /** Bitmap spelling of [[rollingActive]] (value-identical output —
    * the r13 A/B candidate): per-user active days live as 64-day
    * BITMAP WORDS keyed `(w = day >> 6, bits)` instead of an
    * `array<long>` day set, so
    *
    *  - the corpus-sized aggregate is a fully codegen'd
    *    `bit_or(shiftleft(1L, day & 63))` HashAggregate (plain long
    *    state — map-side partials are one OR per event) instead of
    *    collect_set's per-group ObjectHashAggregate hash-set inserts;
    *  - the ×`windowDays` window-end fan-out is a constant chain of
    *    word shifts/ORs (`b | b<<1 | … | b<<W−1` plus the spill into
    *    word w+1) instead of building and `array_distinct`-ing a
    *    `|days|·W`-element array per user.
    *
    * Day→(w, bit) uses `shiftright`/`& 63` — floor decomposition, a
    * bijection for any long day, so pre-epoch days round-trip. The
    * spill never reaches past word w+1 because `windowDays ≤ 64`
    * (required): max bit position 63 + (W−1) < 128. The per-user word
    * list keeps both aggs user_id-clustered (exchange-free on a
    * user_id-bucketed table, one exchange on plain parquet — identical
    * to the set spelling); the merged word list has DISTINCT w per
    * user (real words are grouped; a virtual spill word w+1 is emitted
    * only when no real w+1 follows), so each (user, window-end day)
    * explodes exactly once — the dedup the set spelling paid
    * array_distinct for is free in the OR.
    */
  def rollingActiveBitmap(events: DataFrame,
      windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1 && windowDays <= 64,
      s"windowDays=$windowDays: single-word spill needs windowDays <= 64")
    def smear(x: String): String =
      (1 until windowDays).foldLeft(x)((a, s) => s"($a | shiftleft($x, $s))")
    def spill(x: String): String =
      if (windowDays == 1) "0L"
      else (1 until windowDays)
        .map(s => s"shiftrightunsigned($x, ${64 - s})")
        .mkString("(", " | ", ")")
    // carry-in from the PREVIOUS real word when it is adjacent
    val carryIn = "IF(i > 0 AND element_at(ws, i).w = e.w - 1, " +
      spill("element_at(ws, i).bits") + ", 0L)"
    val mergedExpr =
      s"""flatten(transform(ws, (e, i) ->
         |  IF(i = size(ws) - 1 OR element_at(ws, i + 2).w > e.w + 1,
         |     array(named_struct('w', e.w,
         |             'bits', ${smear("e.bits")} | $carryIn),
         |           named_struct('w', e.w + 1, 'bits', ${spill("e.bits")})),
         |     array(named_struct('w', e.w,
         |             'bits', ${smear("e.bits")} | $carryIn)))))""".stripMargin
    def daysOf(arr: String): String =
      s"""filter(
         |  flatten(transform($arr, e ->
         |    transform(sequence(0, 63), b ->
         |      IF((shiftrightunsigned(e.bits, b) & 1) = 1,
         |         shiftleft(e.w, 6) + CAST(b AS bigint),
         |         CAST(null AS bigint))))),
         |  d -> d IS NOT NULL)""".stripMargin
    val sets = events
      .select(col("user_id"), graft.Tables.epochSec(events).as("sec"))
      .select(col("user_id"), expr("sec DIV 86400").as("day"))
      .groupBy(col("user_id"), expr("shiftright(day, 6)").as("w"))
      .agg(expr("bit_or(shiftleft(1L, CAST((day & 63) AS int)))").as("bits"))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("w"), col("bits")))).as("ws"))
      .trackedPersist() // feeds the DAU table AND the window fan-out
    val dau = sets.select(explode(expr(daysOf("ws"))).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val span = dau.agg(max(col("day")).as("d1"))
    val rolling = sets
      .select(explode(expr(daysOf(s"($mergedExpr)"))).as("d"))
      .crossJoin(broadcast(span))
      .where(col("d") <= col("d1"))
      .groupBy(col("d")).agg(count(lit(1)).as("rolling_active"))
    rolling.join(dau, rolling("d") === dau("day"), "left")
      .select(col("d").as("day"),
        coalesce(col("dau"), lit(0L)).as("dau"), col("rolling_active"),
        (coalesce(col("dau"), lit(0L)) * 1000000L)
          .cast("long").as("dau_e6"))
      .select(col("day"), col("dau"), col("rolling_active"),
        expr("dau_e6 DIV rolling_active").as("dau_share_ppm"))
      .orderBy("day")
  }

  /** Weekday-adjusted volume anomaly census: per event type, how many
    * days ran hot (> 1.25× their own weekday's mean) or cold (< 0.75×),
    * with the extreme day-vs-weekday-mean ratios in exact ppm — the
    * seasonality-aware upgrade of q71's flat day-over-day alarm (a
    * quiet Sunday is NOT an anomaly just because Monday is busy).
    *
    * Exactness without a float mean: a day with count n against its
    * (type, weekday) cell's (total, cnt days) is hot iff
    * n·cnt·100 > 125·total and cold iff n·cnt·100 < 75·total — pure
    * integer cross-multiplication, no division until the reported
    * extreme ratios (`n·cnt·10⁶ DIV total`, DECIMAL(38,0) products —
    * int64 would wrap past ~10¹² events/day-cell). Scale shape: ONE
    * (type, day) hash agg is the only corpus-sized op; the weekday
    * stats are a ≤7·|types|-row rollup broadcast back onto the
    * |types·span|-row daily table. Same post-1970 weekday assumption
    * as [[weeklySeasonality]]: pre-epoch days would bucket under
    * negative `(day + 3) % 7` values (consistently in both engines).
    */
  def seasonalAnomalies(events: DataFrame): DataFrame = {
    def dec(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      c.cast("decimal(20,0)")
    val daily = events
      .select(col("event_type"), graft.Tables.epochSec(events).as("sec"))
      .select(col("event_type"), expr("sec DIV 86400").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("dow", expr("(day + 3) % 7"))
    val dw = daily.groupBy(col("event_type"), col("dow"))
      .agg(sum(col("n")).as("total"), count(lit(1)).as("cnt"))
    daily.join(broadcast(dw), Seq("event_type", "dow"))
      .withColumn("ratio_num",
        dec(col("n")) * dec(col("cnt")) * lit(1000000L).cast("decimal(20,0)"))
      .withColumn("ratio_ppm", expr("ratio_num DIV total"))
      // the hot/cold tests cross-multiply in DECIMAL too: n·cnt·100
      // wraps int64 past ~10¹² events/day-cell, and a test on the
      // FLOORED ratio would misclassify days landing exactly between
      // floor boundaries on large cells
      .withColumn("lhs", dec(col("n")) * dec(col("cnt")) *
        lit(100L).cast("decimal(20,0)"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(when(col("lhs") > dec(col("total")) *
          lit(125L).cast("decimal(20,0)"), 1L).otherwise(0L))
          .as("n_high_days"),
        sum(when(col("lhs") < dec(col("total")) *
          lit(75L).cast("decimal(20,0)"), 1L).otherwise(0L))
          .as("n_low_days"),
        max(col("ratio_ppm")).as("max_ratio_ppm"),
        min(col("ratio_ppm")).as("min_ratio_ppm"))
      .orderBy("event_type")
  }

  /** Power-user concentration: the exact share of all events produced
    * by the top 1% / 10% / 50% most-active users — the skew number
    * that sizes per-user state budgets and flags bot-heavy sources.
    *
    * Exact at scale WITHOUT sorting users: per-user counts collapse
    * into a |distinct count-value| table (heavily collapsed — activity
    * levels repeat), a cumulative window over that tiny table ordered
    * count-DESC assigns rank ranges to whole value-runs, and each
    * percentile's covered-event total takes full runs plus an exact
    * arithmetic slice of the straddling run: `c · min(users,
    * max(0, k_users − users_before))`. The only window is over the
    * distinct-value table (the q154 caveat: |values|-sized by
    * construction, single partition is fine); the corpus-sized work is
    * one user_id hash agg (zero exchanges on a user_id-bucketed table).
    * Covered·10⁶ lifts to DECIMAL(38,0) (int64 wraps at ~9·10¹²
    * events).
    */
  def powerUserShare(events: DataFrame,
      pcts: Seq[Int] = Seq(1, 10, 50)): DataFrame = {
    def dec(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      c.cast("decimal(20,0)")
    val uc = events.groupBy(col("user_id")).agg(count(lit(1)).as("c"))
    val v = uc.groupBy(col("c")).agg(count(lit(1)).as("users"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("c").desc)
    val ranked = v.withColumn("cum_users", sum(col("users")).over(w))
      .withColumn("users_before", col("cum_users") - col("users"))
    val tot = v.agg(sum(col("users")).as("n_users"),
      sum(col("c") * col("users")).as("n_events"))
    ranked.crossJoin(broadcast(tot))
      .select(col("*"), explode(lit(pcts.sorted.toArray)).as("pct"))
      .withColumn("k_users", expr("(n_users * pct + 99) DIV 100"))
      .withColumn("covered",
        col("c") * least(col("users"),
          greatest(lit(0L), col("k_users") - col("users_before"))))
      .groupBy(col("pct"))
      .agg(min(col("k_users")).as("n_top_users"),
        min(col("n_events")).as("n_events"),
        sum(col("covered")).as("events_covered"))
      .withColumn("share_num",
        dec(col("events_covered")) * lit(1000000L).cast("decimal(20,0)"))
      .select(col("pct").cast("long").as("pct"), col("n_top_users"),
        col("n_events"), col("events_covered"),
        // floor semantics to match the oracle's `//` (see weeklySeasonality)
        expr("share_num DIV n_events").as("share_ppm"))
      .orderBy("pct")
  }

  /** Per-type exact nearest-rank value percentiles (p50/p90/p99 of the
    * event `value` in exact cents) plus extremes and totals — the
    * monetization-distribution bands next to q151's robust outliers,
    * computed WITHOUT sorting events: values quantize per row to cents
    * (the [[graft.queries.Q.cents]] floor — identical in both engines
    * on 2-dp money), collapse to the (type, cents)→count table in one
    * fact-absorbing aggregate, and the nearest-rank percentile
    * (smallest value whose cumulative count reaches ⌈p·n/100⌉) falls
    * out of per-type cumulative rank arithmetic over that table — the
    * q178/q166 discipline; the Window partitions by type above the
    * aggregate, never corpus-wide.
    */
  def valuePercentiles(events: DataFrame): DataFrame = {
    // Residual-vs-oracle disposition: ENGINE-FLOOR LEDGER row in
    // PERF_NOTES r15 (measured floor stage, scales, anchors).
    val cnt = events
      .select(col("event_type"),
        floor(col("value") * 100 + 0.5).as("v"))
      .groupBy(col("event_type"), col("v"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("v"))
    val wt = Window.partitionBy(col("event_type"))
    cnt
      .withColumn("cum", sum(col("c")).over(w))
      .withColumn("n", sum(col("c")).over(wt))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_events"),
        min(col("v")).as("min_cents"), max(col("v")).as("max_cents"),
        min(when(col("cum") * 100 >= col("n") * 50, col("v"))).as("p50"),
        min(when(col("cum") * 100 >= col("n") * 90, col("v"))).as("p90"),
        min(when(col("cum") * 100 >= col("n") * 99, col("v"))).as("p99"))
      .orderBy("event_type")
  }

  /** Burstiness census: users classified by the variance-to-mean ratio
    * (index of dispersion) of their DAILY event counts — `bursty`
    * (VMR > 1: campaign-driven or bot-like spikes), `steady` (VMR ≤ 1:
    * sub-Poisson regularity), or `single-day` (one active day — VMR
    * undefined). The bot/organic split a per-user state budget and a
    * training-data curation pass both key on, complementing
    * [[volumeTrend]] (trend) and [[weeklySeasonality]] (shape).
    *
    * Exact, no float mean/variance anywhere: with n = active days,
    * S1 = Σx, S2 = Σx² over a user's daily counts, population
    * Var > mean ⟺ n·S2 − S1² > n·S1 — an integer cross-multiplication
    * (the q171 discipline). The products are computed in DECIMAL(38,0)
    * (oracle HUGEINT): S2 alone can reach ~10¹⁸ for a 10⁹-events/day
    * bot, so int64 would wrap on n·S2 long before the inputs do.
    *
    * Scale shape: one (user_id, day) fact-absorbing aggregate with
    * map-side combine is the only corpus-sized op (bucket-local on
    * a user_id-bucketed table — hash(user_id) already clusters
    * (user_id, day)); the per-user moment rollup runs on the collapsed
    * |user·days| table and the class rollup is 3 rows. Shares are
    * exact floored ppm (n_users·10⁶ fits int64 to ~9·10¹² users).
    */
  def burstinessCensus(events: DataFrame): DataFrame = {
    def dec(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      c.cast("decimal(38,0)")
    val daily = events
      .select(col("user_id"), graft.Tables.epochSec(events).as("sec"))
      .select(col("user_id"), expr("sec DIV 86400").as("day"))
      .groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("c"))
    val perUser = daily
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s1"),
        sum(col("c") * col("c")).as("s2"))
    val classed = perUser.select(
      when(col("n") === 1, "single-day")
        .when(dec(col("n")) * col("s2") - dec(col("s1")) * col("s1")
          > dec(col("n")) * col("s1"), "bursty")
        .otherwise("steady").as("activity_class"),
      col("s1"))
    classed
      .groupBy(col("activity_class"))
      .agg(count(lit(1)).as("n_users"), sum(col("s1")).as("n_events"))
      // denominator from the ≤3-row rollup itself (unpartitioned window
      // ABOVE the aggregate — the q154 caveat), never a second corpus pass
      .withColumn("user_share_ppm",
        expr("n_users * 1000000 DIV sum(n_users) OVER ()"))
      .orderBy("activity_class")
  }

  /** Inter-event gap census: every consecutive same-user gap (in whole
    * seconds) bucketed into human time bands — the cadence diagnostic
    * that picks a sessionization threshold and sizes streaming-state
    * timeouts from data instead of folklore.
    *
    * Scale shape: the only corpus-sized exchange is the per-user
    * grouping (ZERO on a user_id-bucketed table); gaps come from the
    * per-user sorted array (the q22 argument: per-user event counts are
    * bounded and do not grow with corpus size), the exploded gap rows
    * collapse map-side to ≤4 band counters per partition, and the final
    * exchange moves 4 rows. Equal-second ties give gap 0 in any order,
    * so the sorted-array spelling equals the oracle's LAG-window
    * formulation exactly; band labels carry an ordering prefix so the
    * presentation sort is engine-agnostic. The ppm share divides over
    * the 4-row rollup itself (window ABOVE the aggregate), never a
    * second corpus pass; n_gaps·10⁶ wraps int64 only past ~9·10¹² gaps.
    *
    * PRECONDITION (here and in [[sessionDepthCensus]], r13 ADVICE): the
    * per-user collect_list means a single user's event history must fit
    * one executor task — bounded-per-user cardinality is a property of
    * the corpus, not enforced here. A hot key (a bot account with
    * corpus-scale events) OOMs rather than degrades; pre-filter such
    * keys (or split them by day, as `user_id, sec DIV 86400` grouping
    * would) before calling if the source can contain them.
    */
  def gapBandCensus(events: DataFrame): DataFrame = {
    val gaps = events
      .select(col("user_id"), graft.Tables.epochSec(events).as("sec"))
      .groupBy(col("user_id"))
      .agg(array_sort(collect_list(col("sec"))).as("secs"))
      .select(explode(expr(
        """zip_with(slice(secs, 1, size(secs) - 1),
          |         slice(secs, 2, size(secs) - 1),
          |         (a, b) -> b - a)""".stripMargin)).as("gap"))
    gaps
      .select(when(col("gap") < 60, "a_lt_1m")
        .when(col("gap") < 3600, "b_1m_1h")
        .when(col("gap") < 86400, "c_1h_1d")
        .otherwise("d_ge_1d").as("gap_band"))
      .groupBy(col("gap_band"))
      .agg(count(lit(1)).as("n_gaps"))
      .withColumn("share_ppm",
        expr("n_gaps * 1000000 DIV sum(n_gaps) OVER ()"))
      .orderBy("gap_band")
  }

  /** Session-depth census: sessions (same [[gapSec]] split as q22
    * sessionize) bucketed by how many events they contain — the
    * engagement-shape histogram that tells a curation pipeline whether
    * "sessions" are single-hit bounces or long trajectories before it
    * prices per-session features.
    *
    * Scale shape: one per-user grouping (ZERO exchange on a user_id-
    * bucketed table) builds the sorted second array; session sizes are
    * derived INSIDE the array — boundary positions are the gaps
    * > gapSec, and sizes are the diffs of consecutive boundary edges —
    * so nothing event-sized crosses a second exchange. The exploded
    * per-session rows collapse map-side to ≤5 band counters. Value
    * identity with the oracle's window spelling: a session's size
    * depends only on the sorted second multiset (ties gap 0), which is
    * order-unique. Share ppm divides over the ≤5-row rollup.
    */
  def sessionDepthCensus(events: DataFrame, gapSec: Long = 1800L): DataFrame = {
    val sizes = events
      .select(col("user_id"), graft.Tables.epochSec(events).as("sec"))
      .groupBy(col("user_id"))
      .agg(array_sort(collect_list(col("sec"))).as("secs"))
      .select(expr(
        s"""CASE WHEN size(secs) < 2 THEN array()
           |     ELSE filter(sequence(1, size(secs) - 1),
           |                 i -> element_at(secs, i + 1)
           |                        - element_at(secs, i) > $gapSec)
           |END""".stripMargin).as("bnd"), size(col("secs")).as("n"))
      .select(explode(expr(
        """zip_with(
          |  slice(concat(array(0), bnd, array(n)), 1, size(bnd) + 1),
          |  slice(concat(array(0), bnd, array(n)), 2, size(bnd) + 1),
          |  (a, b) -> b - a)""".stripMargin)).as("n_ev"))
    sizes
      .select(when(col("n_ev") === 1, "a_1")
        .when(col("n_ev") <= 3, "b_2_3")
        .when(col("n_ev") <= 7, "c_4_7")
        .when(col("n_ev") <= 15, "d_8_15")
        .otherwise("e_16_plus").as("depth_band"), col("n_ev"))
      .groupBy(col("depth_band"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_ev")).cast("long").as("n_events"))
      .withColumn("session_share_ppm",
        expr("n_sessions * 1000000 DIV sum(n_sessions) OVER ()"))
      .orderBy("depth_band")
  }

  /** Exact two-sample Kolmogorov–Smirnov drift statistic between the
    * `value` distributions of every event-type pair — the distribution-
    * shift test that decides whether two event streams (or two corpus
    * snapshots) can share a model, computed EXACTLY: KS = max over the
    * merged value axis of |F_a − F_b|, evaluated as the integer
    * cross-multiplication |cum_a·n_b − cum_b·n_a| (never a float CDF),
    * reported as floored ppm of n_a·n_b.
    *
    * Scale shape (the r15 wide-counter respelling — VERDICT r14 ask
    * #2): the ONE corpus-sized exchange is the (type, cents) hash
    * aggregate, which collapses the stream onto the value domain
    * (map-side partials absorb repeats; measured FIXED at 49 089 rows
    * from sf0.1 through the 400× replica — domain-bounded, not
    * corpus-bounded). A second |types|-sized aggregate packs each
    * type's histogram into ONE sorted array row; the C(|types|,2)
    * pairs then cost a single map-side two-pointer merge each
    * ([[graft.functions.KsDistancePpm]], exact integer cross-
    * multiplication, BigInt past int64). This replaces the previous
    * finisher (per-pair row fan-out via two broadcast joins + union +
    * re-group + two cumulative windows + persist) — value-domain-sized
    * work whose constant was measured at ~1.8–2.3 s of the 3 s q198
    * wall at 400× (PERF_NOTES r14 decomposition). The tiny histogram
    * frame is persisted so its self-join cannot re-evaluate the corpus
    * collapse (lint rule 4).
    */
  def ksValueDrift(events: DataFrame): DataFrame = {
    // Residual-vs-oracle disposition: ENGINE-FLOOR LEDGER row in
    // PERF_NOTES r15 (measured floor stage, scales, anchors).
    import graft.queries.Q
    graft.functions.GraftFunctions.install(events.sparkSession)
    val hist = events
      .select(col("event_type").as("t"), Q.cents(col("value")).as("v"))
      .groupBy(col("t"), col("v"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("t"))
      .agg(sort_array(collect_list(struct(col("v"), col("c")))).as("h"),
        sum(col("c")).cast("long").as("n"))
      .trackedPersist()
    hist.as("x").join(broadcast(hist.as("y")), col("x.t") < col("y.t"))
      .select(col("x.t").as("type_a"), col("y.t").as("type_b"),
        col("x.n").as("n_a"), col("y.n").as("n_b"),
        graft.functions.KsDistancePpm(col("x.h"), col("y.h"))
          .as("ks_ppm"))
      .orderBy("type_a", "type_b")
  }
}
