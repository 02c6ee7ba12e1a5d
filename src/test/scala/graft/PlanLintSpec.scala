package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.SparkSpec

/** Static plan lint over EVERY gate query — the four anti-patterns a
  * scale review checks by hand on the plan dumps, run on every `sbt
  * test` against the real sf0.001 testdata. The rules live in
  * [[graft.PlanLint]] (shared with the Plans replica-scale dump main,
  * which fails loudly on the same violations); see its scaladoc for
  * the rule definitions.
  *
  * Lint runs on the NON-adaptive physical plan (AQE re-plans at
  * runtime but starts from this shape; disabling it keeps the whole
  * join/window tree statically visible). Planning only — nothing
  * executes here; GateSmokeSpec covers execution.
  */
class PlanLintSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  /** Plan a frame with AQE off so the full static tree is visible. */
  private def planned[A](mk: => A): A = {
    val key = "spark.sql.adaptive.enabled"
    val old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try mk finally spark.conf.set(key, old)
  }

  for (d <- SparkEntry.allDefs) {
    test(s"plan lint: ${d.name}") {
      val vs = planned(PlanLint.lintGate(d.name, d.spark(spark, dir)))
      assert(vs.isEmpty, s"plan-lint violations: ${vs.mkString("; ")}")
    }
  }

  test("rule-4 whitelist stays honest: every whitelisted gate still " +
    "fires the shared-subtree rule (else the entry is stale)") {
    for ((name, reason) <- PlanLint.sharedSubtreeWhitelist) {
      val d = SparkEntry.allDefs.find(_.name == name)
        .getOrElse(fail(s"whitelisted gate $name does not exist"))
      val vs = planned(PlanLint.lint(d.spark(spark, dir)))
      assert(vs.exists(_.startsWith("shared collapsed subtree")),
        s"$name is whitelisted ('$reason') but no longer fires — " +
          "remove the entry")
    }
  }

  // --- seeded regressions: each rule must FIRE on a plan built to
  //     violate it (otherwise the green lints prove nothing)

  /** Plan with AQE off AND broadcast disabled (corpus-side seeds would
    * otherwise broadcast at sf0.001 sizes).
    */
  private def plannedNoBroadcast[A](mk: => A): A = planned {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try mk finally spark.conf.set(key, old)
  }

  test("lint fires on a seeded corpus-side CartesianProduct") {
    val events = spark.read.parquet(s"$dir/events.parquet")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val vs = plannedNoBroadcast(PlanLint.lint(
      events.select("event_id").crossJoin(docs.select("doc_id"))))
    assert(vs.exists(_.contains("CartesianProduct with un-collapsed " +
      "corpus side")), vs.toString)
  }

  test("lint passes a value-domain CartesianProduct above aggregates " +
    "(the q91/q198 shape the sf0.001 rule could not see at 50x)") {
    val events = spark.read.parquet(s"$dir/events.parquet")
    val perType = events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
    val pairs = perType.select(col("event_type").as("ta"), col("n").as("na"))
      .crossJoin(perType.select(col("event_type").as("tb")))
      .where(col("ta") < col("tb"))
    val vs = plannedNoBroadcast(PlanLint.lint(pairs))
    assert(!vs.exists(_.contains("CartesianProduct")), vs.toString)
  }

  test("lint fires on a seeded dim-side shuffle join") {
    val events = spark.read.parquet(s"$dir/events.parquet")
    val nation = spark.read.parquet(s"$dir/nation.parquet")
    val vs = planned(PlanLint.lint(events.join(nation.hint("merge"),
      col("user_id") === col("n_nationkey"))))
    assert(vs.exists(_.contains("dim-only side nation")), vs.toString)
  }

  test("lint fires on a seeded unpartitioned corpus Window") {
    val events = spark.read.parquet(s"$dir/events.parquet")
    val vs = planned(PlanLint.lint(events.withColumn("rn",
      row_number().over(Window.orderBy(col("event_id"))))))
    assert(vs.exists(_.contains("unpartitioned Window over fact scan " +
      "events")), vs.toString)
  }

  test("lint passes an aggregate-collapsed global window (the " +
    "powerUserShare shape)") {
    val events = spark.read.parquet(s"$dir/events.parquet")
    val v = events.groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      .groupBy(col("c")).agg(count(lit(1)).as("users"))
      .withColumn("cum", sum(col("users")).over(Window.orderBy(col("c"))))
    assert(planned(PlanLint.lint(v)).isEmpty)
  }

  // --- rule 4 (shared collapsed subtree) seeds: the exact unpersisted
  //     q194 spelling that cost 1.6x -> 0.18x in r13, plus the two
  //     decouplings that must pass (persist; physical exchange reuse)

  /** The r13 q194 shape: a collapsed fact aggregate feeding BOTH a
    * global max and a join-back. `persisted` toggles the fix.
    */
  private def q194Shape(persisted: Boolean): DataFrame = {
    import graft.operators.CacheRegistry.TrackedPersist
    def t(n: String) = spark.read.parquet(s"$dir/$n.parquet")
    val rev0 = t("lineitem")
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp"))
      .select(col("l_suppkey"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
      .groupBy(col("l_suppkey"))
      .agg(sum(col("rev")).as("revenue"))
    val rev = if (persisted) rev0.trackedPersist() else rev0
    val mx = rev.agg(max(col("revenue")).as("m"))
    val winners = rev.crossJoin(broadcast(mx))
      .where(col("revenue") === col("m"))
    t("supplier")
      .join(broadcast(winners), col("s_suppkey") === col("l_suppkey"))
      .select(col("s_suppkey"), col("s_name"))
  }

  test("lint fires on the seeded unpersisted-q194 shared subtree") {
    val vs = planned(PlanLint.lint(q194Shape(persisted = false)))
    assert(vs.exists(_.startsWith("shared collapsed subtree over " +
      "lineitem")), vs.toString)
  }

  test("lint passes the persisted q194 spelling (InMemoryRelation " +
    "decouples the copies)") {
    val df = q194Shape(persisted = true)
    try {
      val vs = planned(PlanLint.lint(df))
      assert(!vs.exists(_.startsWith("shared collapsed subtree")),
        vs.toString)
    } finally graft.operators.CacheRegistry.release()
  }

  test("lint passes bit-identical copies absorbed by exchange reuse " +
    "(no re-evaluation happens, so no violation)") {
    val events = spark.read.parquet(s"$dir/events.parquet")
    val agg = events.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    // a self-equi-join of the SAME aggregate: both sides canonicalize
    // identically (co-keyed on user_id, no pushed-filter asymmetry), so
    // ReuseExchange plans ONE exchange and the fact is scanned once
    val joined = agg.join(agg.select(col("user_id").as("u2"),
      col("n").as("n2")), col("user_id") === col("u2"))
    val vs = planned(PlanLint.lint(joined))
    assert(!vs.exists(_.startsWith("shared collapsed subtree")),
      vs.toString)
  }

  test("per-group physical confirmation: an UNRELATED extra scan of " +
    "the same table does not confirm a reuse-absorbed duplicate " +
    "(the r14 ADVICE false positive)") {
    val events = spark.read.parquet(s"$dir/events.parquet")
    val agg = events.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    val joined = agg.join(agg.select(col("user_id").as("u2"),
      col("n").as("n2")), col("user_id") === col("u2"))
    // a structurally DIFFERENT aggregate scans events a second time:
    // under whole-plan scan counting this confirmed the (absorbed)
    // user_id duplicate; per-group first-stage matching must not
    val other = events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("m"))
    val combined = joined.crossJoin(broadcast(other))
    val vs = planned(PlanLint.lint(combined))
    assert(!vs.exists(_.startsWith("shared collapsed subtree")),
      vs.toString)
  }

  // --- whitelist scoping (r14 ADVICE): suppression only covers the
  //     justified documents-explode shape, not the whole rule

  /** A genuinely re-evaluated collapse over DOCUMENTS (the whitelisted
    * table): a union of two copies of the per-source count where one
    * copy carries an IsNotNull guard the other lacks — the pushdown
    * asymmetry that defeats exchange reuse (the q194 mechanics; a
    * symmetric spelling gets absorbed by ReuseExchange and correctly
    * does not fire).
    */
  private def sharedDocShape: DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val per = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val per2 = docs.where(col("source").isNotNull)
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
    per.unionAll(per2)
  }

  test("whitelisted gate: documents-shaped rule-4 finding is " +
    "suppressed, but the SAME shape fails a non-whitelisted gate") {
    val wl = PlanLint.sharedSubtreeWhitelist.keys.head
    val suppressed = planned(PlanLint.lintGate(wl, sharedDocShape))
    assert(!suppressed.exists(_.startsWith("shared collapsed subtree")),
      suppressed.toString)
    val unlisted = planned(PlanLint.lintGate("q00_not_whitelisted",
      sharedDocShape))
    assert(unlisted.exists(_.startsWith("shared collapsed subtree over " +
      "documents")), unlisted.toString)
  }

  test("whitelisted gate: a NON-documents rule-4 regression still " +
    "fails (suppression is scoped to the justified shape)") {
    val wl = PlanLint.sharedSubtreeWhitelist.keys.head
    val vs = planned(PlanLint.lintGate(wl, q194Shape(persisted = false)))
    assert(vs.exists(_.startsWith("shared collapsed subtree over " +
      "lineitem")), vs.toString)
  }
}
