package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The composed product: every pipeline operator wired into the actual
  * corpus-build flow a training run consumes —
  *
  *   exact dedup → near-dup cluster collapse → quality filters
  *   (repetition + token floor) → PII redaction → benchmark
  *   decontamination → deterministic split → partitioned write
  *
  * Each stage is the already-gate-verified operator; this object only
  * composes them, so correctness is inherited and what the composition
  * adds — stage ordering and the funnel accounting — is pinned by its
  * spec. Stage order matters at scale and is deliberate: exact dedup
  * first (cheapest, biggest shrink — and it bounds the LSH candidate
  * blowup, a measured 16× effect), near-dup collapse
  * before the per-row stages so regex/quality work never runs on
  * doomed duplicates, decontamination last among filters because the
  * benchmark probe is the most selective join.
  */
object TrainingCorpus {

  /** Run the funnel; returns (finalCorpus, funnel) where `funnel` is a
    * one-row-per-stage count table (the report a data release ships
    * with). If `outDir` is non-empty the final corpus is also written
    * partitioned by split via [[CorpusWriter]].
    *
    * `onStage` (default no-op) receives (stage, wallSeconds) at each
    * funnel boundary — the boundaries are the count actions the
    * funnel already pays, so instrumentation adds NO extra action
    * (the 50×/200× stage-wall tables in PERF_NOTES were taken with
    * it). PII + decontamination share one boundary because the
    * composition materializes them together (stage 5's count is the
    * first action after both).
    */
  def build(docs: DataFrame, isBenchmark: Column,
      minTokens: Int = 4, outDir: String = "",
      onStage: (String, Double) => Unit = (_, _) => ()):
      (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._

    def timed[A](stage: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      onStage(stage, (System.nanoTime() - t0) / 1e9)
      r
    }

    val nInput = timed("1_input")(docs.count())

    // 1. exact dedup (keep min doc_id per md5(text)), text retained
    val exactW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp")).orderBy(col("doc_id"))
    val exact = docs
      .withColumn("fp", md5(col("text").cast("binary")))
      .withColumn("rn", row_number().over(exactW))
      .where(col("rn") === 1).drop("fp", "rn")
    val nExact = timed("2_exact_dedup")(exact.count())

    // 2. collapse near-dup clusters to their representative (cluster =
    //    component min doc_id; docs in no cluster pass through)
    val reps = Dedup.nearDupClusters(exact)
      .where(col("doc_id") =!= col("cluster"))
      .select(col("doc_id").as("drop_id"))
    val nearDeduped = exact
      .join(reps, exact("doc_id") === reps("drop_id"), "left_anti")
    val nNearDup = timed("3_near_dup_collapse")(nearDeduped.count())

    // 3. quality: repetition flag + token floor. LEFT join: repetition()
    //    only emits docs with >= 2 tokens, and an inner join here would
    //    silently impose a 2-token floor regardless of minTokens — a doc
    //    too short to score for repetition can't be repetitive, so it
    //    defaults to "ok" and the token floor alone decides its fate.
    val rep = TextAnalysis.repetition(nearDeduped)
      .select(col("doc_id").as("rep_id"), col("flag"))
    val quality = nearDeduped
      .join(rep, nearDeduped("doc_id") === rep("rep_id"), "left")
      .where(coalesce(col("flag"), lit("ok")) === "ok" &&
        size(Dedup.tokens(col("text"))) >= minTokens)
      .drop("rep_id", "flag")
    val nQuality = timed("4_quality")(quality.count())

    // 4. PII redaction (replace text with the scrubbed form)
    val redacted = quality
      .join(TextAnalysis.redactPii(quality)
        .select(col("doc_id").as("pii_id"), col("redacted")),
        col("doc_id") === col("pii_id"))
      .drop("text", "pii_id")
      .withColumnRenamed("redacted", "text")

    // 5. decontamination: drop docs overlapping the benchmark set, and
    //    the benchmark docs themselves
    val contaminatedIds = TextAnalysis.contaminated(redacted, isBenchmark)
      .select(col("doc_id").as("contam_id"))
    val clean = redacted
      .where(!isBenchmark)
      .join(contaminatedIds, col("doc_id") === col("contam_id"), "left_anti")
    val nClean = timed("5_decontaminated")(clean.count())

    // 6. deterministic split
    val corpus = TextAnalysis.withSplit(clean)

    if (outDir.nonEmpty)
      timed("6_split_write")(CorpusWriter.writePartitioned(corpus, outDir,
        partitionCols = Seq("split")))

    val funnel = Seq(
      ("1_input", nInput),
      ("2_exact_dedup", nExact),
      ("3_near_dup_collapse", nNearDup),
      ("4_quality", nQuality),
      ("5_decontaminated", nClean))
      .toDF("stage", "n_docs")
    (corpus, funnel)
  }
}
