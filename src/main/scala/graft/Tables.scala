package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Readers for the driver-generated test tables (TESTDATA.md).
  *
  * One read path per table, plain `spark.read.parquet`, so Catalyst owns
  * pushdown/pruning: every downstream `.select`/`.filter` reaches the
  * scan as `ReadSchema` / `PushedFilters`. The query code never assumes
  * a single-file layout.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Epoch-seconds for an event-time column, robust to the physical type
    * the driver's generator emits for `events.ts` (it has changed across
    * testdata generations): INT64(nanos) surfaced as a raw Long via
    * [[sessionConf]]'s `nanosAsLong`, TIMESTAMP_MICROS (TimestampType),
    * or TIMESTAMP_NTZ. All three floor toward negative infinity —
    * `DIV` on longs and Spark's timestamp→long cast (a floorDiv on
    * micros) — so the result is bit-identical to the DuckDB oracle's
    * `CAST(FLOOR(EPOCH(ts)) AS BIGINT)` in every case. The NTZ branch
    * casts through TimestampType under the pinned UTC session timezone,
    * which is lossless.
    */
  def epochSec(df: DataFrame, c: String = "ts"): Column =
    df.schema(c).dataType match {
      case LongType => expr(s"$c DIV 1000000000")
      case _        => col(c).cast(TimestampType).cast(LongType)
    }

  /** Session settings every entry point (Verify/Bench/tests) must share.
    * `nanosAsLong`: kept for testdata generations where events.ts is
    * parquet TIMESTAMP(NANOS) (which Spark's micros TimestampType
    * refuses) — those surface ts as a lossless raw nanos Long; newer
    * generations emit TIMESTAMP_MICROS and surface TIMESTAMP_NTZ. Query
    * code derives seconds through [[epochSec]] so both encodings work.
    */
  val sessionConf: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    // Prefer shuffled-hash over sort-merge for non-broadcast equi-joins:
    // measured 28-31% faster on the join-heavy headline queries at 50×
    // sf0.1 (PERF_NOTES.md round-4 evidence) by skipping both sort
    // passes. Safe at 100 TB because shuffle partitions are sized to fit
    // executor memory (the build side is the smaller per-partition
    // slice) and AQE splits skewed partitions; this is the default
    // posture of modern vectorized engines.
    // Broadcast threshold stays at the 10 MB DEFAULT, deliberately.
    // A 64 MB threshold was tried in r13 (it let the 200× customer map
    // keep broadcasting and un-flipped q163's SMJ) and REVERTED after
    // it destabilized the connected-component operators at 50×:
    // size-estimate currencies differ by plan node — parquet scans
    // estimate from file bytes (reliable), but localCheckpoint'd loop
    // frames (q59/q85/q90) report COMPRESSED in-memory block sizes, so
    // a ~50 MB-looking frame deserialized into a ~512 MB driver
    // HashedRelation → intermittent "Not enough memory to build and
    // broadcast" + GCLocker starvation (PERF_NOTES r13). The q163-class
    // wins are kept with PLAN-LOCAL shuffle_hash hints on the
    // pre-collapsed fact sides instead — hints scope the decision to
    // joins whose build side is known-bounded, rather than betting the
    // whole session on every estimate being honest.
    "spark.sql.join.preferSortMergeJoin" -> "false",
    // `file:` through a local file system that starts no `chmod` or
    // `readlink` process per file (graft.engine.ForkFreeRawLocalFileSystem),
    // for both Hadoop APIs: `FileSystem` (parquet files, audit and
    // reference-table directories) and `FileContext` (Structured
    // Streaming's offset and commit logs)
    "spark.hadoop.fs.file.impl" ->
      classOf[graft.engine.ForkFreeLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
      classOf[graft.engine.ForkFreeLocalFs].getName)
}
