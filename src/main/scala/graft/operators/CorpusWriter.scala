package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus output layout: the last step of a training-data pipeline is
  * writing the cleaned corpus somewhere a trainer can stream it, and at
  * 100 TB the LAYOUT is the operator — partition pruning and file
  * sizing decide whether downstream reads scan 100 TB or 100 GB.
  *
  *  - `partitionCols` become hive-style directory partitions
  *    (`lang=en/...`), so per-language / per-split readers prune at the
  *    directory level;
  *  - within each partition the data is range-distributed by a
  *    content-stable md5 bucket and capped by `maxRecordsPerFile`, so
  *    file count scales with data volume, files are near-uniform (the
  *    md5 bucket is skew-free even when partition values are skewed),
  *    and reruns produce the same assignment;
  *  - writes are parquet, the layout every engine reads.
  */
object CorpusWriter {

  /** Write `docs` under `outDir` partitioned by `partitionCols`, with
    * at most `maxRecordsPerFile` rows per file. Returns the row count
    * written (one extra action, but a write this size always wants a
    * written-count audit line).
    */
  def writePartitioned(docs: DataFrame, outDir: String,
      partitionCols: Seq[String] = Seq("lang"),
      maxRecordsPerFile: Int = 1000000,
      buckets: Int = 32): Long = {
    graft.functions.GraftFunctions.install(docs.sparkSession)
    val withBucket = docs.withColumn("graft_bucket",
      (Dedup.hexPrefix(
        org.apache.spark.sql.functions.md5(
          col("doc_id").cast("string").cast("binary"))) % buckets))
    withBucket
      .repartition(partitionCols.map(col) :+ col("graft_bucket"): _*)
      .drop("graft_bucket")
      .write
      .mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile.toLong)
      .partitionBy(partitionCols: _*)
      .parquet(outDir)
    docs.sparkSession.read.parquet(outDir).count()
  }

  /** Write `df` as a BUCKETED managed table: hash-bucketed and sorted
    * by `bucketCol` into `buckets` files per partition. This is the
    * layout that makes the recurring joins of a curation stack — docs ⋈
    * embeddings, docs ⋈ dedup labels, corpus ⋈ yesterday's corpus
    * (q77-style incremental dedup) — SHUFFLE-FREE: two tables bucketed
    * the same way join with zero Exchange on either side (pinned by
    * spec against the executed plan), so the join cost at 100 TB is a
    * local merge per bucket instead of re-shuffling both corpora on
    * every run. The bucket count is a real tuning knob: it fixes join
    * parallelism and should be sized so one bucket of the LARGER table
    * fits an executor's memory (e.g. 100 TB / 8192 buckets ≈ 12 GB).
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      buckets: Int = 32): Unit =
    df.write
      .mode("overwrite")
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** Drop a bucketed table AND its warehouse dir (DROP on a fresh
    * session's catalog does not remove a previous run's orphaned dirs —
    * saveAsTable would fail with LOCATION_ALREADY_EXISTS). The walk
    * stream is closed (it holds directory handles open otherwise).
    */
  def dropBucketTable(spark: org.apache.spark.sql.SparkSession,
      wh: String, name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val p = java.nio.file.Paths.get(wh, name)
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val st = java.nio.file.Files.walk(p)
      try st.iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
      finally st.close()
    }
  }

  /** The q22 shape (array-sort sessionize over (user_id, sec), minus
    * the presentation ORDER BY, so only the aggregation shuffle is
    * left). DataPipelineSpec pins its zero-Exchange plan on a
    * user_id-bucketed events table.
    */
  def sessionizeShape(ev: DataFrame): DataFrame =
    ev.groupBy("user_id")
      .agg(count(col("sec")).as("n_events"),
        array_sort(collect_list(col("sec"))).as("secs"))
      .select(col("user_id"),
        (lit(1L) + size(filter(
          zip_with(
            expr("slice(secs, 1, size(secs) - 1)"),
            expr("slice(secs, 2, size(secs) - 1)"),
            (a, b) => b - a > 1800),
          x => x)).cast("long")).as("n_sessions"),
        col("n_events"))

  /** Default table name for the user_id-bucketed events layout. */
  val DefaultEventsTable = "graft_events_by_user"

  /** Default table names for the orderkey-co-bucketed fact pair. */
  val DefaultLineitemTable = "graft_lineitem_by_okey"
  val DefaultOrdersTable = "graft_orders_by_okey"

  /** Table property recording which source the bucketed events were
    * written FROM, so [[bucketedEvents]] only substitutes the layout
    * for queries over that same source (a layout written from last
    * week's extract must never answer this week's query).
    */
  val EventsSourceProp = "graft.events.source"

  /** Table property recording a content fingerprint of the source
    * parquet at write time (file count : total bytes : max
    * modification time). Path equality alone is not freshness
    * (ADVICE r10): regenerating the parquet at the same path — a new
    * testdata generation, a ScaleUp re-run into the same outDir —
    * would otherwise leave a long-lived session silently serving last
    * generation's rows through [[bucketedEvents]].
    */
  val EventsFingerprintProp = "graft.events.fingerprint"

  /** Content fingerprint of `sourceDir`'s events parquet: recursive
    * (file count, total bytes, max mtime) over the leaf files — cheap
    * (pure listing, no data read; at 100 TB this is one namenode
    * listing of the ingest prefix) and it changes whenever a
    * regeneration rewrites, adds, or drops a part file.
    */
  def eventsFingerprint(spark: org.apache.spark.sql.SparkSession,
      sourceDir: String): String =
    sourceFingerprint(spark, sourceDir, "events.parquet")

  /** [[eventsFingerprint]] generalized to any source parquet file. */
  def sourceFingerprint(spark: org.apache.spark.sql.SparkSession,
      sourceDir: String, sourceFile: String): String = {
    val path = new org.apache.hadoop.fs.Path(sourceDir, sourceFile)
    val scheme = path.toUri.getScheme
    if (scheme == null || scheme == "file") {
      // java.nio fast path for local files: Hadoop's LocalFileSystem
      // materializes permissions by FORKING `ls` per file, turning a
      // 200-file listing into ~0.7 s — charged to EVERY Tables.events
      // resolution (measured dominating the bucketed q22 bench leg).
      // nio stats the same (count, bytes, max mtime) in ~1 ms.
      val dir = java.nio.file.Paths.get(path.toUri.getPath)
      if (!java.nio.file.Files.exists(dir)) "absent"
      else {
        var n = 0L; var bytes = 0L; var maxM = 0L
        val st = java.nio.file.Files.walk(dir)
        try {
          import scala.jdk.CollectionConverters._
          st.iterator().asScala.foreach { p =>
            if (java.nio.file.Files.isRegularFile(p)) {
              n += 1
              bytes += java.nio.file.Files.size(p)
              val m = java.nio.file.Files.getLastModifiedTime(p).toMillis
              if (m > maxM) maxM = m
            }
          }
        } finally st.close()
        s"$n:$bytes:$maxM"
      }
    } else {
      val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(path)) "absent"
      else {
        var n = 0L; var bytes = 0L; var maxM = 0L
        val it = fs.listFiles(path, true)
        while (it.hasNext) {
          val f = it.next()
          if (f.isFile) {
            n += 1; bytes += f.getLen
            if (f.getModificationTime > maxM) maxM = f.getModificationTime
          }
        }
        s"$n:$bytes:$maxM"
      }
    }
  }

  /** Write the events stream as a user_id-bucketed, (user_id, ts)-sorted
    * managed table — the layout that makes EVERY per-user analytic
    * shuffle-free: sessionization (q22), session features (q75),
    * inter-arrival profiles (q110), funnels (q63), transitions,
    * retention all require nothing more than "rows of one user
    * co-located" (`ClusteredDistribution` on user_id, or on a superset
    * key like (user_id, event_type), which a HashPartitioning(user_id)
    * scan satisfies — Spark's subset rule). On plain parquet each of
    * those pays a full-corpus Exchange on user_id per query
    * (that Exchange alone was measured exceeding the oracle's whole
    * query at 50×); bucketed, the shuffle happens ONCE
    * at ingest and amortizes across every per-user query forever —
    * at 100 TB the event firehose is written this way from day one.
    * Schema is preserved verbatim, so consumers are layout-agnostic;
    * pass `sourceDir` to let [[graft.Tables.events]] auto-substitute
    * the layout for reads of that source.
    */
  def writeEvents(events: DataFrame, table: String = DefaultEventsTable,
      buckets: Int = 32, sourceDir: Option[String] = None): Unit =
    writeBucketedSource(events, table, "user_id", Seq("user_id", "ts"),
      buckets, sourceDir, "events.parquet")

  /** [[writeEvents]] generalized: write `df` as a `bucketCol`-bucketed,
    * `sortCols`-sorted managed table, tagged with the source dir +
    * content fingerprint so the matching `bucketedSource` lookup only
    * substitutes for reads of that exact source generation.
    *
    * The repartition on the bucket key FIRST means each write task
    * holds exactly one bucket → one well-formed file per bucket.
    * Without it every source-scan task writes its own sliver of every
    * bucket (tasks × buckets files: measured 800 × ~120 KB at the 50×
    * replica, whose footer/open overhead made the bucketed q22 read
    * SLOWER than plain parquet). This shuffle is the one-time ingest
    * cost the layout exists to amortize.
    */
  def writeBucketedSource(df: DataFrame, table: String, bucketCol: String,
      sortCols: Seq[String], buckets: Int = 32,
      sourceDir: Option[String] = None, sourceFile: String = ""): Unit = {
    df.repartition(buckets, col(bucketCol))
      .write
      .mode("overwrite")
      .bucketBy(buckets, bucketCol)
      .sortBy(sortCols.head, sortCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
    sourceDir.foreach { d =>
      val fp = sourceFingerprint(df.sparkSession, d, sourceFile)
      df.sparkSession.sql(
        s"ALTER TABLE $table SET TBLPROPERTIES " +
          s"('$EventsSourceProp' = '$d', '$EventsFingerprintProp' = '$fp')")
    }
  }

  /** Write the lineitem/orders FACT PAIR co-bucketed on the order key —
    * the warehouse layout that makes every orderkey join and per-order
    * aggregate in the relational battery exchange-free: both scans
    * come out HashPartitioning(okey, buckets), so lineitem⋈orders
    * joins (q163/q174/q176/q180, the TPC-H fact spine), per-order
    * revenue pre-aggregates (groupBy(l_orderkey) — q163/q07) and the
    * per-(…, orderkey) distinct-order collapses (q174, subset rule)
    * all run bucket-local. At 100 TB this is how the fact spine is
    * stored from day one: the orderkey shuffle happens ONCE at ingest
    * and amortizes across every order-grain query forever — the
    * writeEvents argument applied to the relational side of the house.
    * Bucket counts MUST match across the pair (Spark only elides the
    * exchange when both sides' bucket partitioning is identical).
    *
    * Default 128 buckets, above the core count, so one bucket stays a
    * reasonable scan task / partial-agg working set (on a cluster,
    * size buckets so one bucket of the LARGER table fits an executor
    * slot — the writeBucketed rule).
    *
    * MEASURED TRADEOFF (PERF_NOTES r13, 200× replica): order-grain
    * queries win big (q163 8.2–9.2→5.2–5.4 s, q07 6.0→3.5–4.6 s, q180
    * −35%), but a rollup on a DIFFERENT fact key pays: q03's
    * per-partkey pre-aggregate ran 3.1 s on the plain files (whose
    * per-copy layout accidentally clusters partkeys, so each scan
    * task's partial-agg map holds ~100 k keys and collapses 6:1) and
    * 7.5–9 s on this layout (bucketing by orderkey scatters partkeys —
    * ~900 k distinct per 937 k-row task, the partial agg collapses
    * nothing and the exchange carries the full fact; the alternative
    * broadcast-part→brand-agg shape was measured WORSE on plain and
    * only marginally better here — the cost is the 120 M-row probe of
    * a 4 M-entry broadcast map, not the plan). One physical sort order
    * cannot serve every access path; the classical remedy is a second
    * projection clustered on the other key (C-Store-style), which is a
    * storage-budget decision, not a default.
    */
  def writeOrderFacts(lineitem: DataFrame, orders: DataFrame,
      buckets: Int = 128, sourceDir: Option[String] = None): Unit = {
    writeBucketedSource(lineitem, DefaultLineitemTable, "l_orderkey",
      Seq("l_orderkey"), buckets, sourceDir, "lineitem.parquet")
    writeBucketedSource(orders, DefaultOrdersTable, "o_orderkey",
      Seq("o_orderkey"), buckets, sourceDir, "orders.parquet")
  }

  /** Default table name for the partkey-clustered lineitem projection. */
  val DefaultLineitemByPartTable = "graft_lineitem_by_pkey"

  /** The C-Store-style SECOND projection of lineitem, clustered on the
    * part key — the storage-budget remedy for the measured fact-pair
    * tradeoff (PERF_NOTES r13 "the q03 counter-case"): orderkey
    * bucketing scatters partkeys, so partkey rollups lose their
    * map-side collapse and dictionary encoding. This copy buckets AND
    * sorts on l_partkey, restoring both, at the cost of a second copy
    * of the fact columns partkey rollups touch (projection, not full
    * width — C-Store projections carry the columns their sort order
    * serves). Same source-fingerprint gating as the other layouts;
    * resolve via [[partProjection]].
    */
  def writePartProjection(lineitem: DataFrame, buckets: Int = 128,
      sourceDir: Option[String] = None): Unit =
    writeBucketedSource(
      lineitem.select(col("l_partkey"), col("l_suppkey"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount")),
      DefaultLineitemByPartTable, "l_partkey", Seq("l_partkey"),
      buckets, sourceDir, "lineitem.parquet")

  /** The partkey projection for `sourceDir`, when written and
    * fingerprint-fresh in this catalog — None otherwise.
    */
  def partProjection(spark: org.apache.spark.sql.SparkSession,
      sourceDir: String): Option[DataFrame] =
    bucketedSource(spark, sourceDir, "lineitem.parquet",
      DefaultLineitemByPartTable)

  /** Default table name for the quantized embeddings projection. */
  val DefaultEmbQuantTable = "graft_embeddings_quant"

  /** The quantized-embedding projection (VERDICT r15 ask #3): the last
    * weak gate with a named lever, q182_norm_bands, bottoms out on the
    * bare `array<float>` parquet scan itself (ENGINE-FLOOR LEDGER: the
    * scan alone costs 2–4× the oracle's whole query at 800×). The
    * remedy is the same family as [[writePartProjection]]: a second,
    * ingest-time representation of the embeddings table that carries
    * the integer forms the integer-exact similarity operators actually
    * consume, instead of re-deriving them from the floats per query:
    *
    *  - `qv`: the micro-quantized component array
    *    `floor(x·10⁶ + 0.5)` — the grid [[Similarity.centroidShift]]
    *    and [[Similarity.cosineBandCensus]] quantize to per query —
    *    stored as `array<int>` (4 B/component, the float's width; the
    *    write REFUSES — falls back to skipping the projection — if any
    *    component overflows int32, i.e. |x| ≳ 2147, so the narrowing
    *    is provably lossless where it is written at all);
    *  - `n2q`: the pico-quantized self-dot `Σ floor(x²·10¹² + 0.5)`
    *    ([[Similarity.dotQ]] of the vector with itself) — q182's whole
    *    per-row input, 8 bytes instead of the ~260-byte float array.
    *
    * Every downstream value is a deterministic function of these
    * integers (that is the integer-exactness design the gates already
    * rely on), so substituting the stored forms is value-identical by
    * construction — pinned by spec against the plain path, same as the
    * partkey projection. Same source-fingerprint gating; resolve via
    * [[embQuantProjection]]. 100 TB shape: one ingest-time pass over
    * the encoder output materializes the integer projection next to
    * the float master copy; norm/census/drift-style integrity scans —
    * the queries a curation stack runs repeatedly — then read 8–260
    * bytes/row less forever. Bucketing by vec_id spreads skew-free;
    * sort by vec_id keeps min/max stats tight for id-ranged reads.
    */
  def writeEmbQuantProjection(embs: DataFrame, buckets: Int = 32,
      sourceDir: Option[String] = None): Boolean = {
    val q = embs.select(col("vec_id"), col("label"),
      expr("transform(embedding, x -> " +
        "CAST(floor(CAST(x AS double) * 1000000 + 0.5) AS bigint))")
        .as("qv64"),
      Similarity.dotQ(col("embedding"), col("embedding")).as("n2q"))
    // int32 narrowing guard: a component whose micro-quantized value
    // exceeds int32 would truncate silently (ANSI off) — refuse the
    // projection instead (callers fall back to the float path).
    // Two tiers (r16 ADVICE: the exact guard re-ran the full
    // transform+dotQ pipeline as an extra ingest pass): a cheap float
    // max-abs scan proves the common case safe — |x| ≤ 2146 puts the
    // micro grid well under Int.MaxValue ≈ 2147.48·10⁶ — and only a
    // near-boundary corpus pays the exact integer re-check.
    val fmx = embs.agg(max(expr(
      "aggregate(embedding, CAST(0 AS double), " +
        "(a, x) -> greatest(a, abs(CAST(x AS double))))"))).first()
    if (fmx.isNullAt(0) || fmx.getDouble(0) > 2146.0) {
      val mx = q.agg(max(expr(
        "aggregate(qv64, 0L, (a, x) -> greatest(a, abs(x)))"))).first()
      if (!mx.isNullAt(0) && mx.getLong(0) > Int.MaxValue) {
        System.err.println("[embquant] component overflows int32 — " +
          "projection not written")
        return false
      }
    }
    writeBucketedSource(
      q.select(col("vec_id"), col("label"),
        col("qv64").cast("array<int>").as("qv"), col("n2q")),
      DefaultEmbQuantTable, "vec_id", Seq("vec_id"),
      buckets, sourceDir, "embeddings.parquet")
    true
  }

  /** The quantized embeddings projection for `sourceDir`, when written
    * and fingerprint-fresh in this catalog — None otherwise.
    */
  def embQuantProjection(spark: org.apache.spark.sql.SparkSession,
      sourceDir: String): Option[DataFrame] =
    bucketedSource(spark, sourceDir, "embeddings.parquet",
      DefaultEmbQuantTable)

  /** Default table name for the documents digest projection. */
  val DefaultDocDigestTable = "graft_documents_digest"

  /** The documents DIGEST projection — [[writeEmbQuantProjection]]'s
    * pattern applied to the exact-dup census family: q162/q184 read
    * the documents table only to compute `unhex(md5(text))` per row
    * plus two key columns, and their measured floor (ENGINE-FLOOR
    * LEDGER: q162's bare documents scan alone costs 3.5–6× the
    * oracle's whole query at 800×) is the TEXT I/O, not the digest
    * math. Materializing (doc_id, source, h) at ingest shrinks their
    * per-row read from the whole document to 16 digest bytes + keys.
    * Values are identical by construction (md5 is a deterministic
    * function of the stored text — the same argument as qv/n2q),
    * spec-pinned; same source-fingerprint gating; resolve via
    * [[docDigestProjection]]. 100 TB shape: every serious curation
    * stack already computes content digests at ingest for exact-dedup
    * and provenance — this column IS that artifact, kept next to the
    * text master copy so duplication censuses never re-read the
    * corpus bytes.
    */
  def writeDocDigestProjection(docs: DataFrame, buckets: Int = 32,
      sourceDir: Option[String] = None): Unit =
    writeBucketedSource(
      docs.select(col("doc_id"), col("source"),
        unhex(md5(col("text"))).as("h")),
      DefaultDocDigestTable, "doc_id", Seq("doc_id"),
      buckets, sourceDir, "documents.parquet")

  /** The documents digest projection for `sourceDir`, when written and
    * fingerprint-fresh in this catalog — None otherwise.
    */
  def docDigestProjection(spark: org.apache.spark.sql.SparkSession,
      sourceDir: String): Option[DataFrame] =
    bucketedSource(spark, sourceDir, "documents.parquet",
      DefaultDocDigestTable)

  /** The bucketed events layout for `sourceDir`, when one has been
    * written and tagged via [[writeEvents]] in this catalog — None
    * otherwise: a table of the right name written from a DIFFERENT
    * source must not answer, and neither may one whose source parquet
    * has been REGENERATED since the write (the recorded
    * [[EventsFingerprintProp]] is re-validated against the files on
    * disk; mismatch falls back to the plain read).
    */
  def bucketedEvents(spark: org.apache.spark.sql.SparkSession,
      sourceDir: String, table: String = DefaultEventsTable)
      : Option[DataFrame] =
    bucketedSource(spark, sourceDir, "events.parquet", table)

  /** [[bucketedEvents]] generalized to any tagged bucketed source
    * table (the lineitem/orders pair from [[writeOrderFacts]]).
    */
  def bucketedSource(spark: org.apache.spark.sql.SparkSession,
      sourceDir: String, sourceFile: String, table: String)
      : Option[DataFrame] =
    if (!spark.catalog.tableExists(table)) None
    else {
      val props = spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
        .properties
      if (props.get(EventsSourceProp).contains(sourceDir) &&
          props.get(EventsFingerprintProp)
            .contains(sourceFingerprint(spark, sourceDir, sourceFile)))
        Some(spark.table(table))
      else None
    }
}
