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
}
