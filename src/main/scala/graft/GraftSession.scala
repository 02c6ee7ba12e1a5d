package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One place to build a correctly-configured session for the engine and
  * the gate mains (UTC, nanos-as-long for the events table, AQE on,
  * shuffle partitions sized to cores — not the 200 default), warmed in
  * the background ([[warmUp]]).
  */
object GraftSession {
  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      : SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      // native-counter substitution for user SQL (graft.plans)
      .withExtensions(new graft.plans.GraftExtensions)
    Tables.sessionConf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // `cpus` when it is a number; otherwise (e.g. `*`) the master's cores
    spark.conf.set("spark.sql.shuffle.partitions",
      cpus.toIntOption.getOrElse(spark.sparkContext.defaultParallelism).toLong)
    warmUp(spark)
    spark
  }

  /** Spark's first query in a JVM pays seconds of one-time set-up: the
    * analyzer, optimizer and planner, code generation, the scheduler and
    * the executor's first task. One small query on a daemon thread right
    * after the session is built overlaps that cost with whatever the
    * caller does next (the gateway builds its engine and takes its
    * registrations) instead of charging it to the first real query.
    */
  private def warmUp(spark: SparkSession): Unit = {
    val t = new Thread(() =>
      try { spark.range(0, 4, 1, 1).selectExpr("id * 2 AS x").collect(); () }
      catch { case NonFatal(_) => }, // the first real query reports its own
      "graft-spark-warmup")
    t.setDaemon(true)
    t.start()
  }
}
