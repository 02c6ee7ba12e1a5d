package graft

import org.apache.spark.sql.SparkSession

/** One place to build a correctly-configured session for the engine and
  * the gate mains (UTC, nanos-as-long for the events table, AQE on,
  * shuffle partitions sized to cores — not the 200 default).
  */
object GraftSession {
  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      : SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      // native-counter substitution for user SQL (graft.plans); the
      // token rule stays conf-gated off inside the rule itself
      .withExtensions(new graft.plans.GraftExtensions)
    Tables.sessionConf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // `cpus` when it is a number; otherwise (e.g. `*`) the master's cores
    spark.conf.set("spark.sql.shuffle.partitions",
      cpus.toIntOption.getOrElse(spark.sparkContext.defaultParallelism).toLong)
    spark
  }
}
