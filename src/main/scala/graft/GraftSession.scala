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

  /** Multi-executor session for distributed-shuffle evidence (VERDICT
    * r15 ask #2): `local-cluster[w,c,mem]` launches w REAL worker JVMs
    * — separate heaps, serialized task dispatch, shuffle blocks fetched
    * over localhost sockets instead of the process-local short-circuit
    * every `local[32]` number rides. No real cluster needed, but the
    * constants that change off process-local shuffle (shuffle
    * serialization, broadcast build+ship, runtime-bloom payoff) become
    * measurable. Executor JVMs don't share this JVM's classpath, so
    * the packaged graft jar (sbt package) ships via spark.jars —
    * native expressions and closure classes deserialize on executors.
    */
  def cluster(master: String = "local-cluster[4,8,8192]",
      executorMem: String = "7g"): SparkSession = {
    val jar = {
      val dir = new java.io.File("target/scala-2.13")
      Option(dir.listFiles).toSeq.flatten
        .filter(f => f.getName.endsWith(".jar") && !f.getName.contains("sources"))
        .sortBy(-_.lastModified).headOption
        .getOrElse(sys.error(
          "no packaged jar under target/scala-2.13 — run `sbt package` " +
            "first (local-cluster executors need the graft classes)"))
        .getAbsolutePath
    }
    val builder = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.executor.memory", executorMem)
      .config("spark.jars", jar)
      // deployment-shaped knob, parameterized (guide §2.3): shuffle
      // codec matters once shuffle blocks serialize over a wire —
      // zstd trades CPU for bytes. Local-mode sessions keep the lz4
      // default untouched (process-local shuffle pays the CPU without
      // the byte saving), so the driver's bench stays comparable;
      // cluster legs opt in via SPARK_GRAFT_IO_CODEC for the A/B.
      .config("spark.io.compression.codec",
        sys.env.getOrElse("SPARK_GRAFT_IO_CODEC", "lz4"))
      .withExtensions(new graft.plans.GraftExtensions)
    Tables.sessionConf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
