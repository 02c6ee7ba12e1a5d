package graft


/** Dev profiling harness: times each selected query with the Bench
  * protocol and prints every sample plus the host loadavg. Usage:
  * sbt "runMain graft.Profile [sfDir] [iters] [nameRegex]".
  *
  * Per query: one untimed warm-up run (JIT, codegen, parquet footers),
  * a `System.gc()` fence, then `iters` timed full-plan noop writes.
  *
  * Each run ends with a BLOCKING cache release: gates that
  * `trackedPersist` an intermediate would otherwise hand every warm
  * iteration the cached collapse and report impossible walls — the
  * exact artifact that contaminated the first r15 800× q162/q198
  * samples (q198 "0.56 s" at 800× vs 1.65 s at 400×; PERF_NOTES r15).
  * Blocking, because an async eviction racing the next run's
  * re-persist hands it a dying cache entry (see CacheRegistry).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val iters = args.lift(1).map(_.toInt).getOrElse(3)
    val nameFilter = args.lift(2).map(_.r)
    val spark = GraftSession.local()

    val names = nameFilter match {
      case None => SparkEntry.benchNames
      case Some(re) =>
        SparkEntry.allDefs.map(_.name).filter(re.findFirstIn(_).isDefined)
    }
    def run(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      val t = (System.nanoTime() - t0) / 1e9
      graft.operators.CacheRegistry.release(blocking = true)
      t
    }
    for (name <- names) {
      run(name)
      System.gc()
      val times = (1 to iters).map(_ => run(name))
      println(f"[profile] $name%-28s load=${Bench.loadavg()}%-14s " +
        times.map(t => f"$t%7.3f").mkString(" "))
    }
    spark.stop()
  }
}
