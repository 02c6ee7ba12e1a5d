package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.node.ObjectNode

/** The gateway benchmark: one named workload against the gateway as a
  * client sees it, with every output checked.
  *
  * Usage: GatewayBench --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --report <file>
  *
  * Prints one JSON line on stdout (the end-to-end metrics, or with
  * `--trace 1` the per-layer metrics) and writes the full report, with
  * sample counts, provenance and any failures, to `--report`. Exits 1
  * when any output is wrong.
  */
object GatewayBench {

  /** Historical audit rows preloaded per past day, and the days. */
  val PreloadPerDay = 1000
  val PreloadDays = 1
  /** Load-generator connections (≤ nproc on the reference host). */
  val Conns = 4
  /** http_burst: events sent per second of `--seconds`. */
  val BurstEventsPerSecond = 10
  /** stream_batches: batches offered per second of `--seconds`, and the
    * micro-batch size with its exact composition.
    */
  val StreamBatchesPerSecond = 0.2
  val StreamBatch: Seq[(String, Int)] =
    Seq("nested" -> 13, "array" -> 13, "udf" -> 13, "refjoin" -> 1)
  /** Warm-up after the variant set, from a fixed seed: http_burst runs
    * this many rounds on all connections, stream_batches adds a
    * full-size batch's events. Without them the first 20 measured events
    * of a burst ran ~20 % slower than the run's median, and the first
    * measured batch up to ~25 % slower than the second.
    */
  val WarmupBurstRounds = 5
  val WarmupSeed = 0x5eedL
  /** Traced replay sizes: events per webhook, reads per kind. */
  val ReplayPerHook = 5
  val ReplayReadsPerKind = 1

  val WorkloadNames = Seq("http_burst", "stream_batches")

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, report: String, commit: String)

  def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("work"), m("report"),
      m.getOrElse("commit", "unknown"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    require(WorkloadNames.contains(args.workload), s"unknown workload ${args.workload}")
    val code = try run(args) catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] failed: $e")
        e.printStackTrace()
        2
    }
    System.exit(code)
  }

  private def loadavg(): String =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).split(" ").take(3).mkString(" ")
    catch { case _: Exception => "-" }

  /** The aggregate `cpu` line of /proc/stat (user, nice, system, idle,
    * iowait, irq, softirq, steal, ...), in clock ticks.
    */
  private def cpuTicks(): Seq[Long] =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/stat"))).linesIterator.next()
      .split("\\s+").drop(1).take(8).map(_.toLong).toSeq
    catch { case _: Exception => Nil }

  /** Share of CPU time the hypervisor gave to other guests (steal)
    * between two [[cpuTicks]] readings; -1 when unknown.
    */
  private def stealShare(a: Seq[Long], b: Seq[Long]): Double =
    if (a.size < 8 || b.size < 8) -1.0
    else {
      val d = b.zip(a).map { case (x, y) => x - y }
      if (d.sum > 0) d(7).toDouble / d.sum else -1.0
    }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def secondsSince(ns: Long): Double = (System.nanoTime() - ns) / 1e9

  def run(args: Args): Int = {
    val loadStart = loadavg()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = graft.GraftSession.local(cpus.toString)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val rng = new scala.util.Random(args.seed)

    // ---- set-up, once and cold, as a client waits for it: JVM start →
    // gateway built (engine, server, registrations), preloaded, warm ----
    var t = System.nanoTime()
    val gw = new Gateway(spark, s"${args.work}/gateway")
    gw.register()
    val registerS = secondsSince(t)
    t = System.nanoTime()
    val preloaded = gw.preload(args.seed, PreloadPerDay, PreloadDays)
    val preloadS = secondsSince(t)
    t = System.nanoTime()
    val feed =
      if (args.workload == "stream_batches")
        Some(new Workloads.StreamFeed(gw, "bench-stream"))
      else None
    val ctx = warmup(gw, args, preloaded, feed)
    val warmupS = secondsSince(t)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // ---- measured phase (tracing off) ----
    val seconds = if (args.trace) args.seconds / 2 else args.seconds
    val gc0 = gcMs()
    val cpu0 = cpuTicks()
    val before = gw.rawRows().map(_._1).toSet
    val (phase, events) =
      try measure(gw, ctx, args, rng, seconds, feed)
      finally feed.foreach(_.stop())
    val gcWindowMs = gcMs() - gc0
    val steal = stealShare(cpu0, cpuTicks())
    System.gc(); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val outcome = Workloads.check(gw, phase, before)
    val failures = ArrayBuffer[String](outcome.failures: _*)
    val attempted = phase.sent.size

    val report = Gen.mapper.createObjectNode()
    val e2eMetrics = Gen.mapper.createObjectNode()
    def metric(o: ObjectNode, name: String, v: Double, unit: String): Unit = {
      val m = o.putObject(name)
      m.put("value", v)
      m.put("unit", unit)
    }
    val ack = Stats.summary(outcome.ackMs)
    val e2e = Stats.summary(outcome.e2eMs)
    metric(e2eMetrics, "setup_s", setupS, "s")
    metric(e2eMetrics, "events_per_s", outcome.eventsPerS, "1/s")
    metric(e2eMetrics, "e2e_p50_ms", e2e.p50, "ms")
    val tails = report.putObject("tails")
    Seq("ack" -> ack, "e2e" -> e2e).foreach { case (k, s) =>
      val o = tails.putObject(k)
      o.put("n", s.n)
      o.put("p50_ms", s.p50)
      s.p90 match {
        case Some(v) => o.put("p90_ms", v)
        case None => o.putNull("p90_ms")
      }
    }

    // ---- traced replay ----
    var layers: ObjectNode = null
    if (args.trace) {
      val setupParts = Seq("setup.session_s" -> sessionS,
        "setup.register_s" -> registerS,
        "setup.preload_s" -> preloadS, "setup.warmup_s" -> warmupS)
      val (m, replayFailures) = traced(gw, ctx, args, outcome, events, phase,
        setupParts, gcWindowMs, heapMb, report)
      layers = m
      failures ++= replayFailures
    }

    val (shapeShare, textShare) = Gen.repeatShares(events)
    val calib = graft.Bench.calibSpin()
    val prov = report.putObject("provenance")
    prov.put("nproc", cpus)
    prov.put("loadavg_start", loadStart)
    prov.put("loadavg_end", loadavg())
    prov.put("steal_share_measured", steal)
    prov.put("master", spark.sparkContext.master)
    prov.put("default_parallelism", spark.sparkContext.defaultParallelism)
    prov.put("max_heap_mb", Runtime.getRuntime.maxMemory / 1048576)
    prov.put("jvm_args", ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(_.startsWith("-X")).mkString(" "))
    prov.put("seed", args.seed)
    prov.put("commit", args.commit)
    prov.put("calib_sec", calib)
    report.put("workload", args.workload)
    report.put("trace", args.trace)
    report.put("seconds_measured", seconds)
    report.put("events", phase.sent.size)
    report.put("input_shape_repeat_share", shapeShare)
    report.put("input_text_repeat_share", textShare)
    val setup = report.putObject("setup")
    setup.put("session_s", sessionS)
    setup.put("register_s", registerS)
    setup.put("preload_s", preloadS)
    setup.put("warmup_s", warmupS)
    val samples = report.putObject("samples")
    Seq("ack_ms" -> outcome.ackMs, "e2e_ms" -> outcome.e2eMs,
      "service_ms" -> outcome.serviceMs).foreach {
      case (k, xs) =>
        val a = samples.putArray(k)
        xs.foreach(x => a.add(math.round(x * 10) / 10.0))
    }
    val outs = Gen.mapper.createObjectNode()
    outcome.outputs.toSeq.sortBy(_._1).foreach { case (k, v) => outs.put(k, v) }
    report.put("outputs_sha256", sha256(outs.toString))

    val result = Gen.mapper.createObjectNode()
    result.put("correct", failures.isEmpty)
    result.put("attempted", attempted)
    result.put("failed", failures.size)
    result.set[ObjectNode]("metrics", if (args.trace) layers else e2eMetrics)
    report.put("failed_ratio", failures.size.toDouble / attempted)
    report.put("live_heap_mb", heapMb)
    val fl = report.putArray("failures")
    failures.take(50).foreach(fl.add)
    report.set[ObjectNode]("end_to_end", e2eMetrics)
    if (layers != null) report.set[ObjectNode]("per_layer", layers)
    gw.close()
    spark.stop()
    java.nio.file.Files.write(java.nio.file.Paths.get(args.report),
      Gen.mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(report))
    println(result.toString)
    if (failures.isEmpty) 0 else 1
  }

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Warm-up of the measured gateway, seed-independent: one event of
    * each payload variant, so every payload schema the workloads produce
    * is planned once. http_burst sends them with [[WarmupBurstRounds]]
    * more rounds as one burst on every connection; stream_batches offers
    * them with a full-size batch's events as one batch, on the query the
    * measured phase uses, so that phase does not pay the query's start.
    * Returns the read context for the measured phase: the raw rows now
    * in the audit trail, and the events a detail read may look up.
    */
  private def warmup(gw: Gateway, args: Args,
      preloaded: Seq[(String, Gen.Event)],
      feed: Option[Workloads.StreamFeed]): ReadCtx = {
    val ctx = new ReadCtx(preloaded.size.toLong, preloaded)
    val r = new scala.util.Random(WarmupSeed)
    feed match {
      case Some(f) =>
        Workloads.streamBatches(ctx, f, Iterator(Gen.warmupSet(1000000L) ++
          Gen.mix(r, StreamBatch, 2000000L)), 1)
      case None =>
        val burst = Workloads.httpBurst(gw, ctx, Gen.warmupSet(1000000L) ++
          Gen.rounds(r, WarmupBurstRounds, 2000000L), Conns)
        burst.sent.find(_.code != 200).foreach(s =>
          throw new IllegalStateException(s"warm-up event: HTTP ${s.code}"))
    }
    new ReadCtx(ctx.baseRaw + ctx.acked.get, preloaded)
  }

  /** One untimed read of each kind over HTTP, each checked. */
  private def warmReads(gw: Gateway, ctx: ReadCtx): Unit = {
    val r = new scala.util.Random(7)
    Workloads.ReadKinds.foreach { k =>
      val res = Workloads.read(gw, ctx, k, r)
      require(res.error.isEmpty, s"warm-up read: ${res.error}")
    }
  }

  /** Runs the workload's measured phase; returns it with the events the
    * phase offered, in generation order.
    */
  private def measure(gw: Gateway, ctx: ReadCtx, args: Args,
      r: scala.util.Random, seconds: Double,
      feed: Option[Workloads.StreamFeed]): (Phase, Seq[Gen.Event]) =
    args.workload match {
      case "http_burst" =>
        val n = (BurstEventsPerSecond * seconds).round.toInt / 4
        val evs = Gen.rounds(r, n, 1)
        (Workloads.httpBurst(gw, ctx, evs, Conns), evs)
      case "stream_batches" =>
        val size = StreamBatch.map(_._2).sum
        val batches = Iterator.from(0).map(b => Gen.mix(r, StreamBatch, 1L + b * size))
        val n = math.max(1, (StreamBatchesPerSecond * seconds).round.toInt)
        val phase = Workloads.streamBatches(ctx, feed.get, batches, n)
        (phase, phase.sent.map(_.e))
    }

  /** Traced replay of the same seeded inputs, and the per-layer metrics:
    * derived ones from the untraced phase's audit stamps, span ones from
    * the replay. Returns the metrics and any replay failures.
    */
  private def traced(gw: Gateway, ctx: ReadCtx, args: Args,
      outcome: Workloads.Outcome,
      events: Seq[Gen.Event], phase: Phase, setupParts: Seq[(String, Double)],
      gcWindowMs: Long, heapMb: Double,
      report: ObjectNode): (ObjectNode, Seq[String]) = {
    // the first read of each kind compiles its plans: one untimed round
    // goes before the replay
    warmReads(gw, ctx)
    val counters = new SparkCounters(gw.spark)
    val tracer = new Tracer(counters)
    val replay = new Replay(gw, tracer)
    // the first ReplayPerHook processed events of each webhook
    val picked = Gen.Hooks.flatMap(h => events.filter(_.hook == h).take(ReplayPerHook))
    val t0 = System.nanoTime()
    picked.foreach(replay.event)
    val eventWallMs = secondsSince(t0) * 1e3
    // guard: the replay's outputs equal the untraced run's audit outputs
    picked.foreach { e =>
      outcome.outputs.get(e.key).foreach { untraced =>
        val same = for (a <- Gen.parse(untraced); b <- Gen.parse(replay.outputs(e.key)))
          yield Gen.jsonEq(a, b)
        if (!same.contains(true))
          replay.failures += s"trace guard ${e.key}: replay output differs"
      }
    }
    val rawNow = gw.rawRows()
    val target = rawNow.head._1
    var n = 0
    Workloads.ReadKinds.foreach { k =>
      (1 to ReplayReadsPerKind).foreach { _ =>
        n += 1
        replay.read(k, n, rawNow.size.toLong, target)
      }
    }
    val filesAtRead = gw.parquetFiles()
    // one batch: the stream workload's first batch; the HTTP workloads
    // replay their first 20 events as a batch
    val batchEvents = Seq(events.take(
      if (args.workload == "stream_batches") StreamBatch.map(_._2).sum else 20))
    val beforeStream = gw.rawRows().map(_._1).toSet
    val ingest = replay.stream(batchEvents)
    val streamOut = Workloads.check(gw, Phase(batchEvents.flatten.map(e =>
      Sent(e, 0L, 0.0, 200, None)), 0L,
      batchEvents.flatten.map(_.key -> 0L).toMap), beforeStream)
    streamOut.failures.foreach(f => replay.failures += s"replay stream $f")
    // ---- metrics ----
    val m = Gen.mapper.createObjectNode()
    def put(name: String, v: Double, unit: String): Unit = {
      val o = m.putObject(name)
      o.put("value", if (v.isNaN || v.isInfinite) 0.0 else v)
      o.put("unit", unit)
    }
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def selfOf(name: String) = tracer.byName(name).map(tracer.selfMs)
    def perCall(name: String, f: Counts => Double) = {
      val ss = tracer.byName(name)
      if (ss.isEmpty) 0.0 else ss.map(s => f(s.counts)).sum / ss.size
    }
    setupParts.foreach { case (k, v) => put(k, v, "s") }
    put("server.ack_ms_p50", med(outcome.ackMs), "ms")
    put("server.recv_ms_p50", med(outcome.recvMs), "ms")
    put("server.non2xx", phase.sent.count(_.code != 200).toDouble, "count")
    put("ingest.route_ms_p50", med(selfOf("route")), "ms")
    put("ingest.validate_ms_p50", med(selfOf("validate")), "ms")
    put("audit.log_raw_ms_p50", med(selfOf("log_raw")), "ms")
    put("queue.wait_ms_p50", med(outcome.waitMs), "ms")
    put("pipeline.service_ms_p50", med(outcome.serviceMs), "ms")
    put("queue.depth_max", outcome.depthMax.toDouble, "count")
    put("udf.load_ms_p50", med(selfOf("udf_load")), "ms")
    put("filter.ms_p50", med(selfOf("filter")), "ms")
    put("filter.jobs_per_call", perCall("filter", _.jobs.toDouble), "count")
    val nested = picked.filter(_.hook == "nested")
    put("filter.pass_ratio",
      if (nested.isEmpty) 0.0 else nested.count(_.expected.isDefined).toDouble / nested.size,
      "ratio")
    put("transform.ms_p50", med(selfOf("transform")), "ms")
    val transformSpans = tracer.byName("transform")
    Gen.Hooks.foreach { h =>
      put(s"transform.ms_p50.$h", med(transformSpans
        .filter(s => picked.exists(e => e.key == s.trace && e.hook == h))
        .map(tracer.selfMs)), "ms")
    }
    put("transform.jobs_per_call", perCall("transform", _.jobs.toDouble), "count")
    put("transform.plan_ms_p50", med(transformSpans.map(_.counts.planMs)), "ms")
    put("transform.exec_ms_p50",
      med(transformSpans.map(s => tracer.selfMs(s) - s.counts.planMs)), "ms")
    val processSpans = tracer.byName("process") ++ tracer.byName("ingest")
    val nEvents = picked.size.toDouble
    def perEvent(f: Counts => Double) = processSpans.map(s => f(s.counts)).sum / nEvents
    put("payload.infer_jobs_per_event", perEvent(_.untaggedJobs.toDouble), "count")
    put("delivery.ms_p50", med(selfOf("deliver")), "ms")
    put("audit.log_transformed_ms_p50", med(selfOf("log_transformed")), "ms")
    put("spark.jobs_per_event", perEvent(_.jobs.toDouble), "count")
    put("spark.tasks_per_event", perEvent(_.tasks.toDouble), "count")
    put("spark.task_ms_per_event", perEvent(_.taskMs.toDouble), "ms")
    put("spark.plan_ms_per_event", perEvent(_.planMs), "ms")
    put("adhoc.validate_ms_p50", med(selfOf("adhoc.validate")), "ms")
    put("adhoc.refresh_views_ms_p50", med(selfOf("adhoc.refresh_views")), "ms")
    put("adhoc.exec_ms_p50", med(selfOf("adhoc.exec")), "ms")
    put("adhoc.plan_ms_p50", med(tracer.byName("adhoc.exec").map(_.counts.planMs)), "ms")
    put("adhoc.jobs_per_query", perCall("read.query", _.jobs.toDouble), "count")
    put("adhoc.stats_ms_p50", med(selfOf("adhoc.stats")), "ms")
    put("adhoc.recent_events_ms_p50", med(selfOf("adhoc.recent_events")), "ms")
    put("adhoc.event_detail_ms_p50", med(selfOf("adhoc.event_detail")), "ms")
    put("audit.rows_at_read", rawNow.size.toDouble, "count")
    put("audit.parquet_files", filesAtRead.toDouble, "count")
    val batches = tracer.byName("stream.batch")
    def phaseMs(k: String) = med(replay.progress.toSeq.flatMap(_.get(k)).map(_.toDouble))
    put("stream.batch_ms_p50", med(batches.map(_.ms)), "ms")
    put("stream.trigger_ms_p50", phaseMs("triggerExecution"), "ms")
    put("stream.add_batch_ms_p50", phaseMs("addBatch"), "ms")
    put("stream.query_planning_ms_p50", phaseMs("queryPlanning"), "ms")
    put("stream.wal_commit_ms_p50", phaseMs("walCommit"), "ms")
    put("stream.jobs_per_batch", perCall("stream.batch", _.jobs.toDouble), "count")
    put("stream.task_ms_per_batch", perCall("stream.batch", _.taskMs.toDouble), "ms")
    put("stream.fallback_events",
      perCall("stream.batch", _.perEventQueries.toDouble), "count")
    put("stream.driver_collected", ingest.driverCollectedEvents.get.toDouble, "count")
    put("jvm.gc_ms", gcWindowMs.toDouble, "ms")
    put("jvm.live_heap_mb", heapMb, "MB")
    // tracing overhead on the per-event worker path: traced wall minus
    // the self times (the drains), against the untraced service time
    val proc = tracer.byName("process")
    val selfSum = proc.map(_.ms)
    val wall = proc.map(s => s.endMs - s.startMs)
    val overhead = med(wall) - med(selfSum)
    put("trace.self_sum_ms_p50", med(selfSum), "ms")
    put("trace.overhead_ms_p50", overhead, "ms")
    // the layer self times of the worker path should add up to the
    // untraced service time within the tracing overhead. Only http_burst
    // has a per-event service time; on stream_batches `serviceMs` is a
    // whole batch's raw stamp → outcome, so the check does not apply
    val check = report.putObject("trace_check")
    check.put("self_sum_ms_p50", med(selfSum))
    check.put("overhead_ms_p50", overhead)
    if (args.workload == "http_burst") {
      val gap = med(selfSum) - med(outcome.serviceMs)
      put("trace.service_gap_ms", gap, "ms")
      check.put("service_ms_p50", med(outcome.serviceMs))
      check.put("gap_ms", gap)
      check.put("pass", math.abs(gap) <= overhead)
    } else {
      put("trace.service_gap_ms", 0.0, "ms")
      check.putNull("pass")
      check.put("note", "not applicable: no per-event service time on this workload")
    }
    put("trace.replay_event_ms", eventWallMs / math.max(1.0, nEvents), "ms")
    val (shape, text) = Gen.repeatShares(events)
    put("input.shape_repeat_share", shape, "ratio")
    put("input.text_repeat_share", text, "ratio")

    // spans are written once, at exit
    val spanFile = args.report.stripSuffix(".json") + ".spans.jsonl"
    val w = new java.io.PrintWriter(spanFile, "UTF-8")
    try tracer.spans.foreach { s =>
      val o = Gen.mapper.createObjectNode()
      o.put("id", s.id); o.put("trace", s.trace); o.put("name", s.name)
      o.put("parent", s.parent); o.put("start_ms", s.startMs)
      o.put("end_ms", s.endMs); o.put("self_ms", tracer.selfMs(s))
      o.put("tracing_ms", s.tracingMs); o.put("jobs", s.counts.jobs)
      o.put("tasks", s.counts.tasks); o.put("task_ms", s.counts.taskMs)
      o.put("untagged_jobs", s.counts.untaggedJobs)
      o.put("per_event_queries", s.counts.perEventQueries)
      o.put("plan_ms", s.counts.planMs)
      w.println(o.toString)
    } finally w.close()
    (m, replay.failures.toSeq)
  }
}
