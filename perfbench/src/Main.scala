package perfbench

import graft.cef._
import graft.cef.adapt.SyncCommand
import graft.cef.spark.{Inference, Train}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run of the live InferenceJob (cef38's pattern and SPST
  * model) on `local[cpus]`, driven by the open-loop [[GenSource]].
  *
  * Every run plays the same script, scaled to `--seconds`:
  *   1. adapt phase (36%): 1,500 uniform keys at 20k ev/s; the event-type
  *      distribution drifts at 12% of the run and the closed loop
  *      ([[AdaptLoop]]) detects it, pauses the engine, re-optimizes the
  *      model and plays it;
  *   2. load phase (64%) at 25k ev/s with keys from the workload's
  *      distribution: first five bursts of 250k events due at once, whose
  *      consecutive full micro-batches time the capacity (the first burst
  *      only warms up; the median of the other four counts), then a steady
  *      stretch whose latency is timed from 2 s in to the end, in four
  *      parts; the median over the parts counts.
  * Afterwards the single-thread [[Replay]] regenerates the processed
  * events and must produce the same output digest.
  *
  * Prints one line `PERFBENCH_RESULT <json>` for the wrapper script.
  */
object Main {
  val Pattern = "#(;(IsEventTypePredicate(error),IsEventTypePredicate(purchase)))"
  def table(spst: Spst): Map[(List[Int], Int), ForecastInterval] =
    spst.forecastTable(ForecastMethod.ClassifyNextK, threshold = 0.4, spread = 10, horizon = 20)

  val AdaptKeys: KeyDist = Uniform(1500)
  /** The adapt phase's sessions: 32 side by side, 256 events each. Long,
    * rarely colliding sessions keep each key's recent events in one mode,
    * which is what makes the forecasts (and so the drift) visible to the
    * Observer; the load phase gives every event its own random key instead. */
  def adaptSegment(micros: Long, rate: Double): Segment =
    Segment(micros, rate, AdaptKeys, lanes = 32, sessionLen = 256)
  val AdaptRate = 20000.0
  val LightRate = 25000.0
  /** Admission cap per micro-batch: a burst drains in full batches of this
    * size, so capacity is measured at one fixed batch size. */
  val MaxBatchRows = 100000L
  /** All due within one generator tick, so they wait for the engine together;
    * two and a half batches' worth leaves at least two consecutive full batches. */
  val BurstEvents = 5 * MaxBatchRows / 2
  val BurstMicros = GenSource.TickMicros
  val Bursts = 5
  /** The steady stretch's latency is timed after it has run this long, in
    * this many equal parts. */
  val SteadyWarmMicros = 2000000L
  val WindowParts = 4
  val ReportEveryMicros = 250000L
  val WindowMicros = 1000000L
  val TrainEvents = 200000L
  val SetupRepeats = 3
  /** A run is invalid (not a regression) when the generator or the host stalls beyond this. */
  val LateBudgetMs = 50.0

  def workloadKeys(w: String): KeyDist = w match {
    case "live_uniform" => Uniform(1500)
    case "live_zipf"    => Zipf(100000, 1.2)
    case other          => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Times in micros since the schedule started; `bursts` are (start, end)
    * of the stretch each burst opens, `window` the latency window. */
  final case class Script(spec: GenSpec, adaptEnd: Long, drift: Long, bursts: Seq[(Long, Long)], window: (Long, Long)) {
    /** The Observer hears one full window before the drift: enough for a
      * drop to register, too few for the warm-up trend of the pre-drift MCC
      * to trigger an instruction of its own. */
    def observeFrom: Long = drift - WindowMicros
  }

  def script(workload: String, seed: Long, seconds: Int): Script = {
    val total = seconds * 1000000L
    val adaptEnd = total * 36 / 100
    val drift = total * 12 / 100 / WindowMicros * WindowMicros
    val keys = workloadKeys(workload)
    val spacing = total * 30 / 100 / Bursts
    val bursts = (0 until Bursts).map(i => (adaptEnd + i * spacing, adaptEnd + (i + 1) * spacing))
    val steady = adaptEnd + Bursts * spacing
    val segs = adaptSegment(adaptEnd, AdaptRate) +: (0 until Bursts).flatMap(_ => Seq(
      Segment(BurstMicros, BurstEvents * 1e6 / BurstMicros, keys),
      Segment(spacing - BurstMicros, LightRate, keys))) :+
      Segment(total - steady, LightRate, keys)
    Script(GenSpec(seed, segs.toVector, drift), adaptEnd, drift, bursts, (steady + SteadyWarmMicros, total))
  }

  /** Fixed seeded CPU probe: generate and hash 1M events on one thread,
    * best of five (the first ones also warm the JIT). */
  def calibrate(): Double = (1 to 5).map { _ =>
    val t0 = System.nanoTime()
    val spec = GenSpec(1L, Vector(Segment(10000000L, 100000.0, Uniform(1500))), Long.MaxValue)
    var h = 0L
    spec.events(0, 1000000).foreach(e => h ^= e.partition.hashCode ^ e.eventType.hashCode)
    if (h == 42) println("")
    (System.nanoTime() - t0) / 1e9
  }.min

  final case class Setup(
      cp: CompiledPattern, spst: Spst, table: Map[(List[Int], Int), ForecastInterval],
      compileMs: Double, trainS: Double, tableMs: Double, totalS: Double)

  final case class BatchRec(
      id: Long, from: Long, until: Long, planNanos: Long, endNanos: Long,
      hist: Map[Long, Long], outRows: Long, paused: Option[Boolean], modelId: Int)

  /** Per-partition reduction of one micro-batch's output. */
  final case class PartSum(digest: Digest, hist: Map[Long, Long], reports: Seq[String], rows: Long)

  def summarize(it: Iterator[Inference.Out]): PartSum = {
    val d = new Digest
    val hist = mutable.HashMap.empty[Long, Long]
    val reports = mutable.ArrayBuffer.empty[String]
    var n = 0L
    it.foreach { o =>
      d.add(o); n += 1
      if (o.kind == "report") reports += o.payload
      else hist(o.timestamp / 1000) = hist.getOrElse(o.timestamp / 1000, 0L) + 1
    }
    PartSum(d, hist.toMap, reports.toSeq, n)
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val traced = a("trace") == "1"
    val out = java.nio.file.Paths.get(a("out"))
    val cpus = Runtime.getRuntime.availableProcessors()
    workloadKeys(workload) // reject an unknown workload before any work
    java.nio.file.Files.createDirectories(out)
    val runId = s"$workload-$seed-${System.currentTimeMillis()}"
    val tracer = new Tracer(traced, runId)
    val calibStart = calibrate()

    val tSession = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]").appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .config("spark.sql.streaming.metricsEnabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - tSession) / 1e9
    import spark.implicits._

    // ---- set-up, repeated: compile, train on a seeded pre-drift sample, build the table
    val trainSpec = GenSpec(seed ^ 0x5EED, Vector(adaptSegment(60000000L, 100000.0)), Long.MaxValue)
    val setups = (1 to SetupRepeats).map { _ =>
      val t0 = System.nanoTime()
      val cp = tracer.span("setup.compile") { Compiler.compile(Pattern) }
      val t1 = System.nanoTime()
      val train = spark.range(0, TrainEvents, 1, cpus).mapPartitions { ids =>
        val b = ids.buffered
        if (!b.hasNext) Iterator.empty
        else { val first: Long = b.head; trainSpec.events(first, first + b.size) }
      }
      val spst = tracer.span("setup.learnSpst") { Train.learnSpst(train, cp, order = 2) }
      val t2 = System.nanoTime()
      val tbl = tracer.span("setup.forecastTable") { table(spst) }
      val t3 = System.nanoTime()
      Setup(cp, spst, tbl, (t1 - t0) / 1e6, (t2 - t1) / 1e9, (t3 - t2) / 1e6, (t3 - t0) / 1e9)
    }
    val Setup(cp, spst0, table0, _, _, _, _) = setups.last

    val sc = script(workload, seed, seconds)
    val spec = sc.spec
    val models = new ConcurrentHashMap[Int, (Spst, Map[(List[Int], Int), ForecastInterval])]()
    models.put(0, (spst0, table0))
    val controls = new Inference.ControlHandle
    val workDir = out.resolve(s"run-$runId")
    val adapt = new AdaptLoop(cp, spec, workDir.resolve("adapt").toString, models,
      WindowMicros, sc.observeFrom, activeUntil = sc.adaptEnd, tracer)
    adapt.start()

    // ---- layer listeners (traced runs only)
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, Long, Long)]()
    val qListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.add(e.progress)
    }
    val tListener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) {
        val m = e.taskMetrics
        tasks.add((e.stageId, e.taskInfo.duration, m.executorRunTime,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten))
      }
    }
    if (traced) {
      spark.streams.addListener(qListener)
      spark.sparkContext.addSparkListener(tListener)
    }

    // ---- the stream
    val genId = runId
    val t0Nanos = System.nanoTime() + 2000000000L // the schedule starts once the query is up
    val gen = GenSource.Run(spec, t0Nanos, cpus, MaxBatchRows)
    GenSource.register(genId, gen)
    val batches = mutable.ArrayBuffer.empty[BatchRec]
    val sinkDigest = new Digest
    val sinkNanos = mutable.ArrayBuffer.empty[Long]
    var lastUntil = 0L
    var ctl = controls.current
    val pushes = mutable.ArrayBuffer.empty[(Long, SyncCommand, Long)] // (applies from batch, cmd, nanos)

    val sink: (Dataset[Inference.Out], Long) => Unit = (ds, batchId) => {
      val parts = tracer.span("sink.collect") { ds.rdd.mapPartitions(it => Iterator(summarize(it))).collect() }
      val tEnd = System.nanoTime()
      tracer.span("sink.reduce") {
        val (until, planNanos) = gen.planned.get(lastUntil)
        val d = new Digest
        val hist = mutable.HashMap.empty[Long, Long]
        parts.foreach { p => d.merge(p.digest); p.hist.foreach { case (k, v) => hist(k) = hist.getOrElse(k, 0L) + v } }
        val reports = parts.iterator.flatMap(_.reports).map(Replay.parseReport).toSeq
        adapt.offer(adapt.Batch(lastUntil, until, reports))
        batches.synchronized {
          batches += BatchRec(batchId, lastUntil, until, planNanos, tEnd, hist.toMap,
            parts.map(_.rows).sum, ctl.paused, ctl.latestModelId)
          sinkDigest.merge(d)
        }
        lastUntil = until
        // commands decided since the last batch apply from the next one
        var cmd = adapt.pendingSync.poll()
        while (cmd != null) {
          controls.push(cmd)
          pushes += ((batchId + 1, cmd, System.nanoTime()))
          cmd = adapt.pendingSync.poll()
        }
        ctl = controls.current
      }
      sinkNanos += System.nanoTime() - tEnd
      ()
    }

    val events = spark.readStream.format(classOf[GenProvider].getName).option("id", genId).load().as[CEvent]
    val checkpoint = workDir.resolve("checkpoint").toString
    val engine = tracer.span("engine.build") {
      Inference.engine(events, cp, models.get(_), controls,
        initialModelId = 0, swapDelay = 0L, reportingDistance = ReportEveryMicros)
    }
    val query = engine.writeStream.foreachBatch(sink).option("checkpointLocation", checkpoint).start()

    // run the schedule, then let the engine drain it (the last latency window ends there)
    val endNanos = t0Nanos + spec.totalMicros * 1000L
    val drainedBy = endNanos + 10000000000L
    def drained = batches.synchronized(batches.lastOption.exists(_.until >= spec.totalEvents))
    while (!drained && System.nanoTime() < drainedBy && query.exception.isEmpty) Thread.sleep(20)
    val releasedEnd = spec.totalEvents
    query.stop()
    adapt.finish()
    val failures = mutable.ArrayBuffer.empty[String]
    query.exception.foreach(e => failures += s"stream failed: ${e.getMessage.take(300)}")
    failures ++= adapt.errors
    if (traced) {
      spark.streams.removeListener(qListener)
      spark.sparkContext.removeSparkListener(tListener)
    }

    // ---- reference replay
    val recs = batches.synchronized(batches.toVector)
    val replay = new Replay(cp, models.get(_), ReportEveryMicros)
    tracer.span("replay") {
      recs.foreach(b => replay.batch(spec, b.from, b.until, b.paused, b.modelId))
    }
    val differing = sinkDigest.kindsDiffering(replay.digest)
    val lost = if (differing.isEmpty) 0L else math.max(1L, sinkDigest.countGap(replay.digest))
    if (differing.nonEmpty)
      failures += s"output differs from replay in ${differing.mkString(",")}: stream ${sinkDigest} replay ${replay.digest}"

    // ---- capacity and latency
    if (!recs.lastOption.exists(_.until >= spec.totalEvents))
      failures += "the engine did not drain the schedule within 10 s of its end"
    // capacity: per burst, the longest run of consecutive full batches ending in its stretch
    val capacities = sc.bursts.map { case (start, end) =>
      val full = recs.indices
        .filter(i => recs(i).until - recs(i).from == MaxBatchRows && spec.due(recs(i).until - 1) >= start &&
          spec.due(recs(i).until - 1) < end)
        .foldLeft(List.empty[List[Int]]) {
          case ((run @ (last :: _)) :: done, i) if i == last + 1 => (i :: run) :: done
          case (runs, i) => List(i) :: runs
        }
        .maxByOption(_.size).getOrElse(Nil).reverse.map(recs)
      if (full.size < 2) { failures += s"burst at ${start / 1000} ms drained in ${full.size} full batches"; Double.NaN }
      else (full.last.until - full.head.from) / ((full.last.endNanos - full.head.planNanos) / 1e9)
    }
    val counted = capacities.drop(1).filterNot(_.isNaN)
    val capacity = if (counted.isEmpty) Double.NaN else Stats.median(counted)
    // latency: from each event's due time to its batch's output, for the events due
    // in each part of the steady window; the median over the parts counts
    def latencies(from: Long, until: Long): Seq[(Double, Long)] = recs.flatMap { b =>
      val endMs = (b.endNanos - t0Nanos) / 1e6
      b.hist.collect { case (due, c) if due * 1000 >= from && due * 1000 < until => (endMs - due, c) }
    }
    val (wFrom, wUntil) = sc.window
    val parts = (0 until WindowParts).map { i =>
      latencies(wFrom + (wUntil - wFrom) * i / WindowParts, wFrom + (wUntil - wFrom) * (i + 1) / WindowParts)
    }
    if (parts.exists(_.isEmpty)) failures += "a part of the steady window has no latency samples"
    val partP50 = parts.filter(_.nonEmpty).map(Stats.percentile(_, 0.5))
    val partP99 = parts.filter(_.nonEmpty).map(Stats.percentile(_, 0.99))
    val latP50 = if (partP50.isEmpty) Double.NaN else Stats.median(partP50)
    val latP99 = if (partP99.isEmpty) Double.NaN else Stats.median(partP99)
    val inWindow = recs.filter(_.hist.keys.exists(d => d * 1000 >= wFrom && d * 1000 < wUntil))
    val windowBacklog = inWindow.headOption.map(b => spec.released((b.planNanos - t0Nanos) / 1000) - b.until).getOrElse(0L)

    // ---- adaptation
    val driftNanos = t0Nanos + sc.drift * 1000L
    val firstIns = adapt.instructions.headOption
    if (!firstIns.exists(_._2.instructionType == "optimize"))
      failures += s"first instruction was ${firstIns.map(_._2.instructionType).getOrElse("none")}, not optimize"
    val pauseAt = pushes.find(_._2.cmdType == "pause")
    val playAt = pushes.find(p => p._2.cmdType == "play" && p._2.modelId > 0)
    val liveBatch = playAt.flatMap(p => recs.find(_.id >= p._1))
    if (liveBatch.isEmpty) failures += "the re-optimized model never went live"
    val adaptLatency = liveBatch.map(b => (b.endNanos - driftNanos) / 1e9).getOrElse(Double.NaN)
    val swapDue = liveBatch.map(b => spec.due(b.from)).getOrElse(Long.MaxValue)
    // every full report window from one window after the swap to the end of the adapt phase
    val recovered = adapt.globals.filter(g => g.timestamp - 2 * WindowMicros >= swapDue)
    if (recovered.isEmpty) failures += "no full report window after the swap"
    val mccRecovered = if (recovered.isEmpty) Double.NaN
      else recovered.map(g => ClassStats(g.batch.tp, g.batch.tn, g.batch.fp, g.batch.fn)).reduce(_ + _).mcc
    val pausedEvents = recs.filter(_.paused.contains(true)).map(b => b.until - b.from).sum
    val attempted = recs.size.toLong + 1 // micro-batches checked against the replay, plus the adaptation cycle

    // ---- per-layer numbers
    val prog = progress.asScala.toVector.filter(_.numInputRows > 0)
    def dur(k: String) = prog.flatMap(p => Option(p.durationMs.get(k)).map(_.toDouble))
    def p50(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else Stats.median(xs)
    val stateOps = prog.flatMap(_.stateOperators.headOption)
    val taskV = tasks.asScala.toVector
    val opStages = taskV.groupBy(_._1).values.filter(_.map(_._4).sum > 0).toVector
    val processed = recs.map(b => b.until - b.from).sum
    val outRows = recs.map(_.outRows).sum
    val gc = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val heapPeak = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1e6
    val late = gen.lateMicros.asScala.toSeq.map(_ / 1e3)
    val lateP99 = if (late.isEmpty) Double.NaN else Stats.percentile(late, 0.99)
    val calibEnd = calibrate()
    def setupMed(f: Setup => Double) = Stats.median(setups.map(f))

    val e2e = Seq(
      ("setup_s", setupMed(_.totalS), "s"),
      ("lat_p50_ms", latP50, "ms"),
      ("lat_p99_ms", latP99, "ms"))
    val layers = Seq(
      // end to end, but too unsteady to gate on: capacity still rises from burst
      // to burst within a run, adaptation latency is quantized by micro-batches,
      // and the recovered MCC depends on the seed's post-drift sample
      ("capacity_eps", capacity, "ev/s"),
      ("adapt_latency_s", adaptLatency, "s"),
      ("mcc_recovered", mccRecovered, "MCC"),
      ("ss.batch_ms_p50", p50(dur("triggerExecution")), "ms"),
      ("ss.batch_ms_p99", if (prog.isEmpty) Double.NaN else Stats.percentile(dur("triggerExecution"), 0.99), "ms"),
      ("ss.addBatch_ms_p50", p50(dur("addBatch")), "ms"),
      ("ss.planning_ms_p50", p50(dur("queryPlanning")), "ms"),
      ("ss.walCommit_ms_p50", p50(dur("walCommit")), "ms"),
      ("ss.commitOffsets_ms_p50", p50(dur("commitOffsets")), "ms"),
      ("ss.latestOffset_ms_p50", p50(dur("latestOffset")), "ms"),
      ("ss.batches", prog.size.toDouble, "count"),
      ("ss.batch_rows_p50", p50(prog.map(_.numInputRows.toDouble)), "rows"),
      ("state.commit_ms_p50", p50(stateOps.map(_.commitTimeMs.toDouble)), "ms"),
      ("state.rows", stateOps.lastOption.map(_.numRowsTotal.toDouble).getOrElse(Double.NaN), "rows"),
      ("state.bytes", stateOps.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(Double.NaN), "bytes"),
      ("state.rows_updated_p50", p50(stateOps.map(_.numRowsUpdated.toDouble)), "rows"),
      ("op.busy_ms_per_batch", opStages.map(_.map(_._3).sum.toDouble).sum / math.max(1, opStages.size), "ms"),
      ("op.task_ms_max_over_p50", p50(opStages.map { ts =>
        val d = ts.map(_._2.toDouble); d.max / math.max(1.0, Stats.median(d)) }), "ratio"),
      ("op.shuffle_bytes_per_event", taskV.map(_._5).sum.toDouble / math.max(1L, processed), "B/ev"),
      ("op.records_out_per_event", outRows.toDouble / math.max(1L, processed), "ratio"),
      ("sink.ms_p50", p50(sinkNanos.toSeq.map(_ / 1e6)), "ms"),
      ("core.compile_ms", setupMed(_.compileMs), "ms"),
      ("core.table_build_ms", setupMed(_.tableMs), "ms"),
      ("train.learnSpst_s", setupMed(_.trainS), "s"),
      ("core.spst_eps_1t", replay.events / math.max(1e-9, replay.stepNanos / 1e9), "ev/s"),
      ("adapt.detect_s", firstIns.map(i => (i._1 - driftNanos) / 1e9).getOrElse(Double.NaN), "s"),
      ("adapt.pause_s", (for (p <- pauseAt; q <- playAt) yield (q._3 - p._3) / 1e9).getOrElse(Double.NaN), "s"),
      ("adapt.factory_eval_s", adapt.evalNanos / 1e9 / math.max(1, adapt.evals), "s"),
      ("adapt.evals", adapt.evals.toDouble, "count"),
      ("adapt.swap_s", (for (p <- playAt; b <- liveBatch) yield (b.endNanos - p._3) / 1e9).getOrElse(Double.NaN), "s"),
      ("adapt.collector_ms_per_batch", adapt.collectorNanos / 1e6 / math.max(1, adapt.collectorBatches), "ms"),
      ("adapt.paused_events", pausedEvents.toDouble, "count"),
      ("gen.late_ms_p99", lateP99, "ms"),
      ("gen.backlog_end", (releasedEnd - recs.lastOption.map(_.until).getOrElse(0L)).toDouble, "count"),
      ("jvm.heap_peak_mb", heapPeak, "MB"),
      ("jvm.gc_ms", gc.toDouble, "ms"),
      // the probe at the start runs in a cold JVM, so only the one at the end is reported here
      ("box.calib_s", calibEnd, "s"))

    val invalid = Seq(
      (lateP99 > LateBudgetMs) -> f"gen.late_ms_p99 $lateP99%.1f > $LateBudgetMs",
      !Stats.settled(windowBacklog, LightRate) -> "the bursts had not drained when the latency window opened"
    ).collect { case (true, why) => why }
    val valid = invalid.isEmpty
    val spansFile = if (traced) {
      val p = out.resolve(s"spans-$runId.jsonl")
      recs.foreach(b => tracer.record("ss.batch", b.planNanos, b.endNanos))
      tracer.write(p)
      p.toString
    } else ""

    def num(x: Double) = if (x.isNaN || x.isInfinite) "null" else x.toString
    def metricsJson(ms: Seq[(String, Double, String)]) =
      ms.map { case (n, v, u) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ")
    val loadJson =
      s"""{"burst_capacity_eps":${capacities.map(num).mkString("[", ",", "]")},""" +
      s""""latency_p50_ms_by_part":${partP50.map(num).mkString("[", ",", "]")},"latency_p99_ms_by_part":${partP99.map(num).mkString("[", ",", "]")},""" +
      s""""latency_samples":${parts.map(_.map(_._2).sum).sum},""" +
      s""""latency_batches":${inWindow.size},"backlog_at_window":$windowBacklog}"""
    println("PERFBENCH_RESULT " +
      s"""{"workload":"$workload","seed":$seed,"seconds":$seconds,"cpus":$cpus,"trace":$traced,""" +
      s""""rates":{"adapt":$AdaptRate,"light":$LightRate,"burst_events":$BurstEvents,"max_batch_rows":$MaxBatchRows},""" +
      s""""attempted":$attempted,"failed":${failures.size},"forecasts_lost":$lost,""" +
      s""""fail_frac":${failures.size.toDouble / attempted},"calib_s":[$calibStart,$calibEnd],"valid":$valid,"invalid_because":${invalid.map(w => "\"" + esc(w) + "\"").mkString("[", ",", "]")},""" +
      s""""session_s":$sessionS,"events":$processed,"batches":${recs.size},"load":$loadJson,""" +
      s""""instructions":${adapt.instructions.map(i => "\"" + i._2.instructionType + "@" + (i._1 - driftNanos) / 1000000 + "\"").mkString("[", ",", "]")},""" +
      s""""pushes":${pushes.map(p => s""""${p._2.cmdType}@${p._1}:${(p._3 - driftNanos) / 1000000}"""").mkString("[", ",", "]")},""" +
      s""""failures":${failures.map(f => "\"" + esc(f) + "\"").mkString("[", ",", "]")},""" +
      s""""spans":"${esc(spansFile)}","end_to_end":${metricsJson(e2e)},"per_layer":${metricsJson(layers)}}""")

    GenSource.remove(genId)
    spark.stop()
    deleteTree(workDir)
  }

  def deleteTree(p: java.nio.file.Path): Unit = if (java.nio.file.Files.exists(p)) {
    val s = java.nio.file.Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]()).forEach(f => java.nio.file.Files.delete(f))
    finally s.close()
  }
}
