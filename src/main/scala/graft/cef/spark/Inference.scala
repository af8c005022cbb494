package graft.cef.spark

import graft.cef._
import graft.cef.adapt._
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import java.util.concurrent.atomic.AtomicReference

/** The full live-inference topology (SURVEY.md §3.1, reference
  * InferenceJob.java:57-302): ingest → key by partition attribute →
  * per-key forecasting engine with pause/play + synchronized model swap →
  * tagged outputs (detections | forecasts | reports) split by filter —
  * Spark's substitute for Flink side outputs (SURVEY.md §7.1.2).
  *
  * Control plane without broadcast state (§7.1.3): sync/model-report
  * messages are applied on the DRIVER between micro-batches via a shared
  * [[ControlHandle]] (updated by a `foreachBatch` over the control stream,
  * or directly in tests). The swap stays lossless because it is still
  * gated per key on EVENT time inside the engine state.
  */
object Inference {

  /** One tagged output row (kind: detection | forecast | report). */
  final case class Out(
      kind: String,
      partition: String,
      counter: Long,
      eventId: Long,
      timestamp: Long,
      startCounter: Long,
      endCounter: Long,
      prob: Double,
      positive: Boolean,
      payload: String)

  /** Driver-side control state shared with executors via task-closure
    * capture at micro-batch planning time: Spark serializes the referenced
    * value into each batch's tasks, so updates between batches reach the
    * next batch — the per-microbatch refresh pattern.
    *
    * Commands are COMPACTED into the target state they encode (paused flag
    * + latest model id): pause/play are idempotent state targets, so
    * replaying history per key per batch is equivalent to reading the
    * consolidated summary — and the summary stays O(1) over any uptime
    * instead of growing with every optimization round.
    */
  final class ControlHandle extends Serializable {
    /** paused = None until the first command arrives: a fresh handle after
      * a driver restart must NOT override the checkpointed per-key paused
      * state (a paused engine stays paused until an explicit play). */
    final case class Summary(paused: Option[Boolean], latestModelId: Int)
    private val state = new AtomicReference[Summary](Summary(paused = None, latestModelId = -1))
    def push(cmd: SyncCommand): Unit = state.updateAndGet { s =>
      cmd.cmdType match {
        case "pause" => s.copy(paused = Some(true))
        case "play"  => Summary(paused = Some(false),
          if (cmd.modelId >= 0) cmd.modelId else s.latestModelId)
        case _       => s
      }
    }
    /** Register a newly trained model without touching the paused flag —
      * the model_reports half of the control plane; a later play command
      * (or the running engine, if not paused) picks it up. Monotonic:
      * factory model ids increment, so a stale report collected late can
      * never roll the latest id backwards (an explicit play with a model
      * id — a deliberate rollback — still wins). */
    def pushModel(modelId: Int): Unit =
      state.updateAndGet(s => s.copy(latestModelId = math.max(s.latestModelId, modelId)))
    def current: Summary = state.get()
  }

  /** Engine state carried in GroupState across micro-batches: the run
    * snapshot plus the reporting state (pending unresolved forecasts,
    * cumulative + last-reported confusion counts, next report time) —
    * exactly the reference's keyed state set (WayebEngine.java:103-128).
    */
  final case class EngineSnapshot(
      det: DetRunState,
      buffer: Seq[Int],
      paused: Boolean,
      currentModelId: Int,
      latestModelId: Int,
      pendingSwapAt: Long,
      pendingForecasts: Seq[PendingForecast] = Nil,
      cum: Seq[Long] = Seq(0L, 0L, 0L, 0L),
      prev: Seq[Long] = Seq(0L, 0L, 0L, 0L),
      nextReportTime: Long = -1L)

  final case class PendingForecast(positive: Boolean, start: Long, end: Long)

  implicit private val outEnc: Encoder[Out] = Encoders.product[Out]
  implicit private val snapEnc: Encoder[EngineSnapshot] = Encoders.product[EngineSnapshot]

  /** Build the streaming inference Dataset. `controls` is read at planning
    * time of each micro-batch (driver), applied before the batch's events.
    *
    * @param loadModel modelId → (spst, forecast table); must be
    *                  deterministic and serializable (executors call it)
    */
  def engine(
      events: Ingest,
      cp: CompiledPattern,
      loadModel: Int => (Spst, Map[(List[Int], Int), ForecastInterval]),
      controls: ControlHandle,
      initialModelId: Int = 0,
      swapDelay: Long = 0L,
      reportingDistance: Long = 3600L): Dataset[Out] =
    Stream.keyed(events)(new Engine(cp, loadModel, controls.current, initialModelId,
      swapDelay, reportingDistance, _))

  /** The per-key engine: pause/play, the event-time-gated model swap, and
    * the A1 reporting state — pending forecasts resolve online against
    * detections (tp/fn) or expiry (fp/tn); cumulative + delta counts are
    * emitted every `reportingDistance` event-time units.
    *
    * `control` is the consolidated control state decided since the last
    * batch; it overrides the state the run starts from. An opinion-less
    * handle (fresh after restart) leaves the checkpointed paused state
    * untouched.
    */
  private final class Engine(
      cp: CompiledPattern,
      loadModel: Int => (Spst, Map[(List[Int], Int), ForecastInterval]),
      control: ControlHandle#Summary,
      initialModelId: Int,
      swapDelay: Long,
      reportingDistance: Long,
      key: String) extends KeyedRun[EngineSnapshot, Out] {

    private var paused = false
    private var currentId = initialModelId
    private var latestId = initialModelId
    private var pendingAt = -1L
    // Min-end heap: expiry pops exactly the expired entries (amortized
    // O(log n)) instead of scanning every pending on every event — bounded
    // work under forecast storms (detections still drain the heap, but
    // they are rare relative to events).
    private val pending = scala.collection.mutable.PriorityQueue.empty[PendingForecast](
      Ordering.by((p: PendingForecast) => -p.end))
    private var cum = ClassStats(0, 0, 0, 0)
    private var prev = ClassStats(0, 0, 0, 0)
    private var nextReportTime = -1L
    private var restored: Option[EngineSnapshot] = None
    applyControl()

    /** The forecasting run on the current model, loaded once per key and
      * batch (also when paused: the snapshot carries its state). */
    private lazy val run = {
      val (spst, table) = loadModel(currentId)
      val r = new SpstRun(cp, spst, table, key)
      restored.foreach(s => r.restore(s.det, s.buffer))
      r
    }

    private def applyControl(): Unit = {
      control.paused.foreach(paused = _)
      if (control.latestModelId >= 0) latestId = control.latestModelId
    }

    def restore(s: EngineSnapshot): Unit = {
      paused = s.paused
      currentId = s.currentModelId
      latestId = s.latestModelId
      pendingAt = s.pendingSwapAt
      pending ++= s.pendingForecasts
      cum = ClassStats(s.cum(0), s.cum(1), s.cum(2), s.cum(3))
      prev = ClassStats(s.prev(0), s.prev(1), s.prev(2), s.prev(3))
      nextReportTime = s.nextReportTime
      restored = Some(s)
      applyControl()
    }

    def snapshot: EngineSnapshot =
      EngineSnapshot(run.detSnapshot, run.bufferSnapshot,
        paused, currentId, latestId, pendingAt,
        pending.toSeq, Seq(cum.tp, cum.tn, cum.fp, cum.fn),
        Seq(prev.tp, prev.tn, prev.fp, prev.fn), nextReportTime)

    def step(e: CEvent): Iterable[Out] = {
      if (paused) return Nil
      if (latestId != currentId) {
        if (pendingAt == -1L) pendingAt = e.timestamp + swapDelay
        if (e.timestamp >= pendingAt) {
          val (spst, table) = loadModel(latestId)
          run.swapModel(spst, table)
          currentId = latestId
          pendingAt = -1L
          // model swap clears stats history (WayebEngine.java:300-315)
          cum = ClassStats(0, 0, 0, 0); prev = ClassStats(0, 0, 0, 0)
        }
      }
      val out = scala.collection.mutable.ListBuffer.empty[Out]
      val (d, f) = run.step(e)
      d.foreach(x => out += Out("detection", key, x.counter, x.eventId,
        x.timestamp, 0, 0, 1.0, positive = true, ""))
      f.foreach { x =>
        out += Out("forecast", key, x.counter, x.eventId,
          x.timestamp, x.startCounter, x.endCounter, x.prob, x.positive, "")
        pending += PendingForecast(x.positive, x.startCounter, x.endCounter)
      }
      // resolve pending forecasts
      d.foreach { det =>
        val kept = pending.dequeueAll.filter { p =>
          if (p.start <= det.counter && det.counter <= p.end) {
            cum += (if (p.positive) ClassStats(1, 0, 0, 0) else ClassStats(0, 0, 0, 1))
            false
          } else true
        }
        pending ++= kept
      }
      val counter = run.eventCounter
      while (pending.nonEmpty && pending.head.end < counter) {
        val p = pending.dequeue()
        cum += (if (p.positive) ClassStats(0, 0, 1, 0) else ClassStats(0, 1, 0, 0))
      }
      // periodic report (event-time schedule, WayebEngine.java:370-430)
      if (nextReportTime == -1L) nextReportTime = e.timestamp + reportingDistance
      else if (e.timestamp >= nextReportTime) {
        val batch = ClassStats(cum.tp - prev.tp, cum.tn - prev.tn,
          cum.fp - prev.fp, cum.fn - prev.fn)
        val report = adapt.Report(e.timestamp, key,
          adapt.MetricGroup.of(cum), adapt.MetricGroup.ofBatch(batch))
        out += Out("report", key, counter, e.id, e.timestamp,
          batch.tp, batch.fp, report.batch.mcc, positive = batch.tp + batch.fp + batch.fn > 0,
          payload = reportJson(report))
        prev = cum
        nextReportTime = e.timestamp + reportingDistance
      }
      out
    }
  }

  private def reportJson(r: adapt.Report): String = adapt.Json.render(
    "ts" -> r.timestamp, "key" -> r.key,
    "runtime" -> Map("tp" -> r.runtime.tp, "tn" -> r.runtime.tn, "fp" -> r.runtime.fp,
      "fn" -> r.runtime.fn, "mcc" -> r.runtime.mcc),
    "batch" -> Map("tp" -> r.batch.tp, "tn" -> r.batch.tn, "fp" -> r.batch.fp,
      "fn" -> r.batch.fn, "mcc" -> r.batch.mcc))

  /** Split the tagged union into the reference's three sinks
    * (InferenceJob.java:232-291 side outputs). */
  def split(out: Dataset[Out]): (Dataset[Out], Dataset[Out], Dataset[Out]) = (
    out.filter(col("kind") === "detection"),
    out.filter(col("kind") === "forecast"),
    out.filter(col("kind") === "report"))
}
