package perfbench

import graft.cef._
import graft.cef.adapt.{Json, MetricGroup, Report}
import graft.cef.spark.Inference.Out
import graft.cef.spark.RestorableSpstRun
import scala.collection.mutable

/** Single-thread reference for the streaming job: replays the generated
  * events in index order (which is each key's (timestamp, id) order)
  * through one [[RestorableSpstRun]] per key, applying each micro-batch's
  * control state the way the keyed engine does, and digests every output
  * row. The streaming digest must equal this one.
  *
  * The per-key reporting protocol is restated here from the engine's
  * contract (pending forecasts resolve at the first detection inside
  * their interval or at expiry; a report every `reportingDistance` of
  * event time; a model swap clears the counts).
  */
final class Replay(
    cp: CompiledPattern,
    models: Int => (Spst, Map[(List[Int], Int), ForecastInterval]),
    reportingDistance: Long) {

  final class Key(key: String) {
    var currentId = 0
    var latestId = 0
    var paused = false
    var pendingAt = -1L
    val run = { val (s, t) = models(0); new RestorableSpstRun(cp, s, t, key) }
    val pending = mutable.PriorityQueue.empty[(Boolean, Long, Long)](
      Ordering.by((p: (Boolean, Long, Long)) => -p._3))
    var cum = ClassStats(0, 0, 0, 0)
    var prev = ClassStats(0, 0, 0, 0)
    var nextReportTime = -1L
  }

  private val keys = mutable.HashMap.empty[String, Key]
  val digest = new Digest
  var events = 0L
  var stepNanos = 0L

  /** Replay one micro-batch: events [from, until) under the control state
    * (paused flag if any command came, latest model id) read at its
    * planning. */
  def batch(spec: GenSpec, from: Long, until: Long, paused: Option[Boolean], latestModelId: Int): Unit = {
    val seen = mutable.HashSet.empty[String]
    val it = spec.events(from, until)
    while (it.hasNext) {
      val e = it.next()
      val t0 = System.nanoTime()
      val k = keys.getOrElseUpdate(e.partition, new Key(e.partition))
      if (seen.add(e.partition)) {
        paused.foreach(k.paused = _)
        if (latestModelId >= 0) k.latestId = latestModelId
      }
      step(k, e)
      stepNanos += System.nanoTime() - t0
      events += 1
    }
  }

  private def emit(o: Out): Unit = digest.add(o)

  private def step(k: Key, e: CEvent): Unit = if (!k.paused) {
    val key = e.partition
    if (k.latestId != k.currentId) {
      if (k.pendingAt == -1L) k.pendingAt = e.timestamp
      if (e.timestamp >= k.pendingAt) {
        val (s, t) = models(k.latestId)
        k.run.swapModel(s, t)
        k.currentId = k.latestId
        k.pendingAt = -1L
        k.cum = ClassStats(0, 0, 0, 0); k.prev = ClassStats(0, 0, 0, 0)
      }
    }
    val (d, f) = k.run.step(e)
    d.foreach(x => emit(Out("detection", key, x.counter, x.eventId, x.timestamp, 0, 0, 1.0, positive = true, "")))
    f.foreach { x =>
      emit(Out("forecast", key, x.counter, x.eventId, x.timestamp, x.startCounter, x.endCounter,
        x.prob, x.positive, ""))
      k.pending += ((x.positive, x.startCounter, x.endCounter))
    }
    d.foreach { det =>
      val kept = k.pending.dequeueAll.filter { (p: (Boolean, Long, Long)) =>
        if (p._2 <= det.counter && det.counter <= p._3) {
          k.cum += (if (p._1) ClassStats(1, 0, 0, 0) else ClassStats(0, 0, 0, 1))
          false
        } else true
      }
      k.pending ++= kept
    }
    val counter = k.run.eventCounter
    while (k.pending.nonEmpty && k.pending.head._3 < counter) {
      val (pos, _, _) = k.pending.dequeue()
      k.cum += (if (pos) ClassStats(0, 0, 1, 0) else ClassStats(0, 1, 0, 0))
    }
    if (k.nextReportTime == -1L) k.nextReportTime = e.timestamp + reportingDistance
    else if (e.timestamp >= k.nextReportTime) {
      val c = k.cum; val p = k.prev
      val b = ClassStats(c.tp - p.tp, c.tn - p.tn, c.fp - p.fp, c.fn - p.fn)
      val r = Report(e.timestamp, key, MetricGroup.of(c), MetricGroup.ofBatch(b))
      emit(Out("report", key, counter, e.id, e.timestamp, b.tp, b.fp, r.batch.mcc,
        positive = b.tp + b.fp + b.fn > 0, payload = Replay.reportJson(r)))
      k.prev = c
      k.nextReportTime = e.timestamp + reportingDistance
    }
  }
}

object Replay {
  /** The engine's report payload. */
  def reportJson(r: Report): String = Json.render(
    "ts" -> r.timestamp, "key" -> r.key,
    "runtime" -> Map("tp" -> r.runtime.tp, "tn" -> r.runtime.tn, "fp" -> r.runtime.fp,
      "fn" -> r.runtime.fn, "mcc" -> r.runtime.mcc),
    "batch" -> Map("tp" -> r.batch.tp, "tn" -> r.batch.tn, "fp" -> r.batch.fp,
      "fn" -> r.batch.fn, "mcc" -> r.batch.mcc))

  /** A report row back into a [[Report]] (the Observer's input). */
  def parseReport(payload: String): Report = {
    implicit val f: org.json4s.Formats = Json.formats
    val j = Json.parse(payload)
    def g(x: org.json4s.JValue) = MetricGroup(
      (x \ "tp").extract[Long], (x \ "tn").extract[Long], (x \ "fp").extract[Long],
      (x \ "fn").extract[Long], 0, 0, 0, (x \ "mcc").extract[Double])
    Report((j \ "ts").extract[Long], (j \ "key").extract[String], g(j \ "runtime"), g(j \ "batch"))
  }
}
