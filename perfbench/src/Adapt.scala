package perfbench

import graft.cef._
import graft.cef.adapt._
import graft.cef.spark.Inference
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, LinkedBlockingQueue}

/** The closed adaptation loop on one driver thread: per-key report rows
  * from the engine go through [[GlobalAggregator]] → [[Observer]] →
  * [[Controller]] → [[Factory]] (trained on [[Collector]] buckets of the
  * same stream's events), and the resulting sync commands wait in
  * `pendingSync` until the sink applies them to the [[Inference.ControlHandle]]
  * between micro-batches, so every batch runs under one known control state.
  *
  * The loop listens from `observeFrom` while event time is below
  * `activeUntil`, and runs one adaptation cycle: after the first play it
  * keeps aggregating reports (for the recovered MCC) but the Observer no
  * longer hears them, so the control plane stays quiet.
  */
final class AdaptLoop(
    cp: CompiledPattern,
    spec: GenSpec,
    dir: String,
    models: ConcurrentHashMap[Int, (Spst, Map[(List[Int], Int), ForecastInterval])],
    windowMicros: Long,
    observeFrom: Long,
    activeUntil: Long,
    tracer: Tracer) extends Thread("perfbench-adapt") {

  final case class Batch(from: Long, until: Long, reports: Seq[Report])
  private case object Stop

  private val inbox = new LinkedBlockingQueue[AnyRef]()
  val pendingSync = new ConcurrentLinkedQueue[SyncCommand]()

  private val collector = new Collector(s"$dir/collector", bucketSizeSec = windowMicros, lastK = 1)
  private val factory = new Factory(cp, s"$dir/models", order = 2)
  private val controller = new Controller()
  private val observer = new Observer()
  private val aggregator = new GlobalAggregator(windowMicros)

  // wall-clock marks (System.nanoTime) and counts, read after join()
  @volatile var instructions = Vector.empty[(Long, Instruction)]
  @volatile var globals = Vector.empty[Report]
  @volatile var evals = 0
  @volatile var evalNanos = 0L
  @volatile var collectorNanos = 0L
  @volatile var collectorBatches = 0
  @volatile var errors = Vector.empty[String]
  @volatile private var played = false

  def offer(b: Batch): Unit = inbox.put(b)
  def finish(): Unit = { inbox.put(Stop); join() }

  override def run(): Unit = {
    var going = true
    while (going) inbox.take() match {
      case Stop => going = false
      case b: Batch =>
        try handle(b)
        catch { case t: Throwable => errors :+= s"adapt loop: $t" }
    }
  }

  private def handle(b: Batch): Unit = {
    if (b.from >= b.until || spec.due(b.from) >= activeUntil) return
    val t0 = System.nanoTime()
    val evs = spec.events(b.from, b.until).filter(_.timestamp < activeUntil).toVector
    val notes = tracer.span("adapt.collector") { collector.processBatch(evs) }
    notes.foreach { n =>
      val ack = factory.onNotification(n, collector.readDataset(n))
      collector.onAck(ack)
    }
    collectorNanos += System.nanoTime() - t0
    collectorBatches += 1
    b.reports.filter(r => r.timestamp >= observeFrom && r.timestamp < activeUntil)
      .sortBy(_.timestamp).foreach { r =>
        aggregator.add(r).foreach { g =>
          globals :+= g
          if (!played) tracer.span("adapt.observer") { observer.onReport(g) }.foreach { ins =>
            instructions :+= (System.nanoTime() -> ins)
            route(controller.onInstruction(ins))
          }
        }
      }
    // the phase's last window has no later report to close it
    if (spec.due(b.until - 1) >= activeUntil) aggregator.flush().foreach(g => globals :+= g)
  }

  private def route(out: controller.Out): Unit = {
    out.syncCommands.foreach { c =>
      if (c.cmdType == "play") played = true
      pendingSync.add(c)
    }
    out.factoryCommands.foreach { cmd =>
      val t0 = System.nanoTime()
      val rep = tracer.span("adapt.factory." + cmd.cmdType) { factory.onCommand(cmd) }
      if (cmd.cmdType == "opt_step") { evals += 1; evalNanos += System.nanoTime() - t0 }
      if (rep.reportType == "error") errors :+= s"factory error on ${cmd.cmdType}: ${rep.metrics}"
      val routed =
        if (rep.reportType == "opt_finalised") {
          // factory model ids restart at 0, which the bootstrap model holds
          val id = rep.modelId + 1
          val spst = ModelStore.load(rep.modelPath)
          models.put(id, (spst, Main.table(spst)))
          rep.copy(modelId = id)
        } else rep
      route(controller.onFactoryReport(routed))
    }
  }
}
