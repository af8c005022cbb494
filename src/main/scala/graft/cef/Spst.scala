package graft.cef

import scala.collection.mutable

/** Symbolic Prediction Suffix Tree: the product of the streaming SDFA with a
  * PST over the minterm alphabet (reference fsm/SPSTInterface.scala).
  *
  * A virtual state is a (PST node label, SDFA state) pair; the runtime
  * tracks the SDFA state plus a cyclic buffer of the last `order` symbols,
  * and the waiting-time distribution of a virtual state is computed by
  * recursive path expansion: next-symbol probabilities come from the PST
  * conditioned on the label, state evolution from the SDFA
  * (SPSTInterface.scala:406-560 computeWtDistsOpt).
  */
final case class Spst(sdfa: Sdfa, pst: Pst, order: Int) {

  private type VState = (List[Int], Int)

  /** P(first hit of an SDFA final state at exactly t | current label+state),
    * with path-probability cutoff pruning (`wtCutoffThreshold` 0.001 in the
    * reference, ConfigUtils.scala).
    */
  def wtDistribution(
      label: List[Int],
      sdfaState: Int,
      horizon: Int,
      cutoff: Double = 0.001): WtDistribution = {
    val symbols = (0 until sdfa.iso.size).toList
    var frontier: List[(VState, Double)] = List(((label, sdfaState), 1.0))
    val wt = mutable.Map.empty[Int, Double]
    var t = 1
    while (t <= horizon && frontier.nonEmpty) {
      val expanded = mutable.Map.empty[VState, Double]
      var hit = 0.0
      frontier.foreach { case ((lbl, st), p) =>
        symbols.foreach { sym =>
          val pSym = pst.condProbFor(sym, lbl)
          if (pSym > 0) {
            val p2 = p * pSym
            val nextSt = sdfa.delta(st)(sym)
            if (sdfa.isFinal(nextSt)) hit += p2
            else if (p2 > cutoff) {
              val nextLbl = pst.nodeFor(sym :: lbl).label
              expanded((nextLbl, nextSt)) = expanded.getOrElse((nextLbl, nextSt), 0.0) + p2
            }
          }
        }
      }
      wt(t) = hit
      frontier = expanded.toList
      t += 1
    }
    WtDistribution(wt.toMap)
  }

  /** Forecast table for every reachable (leaf label × SDFA state) pair —
    * precomputed once per model at load time, O(1) lookup per event
    * (reference WtForecasterBuilder.scala:55-120).
    */
  def forecastTable(
      method: ForecastMethod,
      threshold: Double,
      spread: Int,
      horizon: Int,
      cutoff: Double = 0.001): Map[(List[Int], Int), ForecastInterval] = {
    val labels = pst.leaves.map(_.label).distinct
    val pairs = for {
      lbl <- labels
      st <- 0 until sdfa.nStates
    } yield (lbl, st)
    pairs.map { case (lbl, st) =>
      (lbl, st) -> wtDistribution(lbl, st, horizon, cutoff).build(method, threshold, spread)
    }.toMap
  }
}

/** SPSTm: waiting-time forecasting for REGISTER (SREMO) patterns over the
  * deterministic DSRA runtime (reference fsm/SPSTmInterface.scala,
  * workflow/task/fsmTask/SPSTmTask.scala: a PST learned from the symbols
  * of the symbolized dSRA, combined with the automaton state into virtual
  * states).
  *
  * The lazy config-set runtime has no per-transition symbol, so the
  * Spark-first construction symbolizes the runtime's deterministic
  * OBSERVABLES instead: each event maps to a 3-letter symbol
  * (detection / new window anchor / other, [[SpstM.SymD]]/[[SpstM.SymA]]/
  * [[SpstM.SymO]]) and the state abstraction is the age of the newest
  * live anchor capped at the window ([[SpstM.anchorAgeTables]]) — a pure
  * projection of the hyper-state ([[DsraRun.newestTakenAnchor]]). Both
  * are deterministic functions of the stream, so training distributes as
  * n-gram counting and the whole model has an exact SQL twin.
  *
  * A virtual state is a (PST label, abstract state) pair exactly as in
  * [[Spst]]; the wt distribution runs the same recursive path expansion
  * with next-symbol probabilities from the PST and state evolution from
  * the explicit delta table. `hit(st)(sym)` marks first passage: a
  * detection symbol observed while an anchor can still complete a match
  * (age ≤ W-2 — a detection at step t needs a live anchor strictly inside
  * the window at t-1).
  */
final case class SpstM(
    pst: Pst,
    order: Int,
    delta: Array[Array[Int]],
    hit: Array[Array[Boolean]]) {

  def nStates: Int = delta.length
  def nSymbols: Int = delta(0).length

  /** P(first detection at exactly t | current label+state) — the [[Spst]]
    * recursion with the explicit (delta, hit) tables. */
  def wtDistribution(
      label: List[Int],
      state: Int,
      horizon: Int,
      cutoff: Double = 0.001): WtDistribution = {
    val symbols = (0 until nSymbols).toList
    var frontier: List[((List[Int], Int), Double)] = List(((label, state), 1.0))
    val wt = mutable.Map.empty[Int, Double]
    var t = 1
    while (t <= horizon && frontier.nonEmpty) {
      val expanded = mutable.Map.empty[(List[Int], Int), Double]
      var hitMass = 0.0
      frontier.foreach { case ((lbl, st), p) =>
        symbols.foreach { sym =>
          val pSym = pst.condProbFor(sym, lbl)
          if (pSym > 0) {
            val p2 = p * pSym
            if (hit(st)(sym)) hitMass += p2
            else if (p2 > cutoff) {
              val nextSt = delta(st)(sym)
              val nextLbl = pst.nodeFor(sym :: lbl).label
              expanded((nextLbl, nextSt)) = expanded.getOrElse((nextLbl, nextSt), 0.0) + p2
            }
          }
        }
      }
      wt(t) = hitMass
      frontier = expanded.toList
      t += 1
    }
    WtDistribution(wt.toMap)
  }

  /** Forecast table over every (leaf label × abstract state) pair. */
  def forecastTable(
      method: ForecastMethod,
      threshold: Double,
      spread: Int,
      horizon: Int,
      cutoff: Double = 0.001): Map[(List[Int], Int), ForecastInterval] = {
    val labels = pst.leaves.map(_.label).distinct
    (for { lbl <- labels; st <- 0 until nStates } yield
      (lbl, st) -> wtDistribution(lbl, st, horizon, cutoff).build(method, threshold, spread)
    ).toMap
  }
}

object SpstM {
  /** Symbol alphabet of the DSRA-runtime trace: Other / new Anchor /
    * Detection. A detection event always also anchors (its completing
    * event satisfies the arming predicate transitively), so D wins. */
  val SymO = 0
  val SymA = 1
  val SymD = 2
  val NumSymbols = 3

  /** The anchor-age abstraction for a count window W: states 0..W where
    * state a < W means "newest live anchor is a events old" and W means
    * idle (no live anchor / age capped). Delta: an anchoring symbol (A or
    * D) resets the age to 0, O ages by one up to the cap. Hit: a
    * detection while the previous age admits a live in-window anchor
    * (a ≤ W-2). */
  def anchorAgeTables(w: Int): (Array[Array[Int]], Array[Array[Boolean]]) = {
    require(w >= 2, s"anchor-age abstraction needs a window >= 2, got $w")
    val delta = Array.tabulate(w + 1, NumSymbols)((st, sy) =>
      if (sy == SymO) math.min(st + 1, w) else 0)
    val hit = Array.tabulate(w + 1, NumSymbols)((st, sy) =>
      sy == SymD && st <= w - 2)
    (delta, hit)
  }
}

/** One emitted forecast, anchored at the event counter where it was made
  * (reference model/forecaster/runtime/RelativeForecast).
  */
final case class ForecastOut(
    partition: String,
    counter: Long,
    eventId: Long,
    timestamp: Long,
    startCounter: Long,
    endCounter: Long,
    prob: Double,
    positive: Boolean)

/** Per-key forecasting run: a [[DetRun]] plus the symbol buffer and the
  * precomputed forecast table (reference ForecasterRun.scala:58-120 wired
  * into WayebEngine.java:432-470). Emits a forecast after every event once
  * the buffer holds a full context (SPST warm-up, Run.scala:305-460), and
  * detections whenever the SDFA hits a final state. Its state (DetRun
  * 4-tuple + symbol buffer) snapshots and restores, and its model swaps in
  * place — what keyed streaming state needs (reference snapshot:
  * WayebEngine.java:276-287).
  */
final class SpstRun(
    cp: CompiledPattern,
    private var spst: Spst,
    private var table: Map[(List[Int], Int), ForecastInterval],
    val partition: String) extends Serializable {

  private val det = new DetRun(cp, partition)
  private var buffer = new SymbolBuffer(math.max(1, spst.order))

  def detSnapshot: DetRunState = det.snapshot
  def bufferSnapshot: Seq[Int] = buffer.snapshot
  def eventCounter: Long = det.eventCounter
  def restore(d: DetRunState, buf: Seq[Int]): Unit = { det.restore(d); buffer.restore(buf) }

  /** Swap the model; the symbol buffer survives (SPST warm-up across swaps,
    * reference Run.scala:305-460 + SURVEY.md §7.4). The snapshot is
    * most-recent-first; SymbolBuffer.restore keeps the newest `size`
    * symbols on overflow, so it is passed unchanged.
    */
  def swapModel(newSpst: Spst, newTable: Map[(List[Int], Int), ForecastInterval]): Unit = {
    val keep = buffer.snapshot
    spst = newSpst
    table = newTable
    buffer = new SymbolBuffer(math.max(1, newSpst.order))
    buffer.restore(keep)
  }

  def step(e: CEvent): (Option[Detection], Option[ForecastOut]) = {
    if (e.isReset) { det.reset(); buffer.clear(); return (None, None) }
    val sym = cp.iso.evaluate(e)
    if (sym >= 0) buffer.push(sym)
    val d = det.step(e, sym) // symbol already evaluated for the buffer
    val f =
      if (buffer.isFull) {
        val label = spst.pst.nodeFor(buffer.pop).label
        table.get((label, det.currentState)).filter(_.isValid).map { fi =>
          ForecastOut(partition, det.eventCounter, e.id, e.timestamp,
            det.eventCounter + fi.start, det.eventCounter + fi.end, fi.prob, fi.positive)
        }
      } else None
    (d, f)
  }
}
