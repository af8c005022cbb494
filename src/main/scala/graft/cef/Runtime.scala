package graft.cef

import scala.collection.mutable

/** A completed detection: the point in the stream where the deterministic
  * run reached a final state.
  */
final case class Detection(
    partition: String,
    counter: Long,
    eventId: Long,
    timestamp: Long,
    state: Int)

/** A fully enumerated match from the nondeterministic runtime. */
final case class MatchOut(
    partition: String,
    eventIds: Seq[Long],
    counters: Seq[Long],
    firstTimestamp: Long,
    lastTimestamp: Long)

/** The per-key runtime contract the keyed drivers of `graft.cef.spark`
  * run: one instance per key, [[restore]]d from the previous micro-batch's
  * snapshot (streaming only), stepped over the key's events in
  * (timestamp, id) order, then [[snapshot]]ted. `step` returns any
  * collection, so a runtime whose step yields an `Option` or a `List`
  * implements it as is.
  */
trait KeyedRun[S, +O] {
  def restore(s: S): Unit
  def snapshot: S
  def step(e: CEvent): IterableOnce[O]
}

/** Deterministic run over the streaming SDFA — the inner loop of the keyed
  * stateful operator (reference fsm/runtime/Run.scala:161-300 processEventDet).
  *
  * Keeps: current state, an event counter, and the running match's min
  * counter/timestamp for the window check. On window violation the run
  * resets to start and reprocesses the event from there (the reference's
  * "nowhere to go" branch, Run.scala:221-238). Reset events return the run to
  * its start state and clear the match (Run.scala:305-327).
  *
  * Mutable by design: one instance per partition key lives inside
  * mapPartitions / flatMapGroupsWithState state.
  */
final class DetRun(cp: CompiledPattern, val partition: String)
    extends KeyedRun[DetRunState, Detection] with Serializable {
  private val sdfa = cp.sdfa
  private var state: Int = sdfa.start
  private var counter: Long = 0L
  // min counter / timestamp of the running match; -1 = empty match
  private var minCounter: Long = -1L
  private var minTs: Long = -1L

  def currentState: Int = state
  def eventCounter: Long = counter

  def reset(): Unit = { state = sdfa.start; minCounter = -1L; minTs = -1L }

  /** Restore from a snapshot (state kept across micro-batches in streaming —
    * the reference's 5-tuple snapshot, WayebEngine.java:276-287). */
  def restore(s: DetRunState): Unit = {
    state = s.state; counter = s.counter; minCounter = s.minCounter; minTs = s.minTs
  }
  def snapshot: DetRunState = DetRunState(state, counter, minCounter, minTs)

  private def windowOk(ts: Long): Boolean =
    cp.window == 0L || minCounter == -1L || {
      val diff = cp.windowKind match {
        case WindowKind.Count => counter - minCounter
        case WindowKind.Time  => math.abs(ts - minTs)
      }
      diff < cp.window
    }

  /** Process one event; returns Some(detection) when a final state is hit. */
  def step(e: CEvent): Option[Detection] = step(e, Int.MinValue)

  /** Variant taking the event's pre-evaluated symbol (Int.MinValue =
    * evaluate here) — forecasting runs already evaluate it for the buffer,
    * and predicate evaluation is the per-event hot path. */
  def step(e: CEvent, precomputedSym: Int): Option[Detection] = {
    if (e.isReset) { reset(); return None }
    counter += 1
    if (!windowOk(e.timestamp)) reset()
    val sym = if (precomputedSym == Int.MinValue) sdfa.iso.evaluate(e) else precomputedSym
    if (sym < 0) return None
    val take = sdfa.takes(state)(sym)
    state = sdfa.delta(state)(sym)
    if (take && minCounter == -1L) { minCounter = counter; minTs = e.timestamp }
    if (sdfa.isFinal(state)) {
      val d = Detection(partition, counter, e.id, e.timestamp, state)
      // full match detected: clear the match, keep the counter running
      // (reference Run.scala emitForecasts: "Do not reset counter")
      minCounter = -1L; minTs = -1L
      Some(d)
    } else None
  }
}

/** Serializable snapshot of a [[DetRun]] — the streaming GroupState payload. */
final case class DetRunState(state: Int, counter: Long, minCounter: Long, minTs: Long)

/** Nondeterministic match-enumeration runtime over the ε-free SNFA
  * (reference engine/ERFEngine.scala:287-340 run cloning + fsm/runtime/
  * Match.scala). Each active thread is a (state, taken events) tuple; a
  * fresh thread is seeded at every event, which together with thread cloning
  * yields the OVERLAP count policy: every distinct full match is reported.
  *
  * Threads are deduplicated per step on (state, taken ids); threads whose
  * state cannot reach a final state are dropped (the reference kills dead
  * runs, ERFEngine.scala:300-305); count/time windows additionally prune
  * threads whose match span exceeds the window, bounding the thread
  * population for windowed patterns.
  */
final class MatchRun(
    cp: CompiledPattern,
    val partition: String,
    maxThreads: Int = MatchRun.DefaultMaxThreads)
    extends KeyedRun[MatchRunState, MatchOut] with Serializable {
  private val nfa = cp.snfa
  private var threads: List[MatchRun.Thread] = Nil
  private var counter: Long = 0L
  private var evicted: Long = 0L

  private val prep = new PreparedTrans(cp)
  private def byState = prep.byState
  private val guardArr: Array[Sentence] = prep.guardArr
  private val guardVals: Array[Boolean] = new Array[Boolean](guardArr.length)
  private val guardStamp: Array[Long] = Array.fill(guardArr.length)(-1L)
  private var stamp = 0L // monotone per-step memo stamp (never rewound)

  def activeThreads: Int = threads.size
  /** Threads dropped by the population guard since construction. */
  def evictedThreads: Long = evicted
  def reset(): Unit = { threads = Nil }

  def restore(s: MatchRunState): Unit = {
    counter = s.counter
    threads = s.threads.map { t =>
      MatchRun.Thread(t.state, t.ids.toList, t.counters.toList, t.tss.toList, t.valuation,
        if (t.counters.isEmpty) -1L else t.counters.last,
        if (t.tss.isEmpty) -1L else t.tss.last)
    }.toList
  }
  def snapshot: MatchRunState =
    MatchRunState(counter,
      threads.map(t => ThreadState(t.state, t.ids, t.counters, t.tss, t.valuation)))

  /** Process one event; returns the matches completed AT this event. */
  def step(e: CEvent): List[MatchOut] = {
    if (e.isReset) { reset(); return Nil }
    counter += 1
    stamp += 1
    val out = mutable.ListBuffer[MatchOut]()
    val cand = MatchRun.Thread(nfa.start, Nil, Nil, Nil, Map.empty, -1L, -1L) :: threads
    val seen = mutable.HashSet[(Int, List[Long], List[Long])]()
    val nextThreads = mutable.ListBuffer[MatchRun.Thread]()
    cand.foreach { th =>
      // window span measures from the FIRST taken event (DetRun's
      // minCounter semantics; cached O(1) on the thread rather than
      // walking the prepended lists)
      val windowOk = cp.window == 0L || th.firstCounter == -1L || {
        val diff = cp.windowKind match {
          case WindowKind.Count => counter - th.firstCounter
          case WindowKind.Time  => math.abs(e.timestamp - th.firstTs)
        }
        diff < cp.window
      }
      if (windowOk) {
        val pts = byState(th.state)
        var i = 0
        while (i < pts.length) {
          val pt = pts(i)
          val t = pt.t
          val fires =
            if (pt.cacheSlot >= 0) {
              val slot = pt.cacheSlot
              if (guardStamp(slot) != stamp) {
                guardVals(slot) = guardArr(slot).eval(e); guardStamp(slot) = stamp
              }
              guardVals(slot)
            } else t.guard.get.eval(e, th.valuation)
          if (fires) {
            // SREMO: a register-declaring transition stores the event
            val nextVal = t.register match {
              case Some(r) => th.valuation.updated(r, e)
              case None    => th.valuation
            }
            val nt =
              if (t.take) MatchRun.Thread(t.dst, e.id :: th.ids, counter :: th.counters,
                e.timestamp :: th.tss, nextVal,
                if (th.firstCounter == -1L) counter else th.firstCounter,
                if (th.firstCounter == -1L) e.timestamp else th.firstTs)
              else th.copy(state = t.dst, valuation = nextVal)
            val valKey =
              if (nt.valuation.isEmpty) Nil
              else nt.valuation.values.map(_.id).toList.sorted
            if (seen.add((nt.state, nt.ids, valKey))) {
              nextThreads += nt
              if (pt.isFinal && nt.ids.nonEmpty)
                out += MatchOut(partition, nt.ids.reverse, nt.counters.reverse, nt.tss.last, nt.tss.head)
            }
          }
          i += 1
        }
      }
    }
    threads = nextThreads.toList
    // Population guard: dedup + co-reachability + windows bound threads for
    // well-formed patterns, but an unwindowed skip-till-any pattern on an
    // adversarial key grows partial matches without limit — at scale that
    // OOMs the executor holding the hot key. Cap the pool per key, evicting
    // the OLDEST partial matches first (the analogue of the reference
    // RunPool's expirationDeadline, RunPool.scala): recent partials are the
    // ones a future event can still complete inside any realistic horizon.
    if (threads.size > maxThreads) {
      val sorted = threads.sortBy(t => if (t.firstCounter == -1L) -counter else -t.firstCounter)
      threads = sorted.take(maxThreads)
      if (evicted == 0L)
        // surface the silent-drop once per run: evicted partials mean some
        // matches will be missing from the output of this key
        System.err.println(
          s"[graft] MatchRun key '$partition': thread population exceeded $maxThreads; " +
            "evicting oldest partial matches (older matches may be dropped — raise " +
            "maxThreads or add a {window} to the pattern)")
      evicted += sorted.size - maxThreads
    }
    out.toList.distinct
  }
}

object MatchRun {
  /** Default per-key thread cap. 10k threads ≈ a few MB per hot key —
    * far above anything a windowed or well-formed pattern produces, small
    * enough that a thousand hot keys per executor cannot OOM it.
    */
  val DefaultMaxThreads: Int = 10000

  /** firstCounter/firstTs cache the match's first taken event (-1 = empty
    * match) so the window check stays O(1) per step. */
  private[cef] final case class Thread(
      state: Int, ids: List[Long], counters: List[Long], tss: List[Long],
      valuation: Map[String, CEvent] = Map.empty,
      firstCounter: Long = -1L, firstTs: Long = -1L)

  /** Convenience: run a whole (sorted) event iterator through a fresh run. */
  def run(cp: CompiledPattern, partition: String, events: Iterator[CEvent]): Iterator[MatchOut] = {
    val r = new MatchRun(cp, partition)
    events.flatMap(r.step)
  }
}

final case class ThreadState(
    state: Int, ids: Seq[Long], counters: Seq[Long], tss: Seq[Long],
    valuation: Map[String, CEvent] = Map.empty)
final case class MatchRunState(counter: Long, threads: Seq[ThreadState])

/** Prepared ε-free transition table shared by [[MatchRun]] and [[MonoRun]]:
  * dead destinations (states from which no final state is reachable) and ε
  * arcs (guard = None never fires on an event) are dropped at build time,
  * final flags precomputed.
  *
  * `cacheSlot` ≥ 0 marks a register-FREE guard whose truth is event-only
  * and therefore computed at most once per event in the owning run's memo
  * instead of once per thread (the dominant cost on high-overlap windowed
  * patterns — thread counts grow with overlap, the distinct guard count
  * does not). The memo fills LAZILY on first use per event: a guard no
  * live thread reaches is never evaluated, so an event lacking an
  * attribute referenced elsewhere in the pattern keeps lazy-evaluation
  * behavior. The memo ARRAYS live in each run (guard truth is per-event,
  * stamps are per-run) — this class is the immutable, shareable part.
  */
private[cef] final class PreparedTrans(cp: CompiledPattern) extends Serializable {
  import PreparedTrans.PTrans
  private val nfa = cp.snfa
  private val cachedGuards = {
    val b = scala.collection.mutable.ArrayBuffer.empty[Sentence]
    val idx = scala.collection.mutable.HashMap.empty[Sentence, Int]
    (b, idx)
  }
  val byState: Array[Array[PTrans]] = {
    val coReachable = nfa.coReachable
    val maxState = (nfa.states + nfa.start).max
    val a = Array.fill(maxState + 1)(Array.empty[PTrans])
    nfa.bySrc.foreach { case (src, ts) =>
      a(src) = ts.collect {
        case t if t.guard.isDefined && coReachable.contains(t.dst) =>
          val slot = t.guard.get match {
            case g if g.registersRead.isEmpty =>
              cachedGuards._2.getOrElseUpdate(g, { cachedGuards._1 += g; cachedGuards._1.length - 1 })
            case _ => -1
          }
          new PTrans(t, slot, nfa.finals.contains(t.dst))
      }.toArray
    }
    a
  }
  val guardArr: Array[Sentence] = cachedGuards._1.toArray
}

private[cef] object PreparedTrans {
  final class PTrans(
      val t: NTrans, val cacheSlot: Int, val isFinal: Boolean) extends Serializable
}

/** Registry-free mono-run: the reference's optimized single-pattern,
  * no-partition recognition loop (engine/ERFOptEngine.scala:91-287 —
  * "Each run is no longer represented as a separate object of the Run
  * class. Instead, all runs are represented as simple lists of state IDs
  * and matches"), re-expressed over the same prepared SNFA table the
  * pooled [[MatchRun]] uses.
  *
  * The optimization this adds over [[MatchRun]] is the reference's
  * `updateActiveStates` memo (MonoRunSNFA.scala): runs are BUCKETED BY
  * STATE, so each active state's outgoing transitions are resolved against
  * the event ONCE for every run parked at that state, instead of once per
  * run. Eligibility is the SNFA regime the reference's mono-run covers:
  * register-free patterns (guards event-only — exactly the guards the
  * cacheSlot memo covers); [[MonoRun.eligible]] gates it and
  * `Detect.matchesMono` falls back to a single pooled run otherwise.
  *
  * Semantics are IDENTICAL to [[MatchRun]] on a single key (MonoRunSpec
  * fuzzes the equivalence): same fresh-thread seeding per event (OVERLAP
  * count policy), same (state, taken-ids) dedup, same window pruning and
  * population cap. `resetOnMatch` mirrors the reference engine's `reset`
  * flag (ERFOptEngine.scala:29 — runs reset to start after a full match);
  * it is OFF by default because the pooled engine has no such mode.
  */
final class MonoRun(
    cp: CompiledPattern,
    maxThreads: Int = MatchRun.DefaultMaxThreads,
    resetOnMatch: Boolean = false) extends Serializable {
  require(MonoRun.eligible(cp),
    "MonoRun covers register-free patterns (the reference mono-run's SNFA regime); " +
      "use MatchRun / Detect.matches for SREMO register patterns")
  import PreparedTrans.PTrans

  private val prep = new PreparedTrans(cp)
  private val start = cp.snfa.start
  private val guardVals: Array[Boolean] = new Array[Boolean](prep.guardArr.length)
  private val guardStamp: Array[Long] = Array.fill(prep.guardArr.length)(-1L)
  private var stamp = 0L
  private var counter = 0L
  private var evicted = 0L
  // flat run list, bucketed by current state (insertion-ordered buckets)
  private var threads: mutable.LinkedHashMap[Int, List[MatchRun.Thread]] =
    mutable.LinkedHashMap.empty

  def activeThreads: Int = threads.valuesIterator.map(_.size).sum
  def evictedThreads: Long = evicted
  def reset(): Unit = { threads = mutable.LinkedHashMap.empty }

  /** Process one event; returns the matches completed AT this event. */
  def step(e: CEvent): List[MatchOut] = {
    if (e.isReset) { reset(); return Nil }
    counter += 1
    stamp += 1
    val out = mutable.ListBuffer[MatchOut]()
    val seen = mutable.HashSet[(Int, List[Long])]()
    val next = mutable.LinkedHashMap.empty[Int, mutable.ListBuffer[MatchRun.Thread]]
    var total = 0

    def processGroup(state: Int, group: List[MatchRun.Thread]): Unit = {
      val pts = prep.byState(state)
      if (pts.isEmpty) return
      // resolve this state's firing transitions ONCE for the whole bucket
      var fired: List[PTrans] = Nil
      var i = pts.length - 1
      while (i >= 0) {
        val pt = pts(i)
        val slot = pt.cacheSlot
        if (guardStamp(slot) != stamp) {
          guardVals(slot) = prep.guardArr(slot).eval(e); guardStamp(slot) = stamp
        }
        if (guardVals(slot)) fired = pt :: fired
        i -= 1
      }
      if (fired.isEmpty) return
      group.foreach { th =>
        val windowOk = cp.window == 0L || th.firstCounter == -1L || {
          val diff = cp.windowKind match {
            case WindowKind.Count => counter - th.firstCounter
            case WindowKind.Time  => math.abs(e.timestamp - th.firstTs)
          }
          diff < cp.window
        }
        if (windowOk) fired.foreach { pt =>
          val t = pt.t
          val nt =
            if (t.take) MatchRun.Thread(t.dst, e.id :: th.ids, counter :: th.counters,
              e.timestamp :: th.tss, Map.empty,
              if (th.firstCounter == -1L) counter else th.firstCounter,
              if (th.firstCounter == -1L) e.timestamp else th.firstTs)
            else th.copy(state = t.dst)
          if (seen.add((nt.state, nt.ids))) {
            next.getOrElseUpdate(nt.state, mutable.ListBuffer.empty) += nt
            total += 1
            if (pt.isFinal && nt.ids.nonEmpty)
              out += MatchOut("", nt.ids.reverse, nt.counters.reverse, nt.tss.last, nt.tss.head)
          }
        }
      }
    }

    // the fresh empty run seeded at every event (OVERLAP policy), then
    // every parked bucket
    processGroup(start, MatchRun.Thread(start, Nil, Nil, Nil, Map.empty, -1L, -1L) :: Nil)
    threads.foreach { case (s, g) => if (s != start) processGroup(s, g) }
    // runs parked AT the start state still carry partial matches (ignore
    // self-loops) — process them after the seed so dedup keeps one copy
    threads.get(start).foreach(g => processGroup(start, g))

    threads = next.map { case (s, b) => s -> b.toList }
    if (total > maxThreads) {
      // same eviction policy as MatchRun's population guard: drop the
      // OLDEST partial matches first
      val flat = threads.valuesIterator.flatten.toList
        .sortBy(t => if (t.firstCounter == -1L) -counter else -t.firstCounter)
      val kept = flat.take(maxThreads)
      if (evicted == 0L)
        System.err.println(
          s"[graft] MonoRun: thread population exceeded $maxThreads; evicting oldest " +
            "partial matches (raise maxThreads or add a {window} to the pattern)")
      evicted += flat.size - maxThreads
      threads = mutable.LinkedHashMap.empty
      kept.foreach(t => threads(t.state) = t :: threads.getOrElse(t.state, Nil))
    }
    val res = out.toList.distinct
    if (resetOnMatch && res.nonEmpty) reset()
    res
  }
}

object MonoRun {
  /** The mono-run regime: every guard event-only, no SREMO registers. */
  def eligible(cp: CompiledPattern): Boolean =
    cp.snfa.trans.forall(t =>
      t.register.isEmpty && t.guard.forall(_.registersRead.isEmpty))

  /** Run a whole (sorted) event iterator through a fresh mono-run. */
  def run(cp: CompiledPattern, events: Iterator[CEvent],
      maxThreads: Int = MatchRun.DefaultMaxThreads): Iterator[MatchOut] = {
    val r = new MonoRun(cp, maxThreads)
    events.flatMap(r.step)
  }
}
