package graft.cef


/** C10: deterministic streaming runtime for windowed register (SREMO)
  * patterns — the DSRA path, count AND time windows.
  *
  * The reference makes register patterns forecastable by unrolling the NSRA
  * over the window and determinizing to a DSRA, then running WINDOW
  * staggered copies of it whose per-copy state forms a hyper-state
  * (fsm/symbolic/sra/nsra/NSRAUtils.scala:1-637,
  * dsra/DSRAStreaming.scala:58-315) — a design tied to count windows
  * (copies restart every (window)th event) whose cost multiplies by the
  * window length.
  *
  * This runtime performs the determinization LAZILY instead: ONE set of
  * reachable (state, valuation) configurations, advanced as a pure
  * function of the event (the execution strategy symbolic-automata
  * determinization uses when the alphabet is infinite, and what the
  * reference's Configuration objects carry, DSRAStreaming.scala:115-236),
  * with the window enforced per configuration through the first-TAKE
  * anchor — exactly the enumeration runtime's windowOk rule
  * (Runtime.scala `MatchRun.step`): a configuration whose span already
  * exceeds the window is dead and dropped before advancing. Configurations
  * that agree on (state, taken, register read-projections) are
  * future-equivalent up to the window; for count windows they merge
  * keeping the LATEST anchor (the counter is monotone, so the most
  * window-permissive representative dominates: it detects a superset of
  * the others' completions, all genuine), while time windows — whose
  * abs(ts-anchor) rule has no dominant anchor under out-of-order event
  * time — merge only configurations whose anchors coincide.
  *
  * Unlike the enumeration runtime there are no per-match threads: the
  * population is bounded by |Q| × (|read-value domain|+1)^registers —
  * independent of the window length AND of match overlap, which is what
  * makes the path deterministic and forecast-ready. Unlike the reference's
  * staggered copies there is no ×window work factor, time windows work
  * identically to count windows, and patterns with pre-take IGNORE
  * advances are fine (the anchor starts the window at the first TAKE
  * wherever it happens).
  *
  * [[graft.cef.spark.Detect.detectionsDsra]] runs it per key; DsraSpec
  * pins detection-point equivalence against the enumeration runtime for
  * both window kinds.
  */
final class DsraRun(
    cp: CompiledPattern,
    val partition: String,
    maxConfigs: Int = DsraRun.DefaultMaxConfigs)
    extends KeyedRun[DsraRunState, Detection] with Serializable {
  require(cp.window > 0,
    "the DSRA path needs a window ({window:N}{windowType:count|time}) — an unwindowed " +
      "register pattern keeps every taken configuration alive forever; use the " +
      "match-enumeration runtime")

  private val W: Long = cp.window
  private val timeWindowed: Boolean = cp.windowKind == WindowKind.Time
  private val nfa = cp.snfa
  private var counter = 0L
  // monotone per-step stamp for the lazy guard/attribute memos — never
  // rewound (counter can be, via restore())
  private var stamp = 0L

  // register names in a fixed order, known at construction: valuations are
  // fixed-arity arrays indexed by THIS order (null = unbound) — no Map
  // allocation or hashing on the hot path. Read-only registers (referenced
  // by a guard but never written) get a slot too: the slot stays null and
  // the predicate evaluates false, exactly the enumeration runtime's
  // v.get(r) → None behavior.
  private val regNames: Array[String] =
    (nfa.trans.flatMap(_.register) ++
      nfa.trans.flatMap(_.guard).flatMap(_.registersRead)).distinct.sorted.toArray
  private val regIdx: Map[String, Int] = regNames.zipWithIndex.toMap
  private val R = regNames.length

  // Per-register READ PROJECTION: the attributes guards can ever read from
  // each register, collected statically from the closed register-predicate
  // family. Two configurations whose bound events agree on these
  // projections are future-equivalent — every guard evaluation observes
  // only the projection — so config identity hashes the projection VALUES
  // instead of the bound event ids: the live population is bounded by the
  // read-value domain, not by the window size (binding 1000 different
  // events with the same read value is ONE configuration). `idKeyed`
  // degrades to id-based identity if an unknown register-reading predicate
  // ever appears (none exists in the closed ADT).
  private val (needNum, needStr, idKeyed) = {
    val nn = Array.fill(R)(scala.collection.mutable.LinkedHashSet.empty[String])
    val ns = Array.fill(R)(scala.collection.mutable.LinkedHashSet.empty[String])
    var unknown = false
    nfa.trans.flatMap(_.guard).flatMap(_.predicates).foreach {
      case Predicate.EQAttr(a, r)    => nn(regIdx(r)) += a
      case Predicate.GTAttr(a, r)    => nn(regIdx(r)) += a
      case Predicate.LTAttr(a, r)    => nn(regIdx(r)) += a
      case Predicate.EQAttrStr(a, r) => ns(regIdx(r)) += a
      case p                         => if (p.registersRead.nonEmpty) unknown = true
    }
    (nn.map(_.toArray), ns.map(_.toArray), unknown)
  }
  private val numOff: Array[Int] = needNum.scanLeft(0)((acc, a) => acc + a.length)
  private val strOff: Array[Int] = needStr.scanLeft(0)((acc, a) => acc + a.length)
  private val totNum: Int = numOff(R)
  private val totStr: Int = strOff(R)

  // Non-throwing twins of CEvent.numberOf/stringOf for projection capture:
  // a missing attribute projects to NaN/null (the guard itself still throws
  // if it actually evaluates the missing attribute, as before).
  private def numProj(x: CEvent, a: String): Double = a match {
    case "Id"        => x.id.toDouble
    case "Timestamp" => x.timestamp.toDouble
    case _ => x.num.getOrElse(a,
      x.str.get(a).flatMap(_.toDoubleOption).getOrElse(Double.NaN))
  }
  private def strProj(x: CEvent, a: String): String = a match {
    case "Id"        => x.id.toString
    case "EventType" => x.eventType
    case "Timestamp" => x.timestamp.toString
    case _ => x.str.getOrElse(a, x.num.get(a).map(_.toString).orNull)
  }
  private def writeProj(slot: Int, x: CEvent, pn: Array[Double], ps: Array[String]): Unit = {
    val nn = needNum(slot)
    var j = 0
    while (j < nn.length) { pn(numOff(slot) + j) = numProj(x, nn(j)); j += 1 }
    val ns = needStr(slot)
    j = 0
    while (j < ns.length) { ps(strOff(slot) + j) = strProj(x, ns(j)); j += 1 }
  }

  // ------------------------------------------------- guard compilation
  // Sentences are compiled ONCE at construction into closures over the
  // (event, register-array) pair — the per-event path never touches the
  // Sentence ADT or builds a Map[String, CEvent] (the reference evaluates
  // formula trees per configuration too, DSRAStreaming.scala:115-236; the
  // compile-to-closure step is this runtime's throughput lever).
  private type Guard = (CEvent, Array[CEvent]) => Boolean

  // Register-FREE guard subtrees depend only on the event, so their truth
  // is computed at most ONCE per event (the SDFA path's symbol evaluation)
  // instead of once per configuration: each distinct subtree gets a slot,
  // filled LAZILY on first use per event (stamp = the event counter) — a
  // guard that no live configuration reaches is never evaluated, so an
  // event lacking an attribute referenced elsewhere in the pattern keeps
  // the old lazy-evaluation behavior (no eager NoSuchElementException).
  private val preGuards = scala.collection.mutable.ArrayBuffer.empty[CEvent => Boolean]
  private val preSlots = scala.collection.mutable.HashMap.empty[Sentence, Int]
  // ... and the EVENT-side attribute read of a register predicate is also
  // config-invariant: hoist e.numberOf(attr)/e.stringOf(attr) into a
  // per-event slot so the per-config closure only touches the STORED event
  private val numAttrs = scala.collection.mutable.ArrayBuffer.empty[String]
  private val numSlots = scala.collection.mutable.HashMap.empty[String, Int]
  private val strAttrs = scala.collection.mutable.ArrayBuffer.empty[String]
  private val strSlots = scala.collection.mutable.HashMap.empty[String, Int]
  private def numSlot(a: String): Int =
    numSlots.getOrElseUpdate(a, { numAttrs += a; numAttrs.length - 1 })
  private def strSlot(a: String): Int =
    strSlots.getOrElseUpdate(a, { strAttrs += a; strAttrs.length - 1 })

  private def num(n: Int, e: CEvent): Double = {
    if (numStamp(n) != stamp) { preNums(n) = e.numberOf(numAttrArr(n)); numStamp(n) = stamp }
    preNums(n)
  }
  private def str(n: Int, e: CEvent): String = {
    if (strStamp(n) != stamp) { preStrs(n) = e.stringOf(strAttrArr(n)); strStamp(n) = stamp }
    preStrs(n)
  }

  private def compilePred(p: Predicate): Guard = p match {
    case Predicate.EQAttr(a, r) =>
      val i = regIdx(r); val n = numSlot(a)
      (e, v) => { val x = v(i); x != null && num(n, e) == x.numberOf(a) }
    case Predicate.GTAttr(a, r) =>
      val i = regIdx(r); val n = numSlot(a)
      (e, v) => { val x = v(i); x != null && num(n, e) > x.numberOf(a) }
    case Predicate.LTAttr(a, r) =>
      val i = regIdx(r); val n = numSlot(a)
      (e, v) => { val x = v(i); x != null && num(n, e) < x.numberOf(a) }
    case Predicate.EQAttrStr(a, r) =>
      val i = regIdx(r); val n = strSlot(a)
      (e, v) => { val x = v(i); x != null && str(n, e) == x.stringOf(a) }
    case p if p.registersRead.isEmpty =>
      (e, _) => p.eval(e)
    case p => // closed-ADT safety net: rebuild the Map view (never hit —
      // the four register predicates above are the whole register family)
      (e, v) => {
        var m = Map.empty[String, CEvent]
        var i = 0
        while (i < R) { if (v(i) != null) m = m.updated(regNames(i), v(i)); i += 1 }
        p.eval(e, m)
      }
  }

  private def compileSentence(s: Sentence): Guard =
    if (s.registersRead.isEmpty) {
      val slot = preSlots.getOrElseUpdate(s, {
        preGuards += ((e: CEvent) => s.eval(e))
        preGuards.length - 1
      })
      (e, _) => {
        if (preStamp(slot) != stamp) { preVals(slot) = preGuardArr(slot)(e); preStamp(slot) = stamp }
        preVals(slot)
      }
    } else s match {
      case Sentence.Atomic(p) => compilePred(p)
      case Sentence.And(ss) =>
        val gs = ss.map(compileSentence).toArray
        (e, v) => { var i = 0; var ok = true; while (ok && i < gs.length) { ok = gs(i)(e, v); i += 1 }; ok }
      case Sentence.Or(ss) =>
        val gs = ss.map(compileSentence).toArray
        (e, v) => { var i = 0; var hit = false; while (!hit && i < gs.length) { hit = gs(i)(e, v); i += 1 }; hit }
      case Sentence.Not(s0) =>
        val g = compileSentence(s0); (e, v) => !g(e, v)
    }

  /** One compiled transition: guard closure + dense metadata. `reg` is the
    * register slot written (-1 = none); non-co-reachable destinations and
    * ε-transitions (guard = None never fires on an event) are dropped at
    * build time instead of re-checked per event.
    */
  private final class CTrans(
      val dst: Int, val take: Boolean, val reg: Int, val isFinal: Boolean, val guard: Guard)

  private val maxState: Int = (nfa.states + nfa.start).max
  private val byState: Array[Array[CTrans]] = {
    val a = Array.fill(maxState + 1)(Array.empty[CTrans])
    nfa.bySrc.foreach { case (src, ts) =>
      a(src) = ts.collect {
        case t if t.guard.isDefined && nfa.coReachable.contains(t.dst) =>
          new CTrans(t.dst, t.take, t.register.map(regIdx).getOrElse(-1),
            nfa.finals.contains(t.dst), compileSentence(t.guard.get))
      }.toArray
    }
    a
  }

  // sized AFTER byState compilation registered every slot; stamps mark
  // which event (counter value) a slot was last computed for — lazy memo,
  // no per-event clearing
  private val preVals: Array[Boolean] = new Array[Boolean](preGuards.length)
  private val preStamp: Array[Long] = Array.fill(preGuards.length)(-1L)
  private val preGuardArr: Array[CEvent => Boolean] = preGuards.toArray
  private val preNums: Array[Double] = new Array[Double](numAttrs.length)
  private val numStamp: Array[Long] = Array.fill(numAttrs.length)(-1L)
  private val numAttrArr: Array[String] = numAttrs.toArray
  private val preStrs: Array[String] = new Array[String](strAttrs.length)
  private val strStamp: Array[Long] = Array.fill(strAttrs.length)(-1L)
  private val strAttrArr: Array[String] = strAttrs.toArray

  /** One deterministic configuration: NSRA state, concrete registers
    * (fixed-arity, null = unbound) with their flattened read projections,
    * and whether the run has consumed a TAKE event (final + taken = a
    * match). The configuration IS its own dedup key: identity =
    * (state, taken, per-slot bound-ness, projection values) — see the
    * projection-table comment above. Unbound slots keep deterministic
    * zero/null projection sections, so projection equality never confuses
    * bound and unbound slots (bound-ness is compared first). hashCode is
    * precomputed at construction; doubles compare bitwise (Arrays.equals),
    * matching Double.hashCode, so NaN projections dedup consistently.
    */
  private final class Config(
      val state: Int, val regs: Array[CEvent], val taken: Boolean,
      val projNum: Array[Double], val projStr: Array[String]) {
    /** counter (count windows) or timestamp (time windows) of the first
      * TAKE; -1 while pre-take. For COUNT windows it is NOT part of
      * identity: the counter is monotone, so diff = counter - anchor only
      * grows and the max anchor dominates — merged configurations keep it.
      * For TIME windows the rule is abs(ts - anchor) and event time may
      * arrive out of order (late data across micro-batches), so NO anchor
      * dominates; it joins the equality check instead (configs merge only
      * when their windows coincide). */
    var anchor: Long = -1L

    override val hashCode: Int = {
      var h = state * 31 + (if (taken) 1 else 0)
      var i = 0
      while (i < regs.length) {
        val x = regs(i)
        h = h * 31 + (if (x == null) 7
          else if (idKeyed) java.lang.Long.hashCode(x.id) else 13)
        i += 1
      }
      i = 0
      while (i < projNum.length) { h = h * 31 + java.lang.Double.hashCode(projNum(i)); i += 1 }
      i = 0
      while (i < projStr.length) {
        val x = projStr(i); h = h * 31 + (if (x == null) 0 else x.hashCode); i += 1
      }
      h
    }
    override def equals(o: Any): Boolean = o match {
      case c: Config => c.state == state && c.taken == taken &&
        (!timeWindowed || c.anchor == anchor) && sameRegs(c) &&
        java.util.Arrays.equals(c.projNum, projNum) && sameStr(c.projStr)
      case _ => false
    }
    private def sameRegs(c: Config): Boolean = {
      var i = 0
      while (i < regs.length) {
        val a = regs(i); val b = c.regs(i)
        if ((a == null) != (b == null)) return false
        if (idKeyed && a != null && a.id != b.id) return false
        i += 1
      }
      true
    }
    private def sameStr(o: Array[String]): Boolean = {
      var i = 0
      while (i < projStr.length) { if (projStr(i) != o(i)) return false; i += 1 }
      true
    }
  }

  private val startConfig = new Config(nfa.start, new Array[CEvent](R), taken = false,
    new Array[Double](totNum), new Array[String](totStr))
  // java.util.LinkedHashMap keyed by the self-keyed Config: deterministic
  // insertion-order iteration, putIfAbsent = dedup + insert in one hash op
  // (map, not set, so a merge can reach the kept config to raise its anchor)
  private var live = new java.util.LinkedHashMap[Config, Config]
  // double-buffered work map: cleared and swapped each step instead of
  // allocating a fresh map per event
  private var work = new java.util.LinkedHashMap[Config, Config]

  /** Total live configurations. Projection-keyed identity bounds this by
    * |Q| × (|read-value domain|+1)^registers — independent of the window
    * length and of match overlap (DsraSpec asserts the legacy
    * window-derived bound, which is looser). */
  def activeConfigs: Int = live.size
  /** Configurations dropped by the population guard since construction. */
  def evictedConfigs: Long = evicted
  private var evicted: Long = 0L

  /** Events processed (resets excluded) — the runtime's position counter. */
  def eventCounter: Long = counter

  /** Whether the last `step` fired a first-TAKE transition, i.e. created
    * (or re-anchored) a taken configuration whose window anchor is THIS
    * step — the explicit arming signal [[graft.cef.spark.Detect.dsraTrace]]
    * keys SymA on. Timestamp equality against [[newestTakenAnchor]] cannot
    * express this: a non-arming event whose event time ties an earlier
    * same-ts anchor would misclassify as arming.
    */
  def tookAnchorThisStep: Boolean = armed
  private var armed = false

  /** The NEWEST window anchor among live taken configurations (-1 if no
    * taken configuration is live) — counter units for count windows,
    * event time for time windows. This is the deterministic observable
    * the SPSTm-style forecaster keys its state abstraction on: together
    * with the per-event symbol it summarizes the hyper-state's window
    * debt (see [[graft.cef.spark.Detect.dsraTrace]]).
    */
  def newestTakenAnchor: Long = {
    var m = -1L
    val it = live.values.iterator()
    while (it.hasNext) {
      val c = it.next()
      if (c.taken && c.anchor > m) m = c.anchor
    }
    m
  }

  def reset(): Unit = live.clear()

  /** Population guard: the projection-keyed identity bounds the live set
    * by the read-value DOMAIN — but an adversarial domain (every event
    * carries a fresh read value) grows it linearly within the window,
    * and at scale that OOMs the executor holding the hot key. Cap the
    * population per key, evicting the OLDEST window anchors first
    * (mirroring MatchRun's thread-pool guard, the analogue of the
    * reference RunPool's expirationDeadline): recent anchors are the
    * configurations a future event can still complete inside any
    * realistic horizon. Pre-take configurations rank newest (they carry
    * no window debt). Survivors keep their insertion order, so the
    * runtime stays fully deterministic.
    *
    * Eviction is BATCHED: a trigger trims to the low-water mark (90% of
    * cap), not to the cap itself. Trimming exactly to the cap would make
    * a stream that pins the population at `maxConfigs` re-sort the full
    * live array on EVERY event — an O(n log n)-per-event throughput
    * cliff under sustained adversarial load. With the low-water trim the
    * next trigger needs cap/10 fresh insertions, amortizing each sort
    * over that many events (ThroughputSpec pins the at-cap floor).
    */
  private def enforceCap(): Unit = {
    if (live.size() <= maxConfigs) return
    import scala.jdk.CollectionConverters._
    val lowWater = math.max(1, maxConfigs - maxConfigs / 10)
    val arr = live.values.asScala.toArray
    def age(c: Config): Long = if (c.taken) c.anchor else Long.MaxValue
    val survivors = arr.zipWithIndex
      .sortBy { case (c, i) => (-age(c), -i) }
      .take(lowWater)
      .sortBy(_._2)
    val kept = new java.util.LinkedHashMap[Config, Config]
    survivors.foreach { case (c, _) => kept.put(c, c) }
    if (evicted == 0L)
      // surface the silent-drop ONCE PER LOGICAL RUN: evicted
      // configurations mean some detections may be missing from this
      // key's output. The guard is the counter itself, which
      // snapshot/restore carries across GroupState round-trips — a
      // streaming key warns on its first-ever eviction, not once per
      // micro-batch (DsraSpec pins one line + an accurate count)
      System.err.println(
        s"[graft] DsraRun key '$partition': configuration population exceeded " +
          s"$maxConfigs; evicting oldest window anchors (detections may be " +
          "dropped — raise maxConfigs or tighten the pattern's window)")
    evicted += arr.length - lowWater
    live = kept
  }

  /** Snapshot/restore for streaming GroupState (the configuration set +
    * valuations + window anchors, reference DSRAStreaming Configuration
    * payloads). */
  def snapshot: DsraRunState = {
    import scala.jdk.CollectionConverters._
    DsraRunState(counter, live.keySet.asScala.toSeq.map { c =>
      val reg = (0 until R).collect {
        case i if c.regs(i) != null => regNames(i) -> c.regs(i)
      }.toMap
      DsraConfigState(c.state, reg, c.taken, c.anchor)
    }, evicted)
  }

  def restore(s: DsraRunState): Unit = {
    counter = s.counter
    // the eviction counter is LOGICAL-RUN state: carrying it across
    // GroupState round-trips keeps evictedConfigs accurate over a
    // streaming key's whole life AND keeps the population warning at
    // one line per logical run — without this, every micro-batch
    // restored evicted=0 and re-warned, flooding the driver log at
    // production key cardinality (r15 VERDICT burr #2)
    evicted = s.evicted
    reset()
    s.configs.foreach { cs =>
      val regs = new Array[CEvent](R)
      val pn = new Array[Double](totNum)
      val ps = new Array[String](totStr)
      cs.registers.foreach { case (n, e) =>
        val i = regIdx(n); regs(i) = e; writeProj(i, e, pn, ps)
      }
      val c = new Config(cs.state, regs, cs.taken, pn, ps)
      c.anchor = cs.anchor
      val prev = live.putIfAbsent(c, c)
      if (prev != null && !timeWindowed && cs.anchor > prev.anchor) prev.anchor = cs.anchor
    }
    enforceCap()
  }

  /** Process one event; a detection marks that ≥1 window-bounded match
    * completes AT this event (the deterministic runtime reports completion
    * points, not match enumerations — exactly like the SDFA path's DetRun).
    */
  def step(e: CEvent): Option[Detection] = {
    armed = false
    if (e.isReset) { reset(); return None }
    counter += 1
    stamp += 1
    var detected: Option[Detection] = None
    val next = work
    next.clear()
    def advance(c: Config): Unit = {
      // the enumeration runtime's windowOk rule (MatchRun.step): a config
      // whose first-TAKE span already reaches the window cannot complete
      // any more matches — drop it instead of advancing (dead run).
      // Anchored-ness is keyed on `taken` (anchor set exactly at the first
      // TAKE), NOT on an anchor sentinel value — a genuine event timestamp
      // of -1 must not disable the window check (MatchRun keys the same
      // rule on firstCounter for the same reason).
      if (c.taken) {
        val diff = if (timeWindowed) math.abs(e.timestamp - c.anchor) else counter - c.anchor
        if (diff >= W) return
      }
      val ts = byState(c.state)
      var i = 0
      while (i < ts.length) {
        val t = ts(i)
        if (t.guard(e, c.regs)) {
          val nc =
            if (t.reg >= 0) {
              val a = java.util.Arrays.copyOf(c.regs, R); a(t.reg) = e
              val pn = java.util.Arrays.copyOf(c.projNum, totNum)
              val ps = java.util.Arrays.copyOf(c.projStr, totStr)
              writeProj(t.reg, e, pn, ps)
              new Config(t.dst, a, c.taken || t.take, pn, ps)
            } else new Config(t.dst, c.regs, c.taken || t.take, c.projNum, c.projStr)
          nc.anchor =
            if (c.taken) c.anchor
            else if (t.take) { armed = true; if (timeWindowed) e.timestamp else counter }
            else -1L
          val prev = next.putIfAbsent(nc, nc)
          if (prev == null) {
            if (detected.isEmpty && t.isFinal && nc.taken)
              detected = Some(Detection(partition, counter, e.id, e.timestamp, nc.state))
          } else if (!timeWindowed && nc.anchor > prev.anchor)
            prev.anchor = nc.anchor // count windows: the max anchor dominates
        }
        i += 1
      }
    }
    advance(startConfig)
    val it = live.values.iterator()
    while (it.hasNext) advance(it.next())
    // swap the buffers: next becomes the live set, the old live set is
    // the next step's (cleared) work map
    work = live
    live = next
    enforceCap()
    detected
  }
}

object DsraRun {
  /** Default per-key configuration cap — same sizing rationale as
    * [[MatchRun.DefaultMaxThreads]]: far above what any well-behaved
    * read-value domain produces inside a window, small enough that a
    * thousand hot keys per executor cannot OOM it.
    */
  val DefaultMaxConfigs: Int = 10000
}

/** One symbolized step of the DSRA runtime's observable trace (symbol +
  * anchor-age state, see [[graft.cef.spark.Detect.dsraTrace]]). */
final case class DsraStep(
    partition: String, counter: Long, eventId: Long, symbol: Int, state: Int)

/** One serialized DSRA configuration (state + registers + window anchor). */
final case class DsraConfigState(
    state: Int, registers: Map[String, CEvent], taken: Boolean, anchor: Long)

/** Serializable snapshot of a [[DsraRun]] — the streaming GroupState payload. */
final case class DsraRunState(counter: Long, configs: Seq[DsraConfigState],
    evicted: Long = 0L)
