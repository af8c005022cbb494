package graft.cef.spark

import graft.cef._
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TimeMode, TimerValues, TTLConfig}

/** Structured Streaming inference (SURVEY.md §7.1.2): the keyed stateful
  * operator that mirrors the reference's Flink engine
  * (java/.../WayebEngine.java:225-320) —
  *
  *   kafka/socket/memory source → parse → groupByKey(partitionAttr)
  *     → flatMapGroupsWithState[RunState, Output]
  *
  * GroupState persists exactly what the reference snapshots into Flink
  * ValueState (WayebEngine.java:276-287): automaton state, event counter,
  * running-match bounds, and (for forecasting runs) the symbol buffer.
  *
  * Events within a micro-batch are sorted by (timestamp, id) per key before
  * stepping the automaton — Spark gives no intra-batch order guarantee, and
  * automaton determinism requires event-time totality within a key
  * (SURVEY.md §7.4). Cross-batch reordering is NOT absorbed: like the
  * reference (which trusts Flink's keyed in-order delivery after the 60 s
  * watermark), callers should feed watermarked, de-duplicated input.
  */
object Stream {

  implicit private val detEnc: Encoder[Detection] = Encoders.product[Detection]
  implicit private val matchEnc: Encoder[MatchOut] = Encoders.product[MatchOut]
  implicit private val forecastEnc: Encoder[ForecastOut] = Encoders.product[ForecastOut]
  implicit private val detStateEnc: Encoder[DetRunState] = Encoders.product[DetRunState]
  implicit private val matchStateEnc: Encoder[MatchRunState] = Encoders.product[MatchRunState]
  implicit private val dsraStateEnc: Encoder[DsraRunState] = Encoders.product[DsraRunState]
  implicit private val spstStateEnc: Encoder[SpstStreamState] = Encoders.product[SpstStreamState]
  implicit private val spstmStateEnc: Encoder[SpstmStreamState] =
    Encoders.product[SpstmStreamState]

  /** The one keyed streaming driver: per key and micro-batch, a run is
    * built, restored from GroupState, stepped over the key's events in
    * (timestamp, id) order, and snapshotted back.
    *
    * `stateTtl` (milliseconds, 0 = keep forever) expires idle keys — the
    * Spark analogue of the reference's run-pool expiration GC
    * (`expirationDeadline`, ERFEngine.scala:95-101, RunPool.scala:186;
    * SURVEY.md §2.3 K5): a key that receives no events for the TTL loses
    * its run state and restarts from the run's initial state.
    */
  private[spark] def keyed[S: Encoder, O: Encoder](events: Ingest, stateTtl: Long = 0L)(
      mkRun: String => KeyedRun[S, O]): Dataset[O] = {
    val in = events.narrow
    val rebuild = in.rebuild
    val timeoutConf =
      if (stateTtl > 0) GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    in.byKey
      .flatMapGroupsWithState[S, O](OutputMode.Append, timeoutConf) {
        (key: String, rows: Iterator[in.Row], state: GroupState[S]) =>
          if (state.hasTimedOut) {
            state.remove() // stale run reclaimed
            Iterator.empty
          } else {
            val run = mkRun(key)
            state.getOption.foreach(run.restore)
            val out = sortedEvents(rows.map(rebuild)).toSeq.flatMap(run.step)
            state.update(run.snapshot)
            if (stateTtl > 0) state.setTimeoutDuration(stateTtl)
            out.iterator
          }
      }
  }

  /** One group's events in (timestamp, id) order — the intra-batch total
    * order automaton determinism requires. */
  private[spark] def sortedEvents(rows: Iterator[CEvent]): Array[CEvent] = {
    val arr = rows.toArray
    java.util.Arrays.sort(arr, (a: CEvent, b: CEvent) => {
      val c = java.lang.Long.compare(a.timestamp, b.timestamp)
      if (c != 0) c else java.lang.Long.compare(a.id, b.id)
    })
    arr
  }

  /** Deterministic detection-point stream (R1 over the streaming SDFA);
    * `stateTtl` as in [[keyed]]. */
  def detections(
      events: Ingest,
      cp: CompiledPattern,
      stateTtl: Long = 0L): Dataset[Detection] =
    keyed(events, stateTtl)(new DetRun(cp, _))

  /** C10 deterministic register-pattern stream: the DSRA hyper-state
    * (configuration set + valuations + window anchors) lives in GroupState, mirroring the
    * reference's DSRAStreaming Configuration payloads.
    */
  def detectionsDsra(events: Ingest, cp: CompiledPattern): Dataset[Detection] =
    keyed(events)(new DsraRun(cp, _))

  /** Full match-enumeration stream (R4): thread pool lives in GroupState,
    * like the reference's run pool registered per (fsmId, partition value)
    * (ERFEngine.scala:230-266, RunPool.scala:33-211).
    */
  def matches(
      events: Ingest,
      cp: CompiledPattern,
      maxThreads: Int = MatchRun.DefaultMaxThreads): Dataset[MatchOut] =
    keyed(events)(new MatchRun(cp, _, maxThreads))

  /** F5 through the streaming engine: the forecasting runtime
    * ([[SpstRun]] — DetRun 4-tuple + SPST symbol buffer) with
    * its state round-tripping through GroupState at every micro-batch
    * boundary, the same keyed-stateful shape as [[detections]]
    * (reference: the Flink engine emits forecasts from the identical
    * per-key snapshot, WayebEngine.java:276-320). The model and its
    * precomputed forecast table ride the task closure — they are
    * model-sized immutable values, exactly like the compiled pattern.
    */
  def forecasts(
      events: Ingest,
      cp: CompiledPattern,
      spst: Spst,
      table: Map[(List[Int], Int), ForecastInterval]): Dataset[ForecastOut] =
    keyed(events)(new ForecastRun(cp, spst, table, _))

  /** F5 for REGISTER patterns (C10×F2): the DSRA hyper-state
    * (configuration set + valuations + anchors) plus the SPSTm symbol
    * buffer round-trip GroupState at every micro-batch boundary. Each
    * event is symbolized from the runtime's observable trace exactly
    * like [[Detect.dsraTrace]] (detection / fresh anchor / other, and
    * the anchor-age abstract state, grid-bucketed for TIME windows),
    * and the (PST label, abstract state) pair indexes the precomputed
    * SPSTm forecast table — the register-pattern face of [[forecasts]].
    */
  def forecastsSpstm(
      events: Ingest,
      cp: CompiledPattern,
      m: SpstM,
      table: Map[(List[Int], Int), ForecastInterval],
      grid: Long = 0L): Dataset[ForecastOut] = {
    val symbolizer = SpstmSymbolizer.perKey(cp, grid)
    keyed(events)(key => new SpstmForecastRun(m, table, symbolizer(key)))
  }

  /** The same deterministic runtime on Spark 4's transformWithState
    * operator — the successor to flatMapGroupsWithState (typed state
    * variables, native TTL, RocksDB-only backend). Functionally identical
    * to [[detections]]; both are kept because transformWithState requires
    * the RocksDB state store while flatMapGroupsWithState runs anywhere.
    */
  def detectionsTws(
      events: Ingest,
      cp: CompiledPattern,
      stateTtl: Long = 0L): Dataset[Detection] = {
    // Spark 4 rejects TTLConfig outside ProcessingTime mode
    // (StatefulProcessorHandleImpl.validateTTLConfig)
    val timeMode = if (stateTtl > 0) TimeMode.ProcessingTime() else TimeMode.None()
    val in = events.narrow
    in.byKey.transformWithState(
      new DetProcessor[in.Row](cp, stateTtl, in.rebuild), timeMode, OutputMode.Append())
  }
}

/** GroupState payload of [[Stream.forecasts]]: the forecasting runtime's
  * full snapshot — deterministic automaton state + the most-recent-first
  * SPST symbol buffer.
  */
final case class SpstStreamState(det: DetRunState, buffer: Seq[Int])

/** GroupState payload of [[Stream.forecastsSpstm]]: the DSRA hyper-state
  * snapshot + the most-recent-first SPSTm symbol buffer.
  */
final case class SpstmStreamState(dsra: DsraRunState, buffer: Seq[Int])

/** The keyed run of [[Stream.forecasts]] (and the batch `Train.forecasts`):
  * an [[SpstRun]] emitting its forecasts. */
private[spark] final class ForecastRun(
    cp: CompiledPattern,
    spst: Spst,
    table: Map[(List[Int], Int), ForecastInterval],
    key: String) extends KeyedRun[SpstStreamState, ForecastOut] {

  private val run = new SpstRun(cp, spst, table, key)

  def restore(s: SpstStreamState): Unit = run.restore(s.det, s.buffer)
  def snapshot: SpstStreamState = SpstStreamState(run.detSnapshot, run.bufferSnapshot)
  def step(e: CEvent): Option[ForecastOut] = run.step(e)._2
}

/** The keyed run of [[Stream.forecastsSpstm]]: the SPSTm symbolizer plus
  * the symbol buffer whose PST label and the symbolizer's abstract state
  * index the forecast table. */
private final class SpstmForecastRun(
    m: SpstM,
    table: Map[(List[Int], Int), ForecastInterval],
    symbols: SpstmSymbolizer) extends KeyedRun[SpstmStreamState, ForecastOut] {

  private val buffer = new SymbolBuffer(math.max(1, m.order))

  def restore(s: SpstmStreamState): Unit = { symbols.restore(s.dsra); buffer.restore(s.buffer) }
  def snapshot: SpstmStreamState = SpstmStreamState(symbols.snapshot, buffer.snapshot)

  def step(e: CEvent): Option[ForecastOut] =
    if (e.isReset) { symbols.step(e); buffer.clear(); None }
    else symbols.step(e).flatMap { s =>
      buffer.push(s.symbol)
      if (!buffer.isFull) None
      else table.get((m.pst.nodeFor(buffer.pop).label, s.state)).filter(_.isValid).map { fi =>
        ForecastOut(s.partition, s.counter, e.id, e.timestamp,
          s.counter + fi.start, s.counter + fi.end, fi.prob, fi.positive)
      }
    }
}

/** StatefulProcessor wrapping [[DetRun]]: the run snapshot lives in a typed
  * ValueState with optional native TTL (K5 run-pool expiry).
  */
final class DetProcessor[E](cp: CompiledPattern, stateTtl: Long, rebuild: E => CEvent)
    extends StatefulProcessor[String, E, Detection] {

  @transient private var state: org.apache.spark.sql.streaming.ValueState[DetRunState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    val ttl = if (stateTtl > 0) TTLConfig(java.time.Duration.ofMillis(stateTtl)) else TTLConfig.NONE
    state = getHandle.getValueState[DetRunState](
      "detRun", Encoders.product[DetRunState], ttl)
  }

  override def handleInputRows(
      key: String,
      rows: Iterator[E],
      timerValues: TimerValues): Iterator[Detection] = {
    val run = new DetRun(cp, key)
    Option(state.get()).foreach(run.restore)
    val out = Stream.sortedEvents(rows.map(rebuild)).toSeq.flatMap(run.step)
    state.update(run.snapshot)
    out.iterator
  }
}
