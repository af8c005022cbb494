package graft.cef.spark

import graft.cef._
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, KeyValueGroupedDataset}
import org.apache.spark.sql.functions._
import scala.language.implicitConversions

/** Batch pattern detection over DataFrames — the Spark-native face of the
  * CEF engine (reference wiring: InferenceJob.java:215-216 keyBy(mmsi) →
  * WayebEngine; SURVEY.md §2.3 K1/K5, §2.5 R1).
  *
  * Scale design: ONE hash shuffle on the partition attribute, then an
  * external (spillable) sort within partitions on (partition, ts, id), then
  * a single streaming pass with `mapPartitions` that keeps O(1) state per
  * key (the secondary-sort pattern). No per-group materialization — a key
  * with millions of events never lives in memory at once; at 1000 executors
  * the keys spread across tasks and the compiled automaton rides along in
  * the task closure (it is a small immutable value).
  */
object Detect {

  implicit private val eventEnc: Encoder[CEvent] = Encoders.product[CEvent]
  implicit private val detEnc: Encoder[Detection] = Encoders.product[Detection]
  implicit private val matchEnc: Encoder[MatchOut] = Encoders.product[MatchOut]

  /** Adapt a DataFrame to the engine's event model. `tsCol` must be a
    * timestamp column (converted to epoch micros) or integral epoch column.
    */
  def toEvents(
      df: DataFrame,
      idCol: String,
      typeCol: String,
      tsCol: String,
      partitionCol: String,
      numAttrs: Seq[String] = Nil,
      strAttrs: Seq[String] = Nil): Dataset[CEvent] = {
    val tsExpr = tsExprFor(df, tsCol)
    val numMap =
      if (numAttrs.isEmpty) map().cast("map<string,double>")
      else map(numAttrs.flatMap(a => Seq(lit(a), col(a).cast("double"))): _*)
    val strMap =
      if (strAttrs.isEmpty) map().cast("map<string,string>")
      else map(strAttrs.flatMap(a => Seq(lit(a), col(a).cast("string"))): _*)
    df.select(
      col(idCol).cast("long").as("id"),
      col(typeCol).cast("string").as("eventType"),
      tsExpr.as("timestamp"),
      col(partitionCol).cast("string").as("partition"),
      numMap.as("num"),
      strMap.as("str"))
      .as[CEvent]
  }

  private def tsExprFor(df: DataFrame, tsCol: String) =
    df.schema(tsCol).dataType.typeName match {
      case "timestamp" => unix_micros(col(tsCol))
      // TIMESTAMP_NTZ (e.g. parquet micros with isAdjustedToUTC=false):
      // unix_micros rejects it, and an NTZ→TZ cast would resolve against
      // the ambient session timezone; an NTZ-to-NTZ timestampdiff against
      // the epoch literal recovers the stored micros unconditionally
      case "timestamp_ntz" =>
        expr(s"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', `$tsCol`)")
      case _ => col(tsCol).cast("long")
    }

  /** Narrow streaming ingest (the Stream hot path): rows carry only the
    * attr VALUE arrays; the names — constants of the dataset, not of
    * the row — ride in the operator closure. `Dataset[CEvent]` pays
    * Catalyst's generic Map codec per row on both sides of the keyed
    * shuffle, measured at ~2.4x the whole streaming steady state
    * (SCALE.md round-13 table); this shape shuffles two primitive-ish
    * arrays instead and rebuilds the CEvent exactly once, post-shuffle.
    * Same normalization rules as [[toEvents]] (shared `tsExpr`).
    */
  def toEventStream(
      df: DataFrame,
      idCol: String,
      typeCol: String,
      tsCol: String,
      partitionCol: String,
      numAttrs: Seq[String] = Nil,
      strAttrs: Seq[String] = Nil): EventStream = {
    implicit val nEnc: Encoder[NEvent] = Encoders.product[NEvent]
    val ds = df.select(
      col(idCol).cast("long").as("id"),
      col(typeCol).cast("string").as("eventType"),
      tsExprFor(df, tsCol).as("timestamp"),
      col(partitionCol).cast("string").as("partition"),
      array(numAttrs.map(a => col(a).cast("double")): _*).as("numV"),
      array(strAttrs.map(a => col(a).cast("string")): _*).as("strV"))
      .as[NEvent]
    EventStream(ds, numAttrs.toArray, strAttrs.toArray)
  }

  /** Detection points from the deterministic streaming-SDFA runtime. */
  def detections(events: Ingest, cp: CompiledPattern): Dataset[Detection] =
    perKeyScan(events)(freshRuns(new DetRun(cp, _)))

  /** Multi-pattern detection (a `&`-separated pattern file, docs/lang.md):
    * one pass over the data drives ALL automata per key — the reference's
    * run pool registered per (fsmId, partition value)
    * (ERFEngine.scala:230-266). Output rows carry the pattern index.
    */
  def detectionsMulti(events: Ingest, cps: Seq[CompiledPattern]): Dataset[(Int, Detection)] = {
    implicit val enc: Encoder[(Int, Detection)] =
      Encoders.tuple(Encoders.scalaInt, detEnc)
    perKeyScan(events) { key =>
      val runs = cps.map(cp => new DetRun(cp, key)).toArray
      e => runs.iterator.zipWithIndex.flatMap {
        case (run, fsmId) => run.step(e).map(fsmId -> _)
      }
    }
  }

  /** C10: deterministic detection for count-windowed register (SREMO)
    * patterns via the anchor-windowed DSRA runtime ([[graft.cef.DsraRun]]):
    * detection points with a bounded per-key configuration population —
    * the forecast-ready alternative to match enumeration.
    */
  def detectionsDsra(events: Ingest, cp: CompiledPattern): Dataset[Detection] =
    perKeyScan(events)(freshRuns(new DsraRun(cp, _)))

  /** SPSTm symbolization of the DSRA runtime (T1/F2 for register
    * patterns): one row per event carrying the runtime's deterministic
    * observables — the 3-letter symbol (detection [[SpstM.SymD]] / new
    * window anchor [[SpstM.SymA]] / other [[SpstM.SymO]]) and the
    * anchor-age abstract state (age of the newest live taken anchor,
    * capped at the window; the cap value = idle). The reference
    * symbolizes dSRA transitions
    * (model/vmm/mapper/SymbolExtractorFromDSRA.scala) and is
    * window-kind-agnostic (workflow/task/fsmTask/SPSTmTask.scala); the
    * lazy config-set runtime symbolizes its observable trace instead —
    * both are deterministic per-event functions, which is what VMM
    * training needs.
    *
    * Count windows measure age in events (exact). TIME windows measure
    * age in event time bucketed to `grid` (micros per cell): the
    * abstract state is `min((ts − newest anchor) / grid, window/grid)` —
    * `grid` must tile the window, giving ≥2 cells, so the abstraction
    * keeps the small state space the wt recursion needs while the
    * window itself stays exact in the runtime.
    */
  def dsraTrace(events: Ingest, cp: CompiledPattern, grid: Long = 0L): Dataset[DsraStep] = {
    implicit val stepEnc: Encoder[DsraStep] = Encoders.product[DsraStep]
    perKeyScan(events)(freshRuns(SpstmSymbolizer.perKey(cp, grid)))
  }

  /** Full match enumeration from the nondeterministic runtime.
    * `maxThreads` caps the per-key thread pool (MatchRun population guard).
    */
  def matches(
      events: Ingest,
      cp: CompiledPattern,
      maxThreads: Int = MatchRun.DefaultMaxThreads): Dataset[MatchOut] =
    perKeyScan(events)(freshRuns(new MatchRun(cp, _, maxThreads)))

  /** MonoRun fast path for the reference opt engine's regime
    * (ERFOptEngine.scala:91-287): a SINGLE pattern with NO partition
    * attribute. The per-key machinery is pure overhead there, and the
    * hash repartition a constant key forces ships the whole stream
    * through one shuffle write + read. This plan instead NARROWS to one
    * task (`coalesce(1)` — no shuffle files; parent partitions are read
    * directly) and external-sorts within it, then drives the
    * registry-free [[MonoRun]] loop, which shares per-state transition
    * resolution across all runs parked at the same state. Register
    * (SREMO) patterns fall back to a single pooled [[MatchRun]] on the
    * same shuffle-free plan.
    *
    * Inherently one-task: a global total-order run is sequential in the
    * reference too (a single-threaded stream listener). At scale, give
    * the pattern a partition attribute and use [[matches]] — this path
    * exists for parity with the reference's single-run throughput mode.
    */
  def matchesMono(
      events: Ingest,
      cp: CompiledPattern,
      maxThreads: Int = MatchRun.DefaultMaxThreads): Dataset[MatchOut] = {
    val rebuild = events.rebuild
    events.rows.coalesce(1)
      .sortWithinPartitions(col("timestamp"), col("id"))
      .mapPartitions { rows =>
        val evs = rows.map(rebuild)
        if (MonoRun.eligible(cp)) MonoRun.run(cp, evs, maxThreads)
        else {
          val run = new MatchRun(cp, "", maxThreads)
          evs.flatMap(run.step)
        }
      }
  }

  /** The one per-key batch scan (the scale design above): shuffle by key,
    * external-sort by (key, ts, id), then one pass that rebuilds each
    * CEvent once and steps it through its key's stepper, built when the
    * key first appears.
    */
  private[spark] def perKeyScan[O: Encoder](events: Ingest)(
      stepper: String => CEvent => IterableOnce[O]): Dataset[O] = {
    val rebuild = events.rebuild
    events.rows
      .repartition(col("partition"))
      .sortWithinPartitions(col("partition"), col("timestamp"), col("id"))
      .mapPartitions { rows =>
        var currentKey: String = null
        var step: CEvent => IterableOnce[O] = null
        rows.flatMap { row =>
          val e = rebuild(row)
          if (e.partition != currentKey) {
            currentKey = e.partition
            step = stepper(currentKey)
          }
          step(e)
        }
      }
  }

  /** A fresh keyed run per key as a [[perKeyScan]] stepper: a batch scan
    * sees each key once, so nothing is restored or snapshotted. */
  private[spark] def freshRuns[O](mkRun: String => KeyedRun[_, O]): String => CEvent => IterableOnce[O] =
    key => { val run = mkRun(key); run.step(_) }
}

/** The SPSTm symbolizer of [[Detect.dsraTrace]] and
  * [[Stream.forecastsSpstm]]: a [[DsraRun]] whose every non-reset event
  * yields its symbol and anchor-age state.
  */
private[spark] final class SpstmSymbolizer private (
    cp: CompiledPattern, grid: Long, cells: Long, key: String)
    extends KeyedRun[DsraRunState, DsraStep] {

  private val run = new DsraRun(cp, key)
  private val timeWindowed = cp.windowKind == WindowKind.Time

  def restore(s: DsraRunState): Unit = run.restore(s)
  def snapshot: DsraRunState = run.snapshot

  def step(e: CEvent): Option[DsraStep] =
    if (e.isReset) { run.step(e); None }
    else {
      val det = run.step(e)
      val counter = run.eventCounter
      val anchor = run.newestTakenAnchor
      // arming = the runtime fired a first-TAKE at this step (explicit
      // signal — anchor/timestamp equality would misclassify a non-arming
      // event whose event time ties an earlier same-ts anchor)
      val sym =
        if (det.isDefined) SpstM.SymD
        else if (run.tookAnchorThisStep) SpstM.SymA
        else SpstM.SymO
      val state =
        if (anchor < 0) cells
        else if (timeWindowed) math.min((e.timestamp - anchor) / grid, cells)
        else math.min(counter - anchor, cells)
      Some(DsraStep(key, counter, e.id, sym, state.toInt))
    }
}

private[spark] object SpstmSymbolizer {

  /** The symbolizer of each key for `cp` and `grid`, checked once on the
    * driver. The anchor-age cells are the window for count windows and
    * the window over `grid` for time windows. */
  def perKey(cp: CompiledPattern, grid: Long): String => SpstmSymbolizer = {
    val cells =
      if (cp.windowKind != WindowKind.Time) {
        require(grid == 0L, "grid applies to time-windowed patterns (count age is exact)")
        cp.window
      } else {
        require(grid > 0L, "time-windowed symbolization needs a positive age grid (micros)")
        require(cp.window % grid == 0L,
          s"grid $grid must tile the window ${cp.window} exactly")
        cp.window / grid
      }
    require(cells >= 2, s"anchor-age abstraction needs >=2 cells, got $cells")
    new SpstmSymbolizer(cp, grid, cells, _)
  }
}

/** Row shape of [[EventStream]]: attr values only, positionally aligned
  * with the stream's attr-name lists. Primitive/flat fields keep the
  * Catalyst codec out of generic-Map territory on the keyed shuffle.
  */
final case class NEvent(
    id: Long,
    eventType: String,
    timestamp: Long,
    partition: String,
    numV: Array[Double],
    strV: Array[String])

/** Narrow streaming ingest handle ([[Detect.toEventStream]]): the typed
  * event rows plus their dataset-constant attr names. The names arrays
  * serialize once into each task closure; [[rebuild]] reassembles the
  * engine's CEvent once per row, after the shuffle.
  */
final case class EventStream(
    ds: Dataset[NEvent],
    numNames: Array[String],
    strNames: Array[String]) {

  def rebuild(n: NEvent): CEvent =
    Ingest.event(n.id, n.eventType, n.timestamp, n.partition, numNames, n.numV, strNames, n.strV)
}

/** Shuffle-side representation of a `Dataset[CEvent]` row: the attr maps
  * as parallel key/value arrays. Rebuilt to CEvent once per row,
  * post-shuffle.
  */
private[spark] final case class NarrowEvent(
    id: Long,
    eventType: String,
    timestamp: Long,
    partition: String,
    numK: Array[String],
    numV: Array[Double],
    strK: Array[String],
    strV: Array[String])

/** The input of every per-key driver ([[Detect.perKeyScan]],
  * [[Stream.keyed]]) and the one place that picks the row shape they
  * shuffle. The batch scan sorts on Catalyst columns and decodes each row
  * once, after the shuffle, so it takes [[rows]] as they come. A keyed
  * streaming operator's key closure decodes each row before the exchange
  * as well, so it groups the [[narrow]] rows, which carry no attr maps:
  *  - a `Dataset[CEvent]` narrows to its attr maps as parallel key/value
  *    ARRAY columns ([[NarrowEvent]], a Catalyst-side map_keys/map_values
  *    projection, no JVM objects). Grouping `Dataset[CEvent]` itself pays
  *    Catalyst's generic Map deserializer per row on BOTH sides of the
  *    exchange — measured at ~2.4x the whole streaming steady state
  *    (SCALE.md round-13 throughput table: 0.52 -> 1.24 M ev/s at a 4M
  *    batch);
  *  - an [[EventStream]] is narrow already: its rows hold only the value
  *    arrays and its attr names ride in the rebuild closure, so the
  *    shuffle moves strictly primitive-ish columns. The batch scan over it
  *    measures 1.5x the `Dataset[CEvent]` one (2.28 → 3.37 M ev/s over 4M
  *    events, SCALE.md round-13).
  * Both convert implicitly, so each runtime takes one `Ingest` parameter.
  */
sealed abstract class Ingest {
  type Row
  private[spark] def rows: Dataset[Row]
  /** Row → CEvent, run once per row after the shuffle; captures at most
    * the attr-name arrays. */
  private[spark] def rebuild: Row => CEvent
  private[spark] def narrow: Ingest.Narrow
}

object Ingest {

  /** Rows without attr maps, grouped by a closure over the row. */
  sealed abstract class Narrow extends Ingest {
    private[spark] def byKey: KeyValueGroupedDataset[String, Row]
    private[spark] def narrow: Narrow = this
  }

  implicit def fromEvents(events: Dataset[CEvent]): Ingest = new Ingest {
    type Row = CEvent
    val rows: Dataset[CEvent] = events
    val rebuild: CEvent => CEvent = e => e
    def narrow: Narrow = new Narrow {
      type Row = NarrowEvent
      val rows: Dataset[NarrowEvent] = events.toDF().select(
        col("id"), col("eventType"), col("timestamp"), col("partition"),
        map_keys(col("num")).as("numK"), map_values(col("num")).as("numV"),
        map_keys(col("str")).as("strK"), map_values(col("str")).as("strV"))
        .as[NarrowEvent](Encoders.product[NarrowEvent])
      val rebuild: NarrowEvent => CEvent =
        n => event(n.id, n.eventType, n.timestamp, n.partition, n.numK, n.numV, n.strK, n.strV)
      def byKey = rows.groupByKey((n: NarrowEvent) => n.partition)(Encoders.STRING)
    }
  }

  implicit def fromStream(events: EventStream): Ingest = new Narrow {
    type Row = NEvent
    val rows: Dataset[NEvent] = events.ds
    val rebuild: NEvent => CEvent = {
      val (numNames, strNames) = (events.numNames, events.strNames)
      n => event(n.id, n.eventType, n.timestamp, n.partition, numNames, n.numV, strNames, n.strV)
    }
    def byKey = rows.groupByKey((n: NEvent) => n.partition)(Encoders.STRING)
  }

  private[spark] def event(
      id: Long, eventType: String, timestamp: Long, partition: String,
      numK: Array[String], numV: Array[Double],
      strK: Array[String], strV: Array[String]): CEvent = {
    var num = Map.empty[String, Double]
    var i = 0
    while (i < numK.length) { num = num.updated(numK(i), numV(i)); i += 1 }
    var str = Map.empty[String, String]
    i = 0
    while (i < strK.length) { str = str.updated(strK(i), strV(i)); i += 1 }
    CEvent(id, eventType, timestamp, partition, num, str)
  }
}
