package perfbench

import graft.cef.CEvent

/** Counter-based random numbers: every draw is a pure function of
  * (seed, stream, index), so any event can be generated on any executor
  * without state and the same seed always gives the same events.
  */
object Rng {
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def hash(seed: Long, stream: Long, i: Long): Long = mix(mix(seed ^ (stream * 0x632BE59BD9B4E019L)) + i)
  /** Uniform double in [0, 1). */
  def unit(h: Long): Double = (h >>> 11) * (1.0 / (1L << 53))
}

/** How sessions pick their key. */
sealed trait KeyDist extends Serializable {
  def keys: Int
  def sample(u: Double): Int
}

final case class Uniform(keys: Int) extends KeyDist {
  def sample(u: Double): Int = math.min(keys - 1, (u * keys).toInt)
}

/** Zipf(s) over ranks 0..keys-1 (rank 0 is the hot key), sampled by
  * inverse CDF. The CDF table is built once per JVM and never shipped in
  * a task closure.
  */
final case class Zipf(keys: Int, s: Double) extends KeyDist {
  @transient private lazy val cdf: Array[Double] = Zipf.cdf(keys, s)
  def sample(u: Double): Int = {
    val c = cdf
    val i = java.util.Arrays.binarySearch(c, u)
    math.min(keys - 1, if (i >= 0) i + 1 else -i - 1)
  }
  /** Analytic share of events that go to the hot key. */
  def topShare: Double = cdf(0)
}

object Zipf {
  private val cache = new java.util.concurrent.ConcurrentHashMap[(Int, Double), Array[Double]]()
  def cdf(keys: Int, s: Double): Array[Double] = cache.computeIfAbsent((keys, s), _ => {
    val w = Array.tabulate(keys)(r => math.pow(r + 1.0, -s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  })
}

/** One stretch of the schedule: `rate` events per second for `micros`,
  * with session keys drawn from `keys`. `lanes` sessions of `sessionLen`
  * events run side by side, each taking every lanes-th event; the
  * default of one-event sessions gives every event its own random key. */
final case class Segment(micros: Long, rate: Double, keys: KeyDist, lanes: Int = 1, sessionLen: Int = 1)

/** The generator: a pure function from (seed, index) to an event and
  * its due time.
  *
  * Events come in sessions that share a key (see [[Segment]]). A session
  * is either buying or browsing, and each mode draws its event types from
  * its own table, so the order-2 SPST can learn which contexts precede a
  * purchase. Events due at or after `driftAtMicros` draw their types from
  * the drifted tables, where the contexts that signalled a purchase now
  * signal browsing: the deployed model's forecasts invert and the
  * Observer's first instruction is `optimize`.
  *
  * The event timestamp is its due time in micros since the run started,
  * so the stream is fixed by the seed and the schedule alone; latency is
  * measured from that due time.
  */
final case class GenSpec(
    seed: Long,
    schedule: Vector[Segment],
    driftAtMicros: Long) {
  import GenSpec._

  private val startMicros: Array[Long] = schedule.scanLeft(0L)(_ + _.micros).toArray
  private val startCount: Array[Long] =
    schedule.scanLeft(0L)((c, s) => c + (s.micros * s.rate / 1e6).toLong).toArray

  def totalEvents: Long = startCount.last
  def totalMicros: Long = startMicros.last

  private def segmentOf(i: Long): Int = {
    var k = 0
    while (k < schedule.length - 1 && i >= startCount(k + 1)) k += 1
    k
  }

  /** Due time of event `i` in micros since the run start. */
  def due(i: Long): Long = {
    val k = segmentOf(i)
    startMicros(k) + ((i - startCount(k)) * 1e6 / schedule(k).rate).toLong
  }

  /** Number of events due at or before `t` micros (a prefix of the
    * index space, since due times never decrease).
    */
  def released(t: Long): Long = {
    var lo = 0L
    var hi = totalEvents
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (due(mid) <= t) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Session of event `i`: the segment's number in the top bits, then
    * the session within the segment. Sessions never straddle segments. */
  def sessionOf(i: Long): Long = {
    val k = segmentOf(i)
    val seg = schedule(k)
    val j = i - startCount(k)
    val span = seg.lanes.toLong * seg.sessionLen
    (k.toLong << 48) | ((j / span) * seg.lanes + j % seg.lanes)
  }

  /** A session's key, drawn from its segment's key distribution. */
  def keyOf(session: Long): Int =
    schedule((session >>> 48).toInt).keys.sample(Rng.unit(Rng.hash(seed, 1, session)))

  def buying(session: Long): Boolean = Rng.unit(Rng.hash(seed, 2, session)) < 0.5

  /** Type of event `i` (an index into [[Types]]) in a session of the
    * given mode; events due at or after the drift use the drifted table.
    */
  def typeOf(i: Long, buying: Boolean): Int = {
    val emit = if (due(i) >= driftAtMicros) Drifted else Normal
    pick(if (buying) emit._1 else emit._2, Rng.unit(Rng.hash(seed, 3, i)))
  }

  /** Event `i` drawn on its own, without the session cache of [[events]]. */
  def event(i: Long): CEvent = {
    val s = sessionOf(i)
    CEvent(i, Types(typeOf(i, buying(s))), due(i), "k" + keyOf(s), Map.empty, Map.empty)
  }

  /** Events [from, until) in index order. Keys and modes of recent
    * sessions sit in a small direct-mapped cache, so each is drawn about
    * once per session.
    */
  def events(from: Long, until: Long): Iterator[CEvent] = new Iterator[CEvent] {
    private var i = from
    private val sessions = Array.fill(CachedLanes)(-1L)
    private val modes = new Array[Boolean](CachedLanes)
    private val keys = new Array[String](CachedLanes)
    def hasNext: Boolean = i < until
    def next(): CEvent = {
      val s = sessionOf(i)
      val lane = (s % CachedLanes).toInt
      if (sessions(lane) != s) {
        sessions(lane) = s
        modes(lane) = buying(s)
        keys(lane) = "k" + keyOf(s)
      }
      val e = CEvent(i, Types(typeOf(i, modes(lane))), due(i), keys(lane), Map.empty, Map.empty)
      i += 1
      e
    }
  }
}

object GenSpec {
  val Types: Array[String] = Array("error", "purchase", "click", "view", "signup")
  val CachedLanes = 64
  // (buying, browsing) emission weights over Types. The two modes share
  // no symbol, so any order-2 context names its mode; the drift moves
  // error and click to browsing and view and signup to buying.
  val Normal: (Array[Double], Array[Double]) =
    (Array(0.20, 0.45, 0.35, 0.0, 0.0), Array(0.0, 0.0, 0.0, 0.55, 0.45))
  val Drifted: (Array[Double], Array[Double]) =
    (Array(0.0, 0.45, 0.0, 0.30, 0.25), Array(0.20, 0.0, 0.80, 0.0, 0.0))

  def pick(w: Array[Double], u: Double): Int = {
    var acc = 0.0
    var k = 0
    while (k < w.length - 1) { acc += w(k); if (u < acc) return k; k += 1 }
    k
  }
}

/** The open-loop streaming source over a [[GenSpec]].
  *
  * Why a custom source: both built-in options failed in probes of this
  * job. Spark's `rate` source releases rows in whole seconds, which puts
  * a ~0.5 s floor under the median latency whatever the engine does.
  * `MemoryStream` encodes every row on the driver into one partition;
  * it fell behind at 20k ev/s, with 112k-row batches taking 5-8 s.
  *
  * This source releases, at each micro-batch, every event due by the
  * current 10 ms tick (at most `maxBatchRows`), and never waits for the
  * engine: when the engine falls behind, the backlog grows. Rows are
  * generated on the executors from (seed, index), one input partition
  * per core.
  */
object GenSource {
  val TickMicros = 10000L

  /** One registered stream: the schedule starts at `t0Nanos`; at most
    * `maxBatchRows` events go into one micro-batch. */
  final case class Run(spec: GenSpec, t0Nanos: Long, partitions: Int, maxBatchRows: Long) {
    /** start offset → (end offset, nanoTime when first planned) of the
      * latest batch that started there */
    val planned = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long)]()
    /** How long after its due time the newest released event was offered,
      * per uncapped offer (micros): a driver or host stall shows here. */
    val lateMicros = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def elapsedMicros: Long = (System.nanoTime() - t0Nanos) / 1000
  }

  private val runs = new java.util.concurrent.ConcurrentHashMap[String, Run]()
  def register(id: String, run: Run): Unit = runs.put(id, run)
  def get(id: String): Run = runs.get(id)
  def remove(id: String): Unit = runs.remove(id)
}

/** Entry point named in `readStream.format(...)`; option `id` picks the registered run. */
final class GenProvider extends org.apache.spark.sql.connector.catalog.TableProvider {
  import org.apache.spark.sql.connector.catalog._
  import org.apache.spark.sql.connector.expressions.Transform
  import org.apache.spark.sql.util.CaseInsensitiveStringMap
  import org.apache.spark.sql.types.StructType

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = GenTable.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = new GenTable(properties.get("id"))
}

object GenTable {
  val schema: org.apache.spark.sql.types.StructType = org.apache.spark.sql.Encoders.product[CEvent].schema
}

final class GenTable(id: String) extends org.apache.spark.sql.connector.catalog.Table
    with org.apache.spark.sql.connector.catalog.SupportsRead {
  import org.apache.spark.sql.connector.catalog.TableCapability
  import org.apache.spark.sql.connector.read._
  import org.apache.spark.sql.util.CaseInsensitiveStringMap

  override def name(): String = s"perfbench-gen-$id"
  override def schema(): org.apache.spark.sql.types.StructType = GenTable.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = () => new Scan {
    override def readSchema(): org.apache.spark.sql.types.StructType = GenTable.schema
    override def toMicroBatchStream(checkpointLocation: String): streaming.MicroBatchStream =
      new GenStream(id)
  }
}

final case class GenOffset(n: Long) extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = n.toString
}

final case class GenPartition(spec: GenSpec, from: Long, until: Long)
    extends org.apache.spark.sql.connector.read.InputPartition

final class GenStream(id: String)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {
  import org.apache.spark.sql.connector.read._
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}
  private val run = GenSource.get(id)

  override def initialOffset(): Offset = GenOffset(0L)
  override def deserializeOffset(json: String): Offset = GenOffset(json.trim.toLong)
  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(run.maxBatchRows)
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(start, limit)")
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val t = run.elapsedMicros
    val due = if (t < 0) 0L else run.spec.released(t - t % GenSource.TickMicros)
    val from = start.asInstanceOf[GenOffset].n
    if (due > from && due - from < run.maxBatchRows && due < run.spec.totalEvents)
      run.lateMicros.add(t - run.spec.due(due - 1))
    GenOffset(math.min(due, from + run.maxBatchRows))
  }
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (a, b) = (start.asInstanceOf[GenOffset].n, end.asInstanceOf[GenOffset].n)
    // the first batch may be empty (a == b); re-planning the same batch keeps its first time
    val now = System.nanoTime()
    run.planned.compute(a, (_, old) => if (old != null && old._1 == b) old else (b, now))
    val p = run.partitions
    Array.tabulate[InputPartition](p)(k => GenPartition(run.spec, a + (b - a) * k / p, a + (b - a) * (k + 1) / p))
  }
  override def createReaderFactory(): PartitionReaderFactory = GenReaderFactory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

object GenReaderFactory extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
  import org.apache.spark.unsafe.types.UTF8String
  private val types = GenSpec.Types.map(UTF8String.fromString)

  override def createReader(p: org.apache.spark.sql.connector.read.InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] = {
    val gp = p.asInstanceOf[GenPartition]
    new org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
      private val it = gp.spec.events(gp.from, gp.until)
      private var row: InternalRow = _
      private val empty = new ArrayBasedMapData(new GenericArrayData(Array.empty[Any]),
        new GenericArrayData(Array.empty[Any]))
      override def next(): Boolean = it.hasNext && {
        val e = it.next()
        row = InternalRow(e.id, types(GenSpec.Types.indexOf(e.eventType)), e.timestamp,
          UTF8String.fromString(e.partition), empty, empty)
        true
      }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}
