package perfbench

import graft.cef.spark.Inference.Out

/** Order-independent digest of a multiset of output rows, per kind:
  * count, wrapping sum and xor of a 64-bit hash of every field.
  */
final class Digest extends Serializable {
  val count = new Array[Long](Digest.Kinds.length)
  val sum = new Array[Long](Digest.Kinds.length)
  val xor = new Array[Long](Digest.Kinds.length)

  def add(o: Out): Unit = {
    val k = Digest.kindIndex(o.kind)
    val h = Digest.hash(o)
    count(k) += 1; sum(k) += h; xor(k) ^= h
  }
  def merge(d: Digest): Unit = for (k <- count.indices) {
    count(k) += d.count(k); sum(k) += d.sum(k); xor(k) ^= d.xor(k)
  }
  def kindsDiffering(d: Digest): Seq[String] = count.indices.collect {
    case k if count(k) != d.count(k) || sum(k) != d.sum(k) || xor(k) != d.xor(k) => Digest.Kinds(k)
  }
  /** Rows missing on one side or the other, lower bound per kind. */
  def countGap(d: Digest): Long = count.indices.map(k => math.abs(count(k) - d.count(k))).sum
  override def toString: String =
    Digest.Kinds.indices.map(k => s"${Digest.Kinds(k)}=${count(k)}/${java.lang.Long.toHexString(sum(k))}").mkString(" ")
}

object Digest {
  val Kinds: Array[String] = Array("detection", "forecast", "report")
  def kindIndex(kind: String): Int = kind match {
    case "detection" => 0
    case "forecast"  => 1
    case _           => 2
  }
  private def str(s: String): Long = Rng.mix(s.hashCode.toLong ^ (s.length.toLong << 32))
  def hash(o: Out): Long = {
    var h = str(o.kind)
    for (v <- Seq(str(o.partition), o.counter, o.eventId, o.timestamp, o.startCounter,
        o.endCounter, java.lang.Double.doubleToLongBits(o.prob), if (o.positive) 1L else 0L,
        str(o.payload)))
      h = Rng.mix(h ^ v)
    h
  }
}

object Stats {
  /** The q-quantile (0..1) of weighted samples by the nearest-rank rule:
    * the smallest value whose cumulative weight reaches q of the total.
    */
  def percentile(samples: Seq[(Double, Long)], q: Double): Double = {
    require(samples.nonEmpty, "percentile of no samples")
    val sorted = samples.sortBy(_._1)
    val total = sorted.map(_._2).sum
    val target = math.max(1L, math.ceil(q * total).toLong)
    var acc = 0L
    sorted.find { case (_, w) => acc += w; acc >= target }.get._1
  }

  def percentile(xs: Seq[Double], q: Double)(implicit d: DummyImplicit): Double =
    percentile(xs.map(x => (x, 1L)), q)

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Backlog allowed when a latency window opens, in seconds of input at
    * the window's rate: more means the burst before it had not drained and
    * the window times the burst, not the steady load. */
  val BacklogSlackSec = 0.5

  def settled(backlog: Long, rate: Double): Boolean = backlog <= rate * BacklogSlackSec
}
