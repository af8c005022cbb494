package perfbench

import graft.cef.spark.Inference.Out

/** The benchmark's own tests: `python3 perfbench/run.py --selftest`. */
object SelfTest {
  private var failures = Vector.empty[String]
  private def check(ok: Boolean, what: String): Unit = {
    println((if (ok) "ok   " else "FAIL ") + what)
    if (!ok) failures :+= what
  }

  def main(args: Array[String]): Unit = {
    val sc1 = Main.script("live_uniform", 7L, 30)
    val sc2 = Main.script("live_uniform", 7L, 30)
    val sc3 = Main.script("live_uniform", 8L, 30)
    val n = 50000L
    def evs(s: Main.Script, from: Long) = s.spec.events(from, from + n).toVector
    for (from <- Seq(0L, sc1.spec.released(sc1.adaptEnd))) {
      check(evs(sc1, from) == evs(sc2, from), s"same seed gives identical events from $from")
      check(evs(sc1, from) != evs(sc3, from), s"another seed gives other events from $from")
      check(evs(sc1, from) == (from until from + n).map(sc1.spec.event),
        s"events from $from do not depend on where a partition starts")
    }
    check(sc1.spec.events(0, n).map(_.timestamp).sliding(2).forall(w => w(0) <= w(1)),
      "due times never decrease")
    val t = sc1.drift
    val r = sc1.spec.released(t)
    check(sc1.spec.due(r - 1) <= t && sc1.spec.due(r) > t, "released(t) counts exactly the events due by t")

    val zipfSc = Main.script("live_zipf", 11L, 30)
    val zipf = Main.workloadKeys("live_zipf").asInstanceOf[Zipf]
    val loadFrom = zipfSc.spec.released(zipfSc.adaptEnd)
    val sample = zipfSc.spec.events(loadFrom, loadFrom + 400000).map(_.partition).toVector
    val top = sample.count(_ == "k0").toDouble / sample.size
    check(math.abs(top - zipf.topShare) < 0.05 * zipf.topShare,
      f"Zipf hot-key share $top%.4f within 5%% of the analytic ${zipf.topShare}%.4f")
    check(zipf.topShare > 0.15 && zipf.topShare < 0.25, f"Zipf(100000, 1.2) hot key carries about 20%% (${zipf.topShare}%.4f)")

    check(Stats.percentile((1 to 100).map(_.toDouble), 0.5) == 50.0, "p50 of 1..100 is 50")
    check(Stats.percentile((1 to 100).map(_.toDouble), 0.99) == 99.0, "p99 of 1..100 is 99")
    check(Stats.percentile(Seq((10.0, 1L), (20.0, 98L), (30.0, 1L)), 0.99) == 20.0, "weighted p99")
    check(Stats.percentile(Seq((10.0, 1L), (20.0, 98L), (30.0, 1L)), 1.0) == 30.0, "weighted max")

    val rows = (1 to 500).map(i => Out(if (i % 3 == 0) "forecast" else "detection", s"k${i % 17}",
      i, i * 7L, i * 11L, i, i + 10, i / 500.0, i % 2 == 0, ""))
    def digest(xs: Seq[Out]) = { val d = new Digest; xs.foreach(d.add); d }
    val shuffled = new scala.util.Random(3).shuffle(rows)
    check(digest(rows).kindsDiffering(digest(shuffled)).isEmpty, "digest is order-independent")
    val split = digest(rows.take(200)); split.merge(digest(rows.drop(200)))
    check(split.kindsDiffering(digest(rows)).isEmpty, "merged partial digests equal the whole")
    check(digest(rows).kindsDiffering(digest(rows.updated(5, rows(5).copy(prob = 0.5)))) == Seq(rows(5).kind),
      "digest sees one changed field")
    check(digest(rows).kindsDiffering(digest(rows ++ rows.take(1))).nonEmpty, "digest sees one extra row")

    check(Stats.settled(10000, 25000), "a window opening 0.4 s behind counts as settled")
    check(!Stats.settled(20000, 25000), "a window opening 0.8 s behind does not")

    println(s"${failures.size} failed")
    sys.exit(if (failures.isEmpty) 0 else 1)
  }
}
