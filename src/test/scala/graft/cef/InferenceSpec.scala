package graft.cef

import graft.cef.adapt._
import graft.cef.spark.{Inference, Train, Detect}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import org.scalatest.BeforeAndAfterAll

/** End-to-end streaming inference with the control plane: detections +
  * forecasts flow; pause stops emission losslessly; play with a new model
  * swaps per key at event time (the RTCEF "lossless adaptation" property,
  * SURVEY.md §7.4).
  */
class InferenceSpec extends AnyFlatSpec with Matchers with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]").appName("inference-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val cp = Compiler.compile(";(IsEventTypePredicate(a),IsEventTypePredicate(b))")

  private def ev(id: Long, t: String, ts: Long, key: String = "k") =
    CEvent(id, t, ts, key, Map.empty, Map.empty)

  "the inference topology" should "emit detections and forecasts, honor pause, and swap models" in {
    val sparkS = spark
    import sparkS.implicits._

    // train one model up front (driver-side, like the factory would)
    val train = (1 to 200).map(i => ev(i.toLong, if (i % 2 == 0) "b" else "a", i.toLong))
    val spst = InMemory.train(train, cp, order = 1, pMin = 0.001, gammaMin = 0.001)
    val table = spst.forecastTable(ForecastMethod.ClassifyNextK, 0.3, 10, 20)
    val loadCalls = new java.util.concurrent.atomic.AtomicInteger(0)
    val loadModel: Int => (Spst, Map[(List[Int], Int), ForecastInterval]) =
      id => { loadCalls.incrementAndGet(); (spst, table) }

    val controls = new Inference.ControlHandle
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[CEvent]
    val out = Inference.engine(mem.toDS(), cp, loadModel, controls,
      initialModelId = 0, swapDelay = 2L)
    val q = out.writeStream.format("memory").queryName("inference_out")
      .outputMode("append").start()

    def results() = spark.table("inference_out").as[Inference.Out].collect().toSeq

    // batch 1: a,b → one detection (+ forecasts once buffer warm)
    mem.addData(Seq(ev(1, "a", 1000), ev(2, "b", 1001)))
    q.processAllAvailable()
    val r1 = results()
    r1.count(_.kind == "detection") shouldBe 1
    r1.count(_.kind == "forecast") should be >= 1

    // pause: batch 2 events are skipped entirely
    controls.push(SyncCommand.pause(1002))
    mem.addData(Seq(ev(3, "a", 1002), ev(4, "b", 1003)))
    q.processAllAvailable()
    results().size shouldBe r1.size

    // play with model 1: batch 3 resumes; swap at eventTime >= 1004+2
    controls.push(SyncCommand.play(1004, 1))
    mem.addData(Seq(ev(5, "a", 1004), ev(6, "b", 1005), ev(7, "a", 1006), ev(8, "b", 1007)))
    q.processAllAvailable()
    val r3 = results()
    // resumed: detections flow again (pairs 5-6 and 7-8)
    r3.count(_.kind == "detection") shouldBe 3
    q.stop()
  }

  it should "emit per-key reports on the event-time schedule with resolved forecast stats" in {
    val sparkS = spark
    import sparkS.implicits._
    val train = (1 to 200).map(i => ev(i.toLong, if (i % 2 == 0) "b" else "a", i.toLong))
    val spst = InMemory.train(train, cp, order = 1, pMin = 0.001, gammaMin = 0.001)
    val table = spst.forecastTable(ForecastMethod.ClassifyNextK, 0.3, 10, 20)
    val controls = new Inference.ControlHandle
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[CEvent]
    // reportingDistance 50 event-time units; alternating a/b at ts step 10
    val q = Inference.engine(mem.toDS(), cp, _ => (spst, table), controls,
      reportingDistance = 50L)
      .writeStream.format("memory").queryName("report_out").outputMode("append").start()

    mem.addData((1 to 40).map(i => ev(i.toLong, if (i % 2 == 0) "b" else "a", i.toLong * 10)))
    q.processAllAvailable()
    val reports = spark.table("report_out").as[Inference.Out].collect().filter(_.kind == "report")
    reports.length should be >= 3 // ~400 time units / 50
    // payload is the reference-shaped JSON with confusion counts + mcc
    val j = adapt.Json.parse(reports.last.payload)
    implicit val fmts: org.json4s.Formats = adapt.Json.formats
    (j \ "key").extract[String] shouldBe "k"
    val tp = (j \ "runtime" \ "tp").extract[Long]
    val fp = (j \ "runtime" \ "fp").extract[Long]
    (tp + fp) should be > 0L // forecasts resolved into real counts
    val mcc = (j \ "runtime" \ "mcc").extract[Double]
    mcc should (be >= -1.0 and be <= 1.0)
    q.stop()
  }

  it should "produce the same rows whether the stream arrives in one micro-batch or six" in {
    val sparkS = spark
    import sparkS.implicits._
    val train = (1 to 200).map(i => ev(i.toLong, if (i % 2 == 0) "b" else "a", i.toLong))
    val spst = InMemory.train(train, cp, order = 1, pMin = 0.001, gammaMin = 0.001)
    val tables = Map(
      0 -> spst.forecastTable(ForecastMethod.ClassifyNextK, 0.3, 10, 20),
      1 -> spst.forecastTable(ForecastMethod.ClassifyNextK, 0.6, 5, 20))
    // two interleaved keys, each alternating a/b, event time step 10
    val events = (1 to 300).map { i =>
      ev(i.toLong, if ((i - 1) / 2 % 2 == 0) "a" else "b", i * 10L, key = s"k${i % 2}")
    }
    def run(name: String, batches: Int, swapTo: Option[Int]): Map[Inference.Out, Int] = {
      val controls = new Inference.ControlHandle
      swapTo.foreach(id => controls.push(SyncCommand.play(0L, id)))
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[CEvent]
      // each key arms the swap at its first event and takes it 700 later:
      // past the first 50-event batch (span 490), so in the six-batch run
      // the swap is still pending at a batch boundary; reports every 200
      // put several report points inside each batch
      val q = Inference.engine(mem.toDS(), cp, id => (spst, tables(id)), controls,
        swapDelay = 700L, reportingDistance = 200L)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      events.grouped(events.size / batches).foreach { chunk =>
        mem.addData(chunk)
        q.processAllAvailable()
      }
      q.stop()
      spark.table(name).as[Inference.Out].collect().groupBy(identity).map {
        case (row, rows) => row -> rows.length
      }
    }
    val one = run("carry_one", batches = 1, swapTo = Some(1))
    val six = run("carry_six", batches = 6, swapTo = Some(1))
    one.keySet.map(_.kind) shouldBe Set("detection", "forecast", "report")
    one.keySet.filter(_.kind == "report").map(_.partition) shouldBe Set("k0", "k1")
    six shouldBe one
    // and the swap itself changed what the engine emitted
    run("carry_noswap", batches = 1, swapTo = None) should not equal one
  }
}
