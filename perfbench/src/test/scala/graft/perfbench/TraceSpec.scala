package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Job-group attribution of the tracer's listener against a live
  * local Spark.
  */
class TraceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def work(): Unit = { spark.range(1000).selectExpr("sum(id)").collect(); () }

  test("a job is charged to the innermost span open on its thread") {
    val t = new Tracer(spark.sparkContext, enabled = true)
    val trace = t.newTrace()
    t.span("Alone", trace)(work())
    t.span("Outer", trace) {
      work()
      t.span("Inner", trace)(work())
    }
    t.drain()
    val by = t.spans.map(s => s.layer -> s).toMap
    val perCall = by("Alone").jobs.get
    assert(perCall > 0)
    assert(by("Outer").jobs.get == perCall)
    assert(by("Inner").jobs.get == perCall)
    assert(by("Inner").parent.contains(by("Outer").id))
    assert(by("Outer").tasks.get > 0 && by("Outer").taskIntervals.size > 0)
    assert(t.unattributed == 0)
    t.stop()
  }

  test("a helper thread started inside a span inherits its job group") {
    val t = new Tracer(spark.sparkContext, enabled = true)
    t.span("Helper", t.newTrace()) {
      val th = new Thread(() => work())
      th.start(); th.join()
    }
    work() // outside any span: not attributed
    t.drain()
    val helper = t.spans.find(_.layer == "Helper").get
    assert(helper.jobs.get > 0 && helper.tasks.get > 0)
    assert(t.unattributed > 0)
    t.stop()
  }

  test("a registered streaming query's jobs land in its open tick, else between ticks") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val t = new Tracer(spark.sparkContext, enabled = true)
    val input = MemoryStream[Long]
    val ckpt = java.nio.file.Files.createTempDirectory("tracespec").toString
    val q = input.toDF().writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        b.selectExpr("sum(value)").collect(); ()
      }.start()
    t.registerStream(q.runId.toString, "Stream")
    t.openTick(q.runId.toString, t.newTrace())
    input.addData(1L, 2L, 3L)
    q.processAllAvailable()
    t.closeTick(q.runId.toString)
    input.addData(4L)
    q.processAllAvailable()
    q.stop()
    t.drain()
    val tick = t.spans.find(_.layer == "Stream").get
    assert(tick.jobs.get > 0 && tick.tasks.get > 0)
    assert(t.betweenTicks("Stream").jobs.get > 0)
    val costs = Tracer.layerCosts(t.spans, t.betweenTicks, cores = 2)
    assert(costs("Stream").jobs == tick.jobs.get + t.betweenTicks("Stream").jobs.get)
    assert(t.unattributed == 0)
    t.stop()
  }

  test("a disabled tracer records nothing") {
    val t = new Tracer(spark.sparkContext, enabled = false)
    assert(t.span("X", t.newTrace())(41 + 1) == 42)
    t.drain()
    assert(t.spans.isEmpty)
  }
}
