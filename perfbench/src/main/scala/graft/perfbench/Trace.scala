package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `trace` is shared by every span of one
  * refresh, tick or read; `parent` is the span that caused this one.
  * Times are epoch milliseconds, the clock Spark stamps tasks with.
  * The Spark cost of the jobs run under the span is added by
  * [[Tracer]]'s listener.
  */
final class Span(val id: Long, val trace: Long, val layer: String,
                 val parent: Option[Long], val startMs: Double) {
  @volatile var endMs: Double = Double.NaN
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val inputBytes = new AtomicLong
  val taskIntervals = new ConcurrentLinkedQueue[(Double, Double)]
  def durationMs: Double = endMs - startMs
}

/** Per-layer totals, the `<Layer>.<counter>` metrics of a traced run. */
final case class LayerCost(wallS: Double, selfS: Double, jobs: Long, tasks: Long,
                           cpuS: Double, gcS: Double, shuffleWriteBytes: Long,
                           spillBytes: Long, driverGapS: Double, util: Double) {
  def metrics: Seq[(String, Double)] = Seq(
    "wall_s" -> wallS, "self_s" -> selfS, "jobs" -> jobs.toDouble,
    "tasks" -> tasks.toDouble, "cpu_s" -> cpuS, "gc_s" -> gcS,
    "shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
    "spill_bytes" -> spillBytes.toDouble, "driver_gap_s" -> driverGapS,
    "util" -> util)
}

object LayerCost {
  val Counters: Seq[String] = LayerCost(0, 0, 0, 0, 0, 0, 0, 0, 0, 0).metrics.map(_._1)
}

/** Spans around the benchmark's calls into graft, and a SparkListener
  * that charges every job to the span that caused it.
  *
  * Attribution is by job group. [[span]] sets a group naming the span
  * on the calling thread; threads the library starts inside the span
  * inherit it (SparkContext's local properties are inheritable). A
  * streaming query runs its micro-batches under a group equal to its
  * run id, so a query registered with [[registerStream]] charges its
  * jobs to the tick span open for it ([[openTick]]), or, between
  * ticks, to its layer without a span.
  *
  * Disabled, a tracer records nothing and installs no listener.
  * Spans stay in memory; [[spans]] hands them over once at the end.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val nextId = new AtomicLong(0)
  private val all = new ConcurrentLinkedQueue[Span]
  private val byGroup = new ConcurrentHashMap[String, Span]
  private val current = new ThreadLocal[Span]

  private final class StreamSlot(val layer: String) {
    @volatile var tick: Span = _
    val between = new Span(-1, -1, layer, None, Double.NaN)
  }
  private val streams = new ConcurrentHashMap[String, StreamSlot]
  private val stageTarget = new ConcurrentHashMap[Int, Span]
  private val unattributedJobs = new AtomicInteger

  def newTrace(): Long = nextId.incrementAndGet()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).map(_.getProperty(JobGroupKey)).orNull
      targetOf(group) match {
        case Some(s) =>
          s.jobs.incrementAndGet()
          e.stageIds.foreach(stageTarget.putIfAbsent(_, s))
        case None => unattributedJobs.incrementAndGet()
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageTarget.get(e.stageId)
      if (s != null) {
        s.tasks.incrementAndGet()
        val m = e.taskMetrics
        if (m != null) {
          s.cpuNs.addAndGet(m.executorCpuTime)
          s.gcMs.addAndGet(m.jvmGCTime)
          s.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          s.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          s.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        }
        val info = e.taskInfo
        if (info != null && info.finishTime > 0)
          s.taskIntervals.add((info.launchTime.toDouble, info.finishTime.toDouble))
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  private def targetOf(group: String): Option[Span] =
    if (group == null) None
    else Option(byGroup.get(group)).orElse(Option(streams.get(group)).map { slot =>
      val t = slot.tick
      if (t != null) t else slot.between
    })

  /** Run `body` as a span of `layer` under `trace`, child of the span
    * open on this thread.
    */
  def span[T](layer: String, trace: Long)(body: => T): T =
    if (!enabled) body
    else {
      val parent = Option(current.get())
      val s = new Span(nextId.incrementAndGet(), trace, layer, parent.map(_.id), nowMs())
      all.add(s)
      val group = GroupPrefix + s.id
      byGroup.put(group, s)
      val prevGroup = sc.getLocalProperty(JobGroupKey)
      sc.setLocalProperty(JobGroupKey, group)
      current.set(s)
      try body
      finally {
        s.endMs = nowMs()
        current.set(parent.orNull)
        sc.setLocalProperty(JobGroupKey, prevGroup)
      }
    }

  /** Charge the jobs of streaming query `runId` to `layer`. */
  def registerStream(runId: String, layer: String): Unit =
    if (enabled) streams.putIfAbsent(runId, new StreamSlot(layer))

  /** Open the tick span of a registered stream; its jobs land in it
    * until [[closeTick]]. One tick is open per stream at a time.
    */
  def openTick(runId: String, trace: Long): Unit =
    if (enabled) {
      val slot = streams.get(runId)
      require(slot != null, s"stream $runId is not registered")
      val s = new Span(nextId.incrementAndGet(), trace, slot.layer, None, nowMs())
      all.add(s)
      slot.tick = s
    }

  def closeTick(runId: String): Unit =
    if (enabled) {
      val slot = streams.get(runId)
      val s = slot.tick
      if (s != null) { s.endMs = nowMs(); slot.tick = null }
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchShims.drainListenerBus(sc)

  def spans: Seq[Span] = all.asScala.toSeq

  /** Jobs whose group named no span and no registered stream. */
  def unattributed: Int = unattributedJobs.get()

  /** Spark cost of stream jobs that ran between ticks, per layer. */
  def betweenTicks: Map[String, Span] =
    streams.values.asScala.map(s => s.layer -> s.between).toMap

  def stop(): Unit = if (enabled) sc.removeSparkListener(listener)
}

object Tracer {
  val JobGroupKey = "spark.jobGroup.id"
  val GroupPrefix = "perfbench-span-"

  /** Fold finished spans (plus stream work between ticks) into one
    * [[LayerCost]] per layer. Self time is a span's duration minus the
    * part its children cover; driver gap is the part no task of the
    * span or its descendants covers.
    */
  def layerCosts(spans: Seq[Span], between: Map[String, Span], cores: Int): Map[String, LayerCost] = {
    val done = spans.filter(s => !s.endMs.isNaN)
    val children = done.groupBy(_.parent)
    def descendants(s: Span): Seq[Span] =
      children.getOrElse(Some(s.id), Nil).flatMap(c => c +: descendants(c))
    val layers = done.map(_.layer).toSet ++ between.keySet
    layers.map { layer =>
      val ss = done.filter(_.layer == layer)
      val extra = between.get(layer).toSeq
      val counted = ss ++ extra
      val wallMs = ss.map(_.durationMs).sum
      val selfMs = ss.map { s =>
        s.durationMs - Stats.unionLength(children.getOrElse(Some(s.id), Nil)
          .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs))))
      }.sum
      val gapMs = ss.map { s =>
        val ivs = (s +: descendants(s)).flatMap(_.taskIntervals.asScala)
        Stats.uncovered(s.startMs, s.endMs, ivs)
      }.sum
      val cpuS = counted.map(_.cpuNs.get).sum / 1e9
      val wallS = wallMs / 1000.0
      layer -> LayerCost(
        wallS = wallS,
        selfS = selfMs / 1000.0,
        jobs = counted.map(_.jobs.get).sum,
        tasks = counted.map(_.tasks.get).sum,
        cpuS = cpuS,
        gcS = counted.map(_.gcMs.get).sum / 1000.0,
        shuffleWriteBytes = counted.map(_.shuffleWriteBytes.get).sum,
        spillBytes = counted.map(_.spillBytes.get).sum,
        driverGapS = gapMs / 1000.0,
        util = if (wallS > 0) cpuS / (wallS * cores) else 0.0)
    }.toMap
  }
}
