package graft.perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one workload run hands back to [[Main]]. */
final case class Check(name: String, ok: Boolean, detail: String)

final case class Outcome(
    setupS: Double,                    // data generation, store seeding, stream start
    opS: Seq[Double],                  // the headline operation, one sample per op
    attempted: Int,                    // client operations attempted in the timed window
    failed: Int,                       // ... and failed
    checks: Seq[Check],                // output checks, run after the timed window
    layerExtras: Map[String, Double],  // per-layer metrics that are not Spark cost
    record: Map[String, Any])          // everything else worth keeping

/** Shared state of one run. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val root: String,
                val seed: Long, val seconds: Double, val cores: Int) {
  def path(name: String): String = s"$root/$name"

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Force a frame through Spark's no-op sink: all columns computed,
    * nothing collected.
    */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Run `op` back to back for the run's `seconds`: at least once, and
    * again only while the previous call's wall still fits in what is
    * left, so a run measures whole operations and ends near its
    * window. Returns each call's result and wall in seconds.
    */
  def repeatFor[T](op: => T): Seq[(T, Double)] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val runs = Seq.newBuilder[(T, Double)]
    var lastWall = -1.0
    while (lastWall < 0 || System.nanoTime() + (lastWall * 1e9).toLong <= deadline) {
      val run = timed(op)
      runs += run
      lastWall = run._2
    }
    runs.result()
  }
}

/** Entry point: one workload, one seed, one run.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --root <scratch dir> --record <file>
  * }}}
  *
  * Prints one JSON line last: `correct`, `attempted`, `failed` and
  * `metrics` — the end-to-end metrics untraced, the per-layer metrics
  * traced. The full record (host block, samples, tails, checks, spans)
  * goes to `--record`.
  */
object Main {

  /** Spark runs `local[Cores]`, with as many shuffle partitions. */
  val Cores = 4

  val Workloads: Map[String, Ctx => Outcome] = Map(
    "recs_refresh" -> RecsRefresh.run,
    "store_ticks" -> StoreTicks.run,
    "corpus_curate" -> CorpusCurate.run)

  val Layers: Seq[String] = Seq("Als", "Serving", "Relational", "EventStream", "DocStream",
    "BucketStore", "Dedup", "TextAnalysis", "Decontamination", "Curation")

  /** Per-layer metrics that are not Spark cost, zero where the
    * workload never produces them.
    */
  val LayerExtras: Seq[String] = Seq(
    "EventStream.write_amp", "DocStream.tick_p50_s", "BucketStore.read_p50_ms",
    "BucketStore.read_bytes_per_read", "BucketStore.live_files", "BucketStore.store_bytes")

  val ProcessMetrics: Seq[String] =
    Seq("jvm.session_s", "jvm.gc_s", "jvm.heap_peak_mb", "jvm.peak_rss_mb", "run.failed_ratio")

  def perLayerNames: Seq[String] =
    Layers.flatMap(l => LayerCost.Counters.map(c => s"$l.$c")) ++ LayerExtras ++ ProcessMetrics

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String): String =
      args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = arg("workload")
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val root = arg("root")

    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$root/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$root/checkpoints")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val tracer = new Tracer(spark.sparkContext, trace)
    val ctx = new Ctx(spark, tracer, root, seed, seconds, Cores)
    val outcome = scala.util.Try(run(ctx))
    tracer.drain()
    val layerCosts = Tracer.layerCosts(tracer.spans, tracer.betweenTicks, Cores)
    val o = outcome.getOrElse(Outcome(0, Nil, 1, 1,
      Seq(Check("run", ok = false, outcome.failed.get.toString)), Map.empty, Map.empty))
    outcome.failed.foreach(_.printStackTrace())

    val checksFailed = o.checks.count(!_.ok)
    val attempted = o.attempted + o.checks.size
    val failed = o.failed + checksFailed
    val correct = outcome.isSuccess && failed == 0
    // JVM and SparkSession start-up is left out of setup_s: graft runs
    // none of it, and it swings with the host more than anything else
    // (jvm.session_s reports it)
    val setupS = o.setupS
    val peakRssMb = vmHwmMb()
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    val gcS = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

    val endToEnd: Seq[(String, Double, String)] = Seq(
      ("setup_s", setupS, "s"),
      ("op_p50_s", if (o.opS.isEmpty) Double.NaN else Stats.median(o.opS), "s"))
    val perLayer: Seq[(String, Double, String)] = {
      val costs = Layers.flatMap { l =>
        val c = layerCosts.getOrElse(l, LayerCost(0, 0, 0, 0, 0, 0, 0, 0, 0, 0))
        c.metrics.map { case (k, v) => (s"$l.$k", v) }
      }.toMap
      val process = Map("jvm.session_s" -> sessionS, "jvm.gc_s" -> gcS,
        "jvm.heap_peak_mb" -> heapPeakMb,
        "jvm.peak_rss_mb" -> peakRssMb,
        "run.failed_ratio" -> failed.toDouble / attempted.max(1))
      perLayerNames.map { n =>
        (n, costs.getOrElse(n, o.layerExtras.getOrElse(n, process.getOrElse(n, 0.0))), unitOf(n))
      }
    }
    val printed = if (trace) perLayer else endToEnd

    val record = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "host" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "master" -> s"local[$Cores]",
        "driver_xmx_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
        "jdk" -> System.getProperty("java.version"),
        "spark" -> spark.version),
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "failed_ratio" -> failed.toDouble / attempted.max(1),
      "session_s" -> sessionS,
      "op_s" -> o.opS,
      "checks" -> o.checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "end_to_end" -> endToEnd.map { case (n, v, _) => n -> v }.toMap,
      "peak_rss_mb" -> peakRssMb,
      "per_layer" -> (if (trace) perLayer.map { case (n, v, _) => n -> v }.toMap else Map.empty),
      "unattributed_jobs" -> tracer.unattributed,
      "spans" -> tracer.spans.filter(s => !s.endMs.isNaN).sortBy(_.startMs).map(s => Map(
        "id" -> s.id, "trace" -> s.trace, "layer" -> s.layer, "parent" -> s.parent,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "jobs" -> s.jobs.get,
        "tasks" -> s.tasks.get, "cpu_s" -> s.cpuNs.get / 1e9)),
      "workload_record" -> o.record)
    args.get("record").foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        json(record).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }

    tracer.stop()
    spark.stop()
    val metrics = printed.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }
    val line = json(scala.collection.immutable.ListMap(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics: _*)))
    System.out.println(line)
    System.out.flush()
    System.exit(if (correct) 0 else 1)
  }

  /** JSON text of maps, sequences, options and scalars; a NaN or
    * infinite number becomes null.
    */
  def json(v: Any): String = {
    def finite(x: Any): Any = x match {
      case d: Double if d.isNaN || d.isInfinite => null
      case m: scala.collection.Map[_, _] => m.map { case (k, x) => k.toString -> finite(x) }
      case xs: Iterable[_] => xs.map(finite)
      case Some(x) => Some(finite(x))
      case other => other
    }
    org.json4s.jackson.Serialization.write(finite(v).asInstanceOf[AnyRef])(org.json4s.DefaultFormats)
  }

  def unitOf(name: String): String = name.split('.').last match {
    case n if n.endsWith("_s") => "s"
    case n if n.endsWith("_ms") => "ms"
    case n if n.endsWith("_mb") => "MB"
    case n if n.endsWith("bytes") || n.endsWith("_per_read") => "bytes"
    case "util" | "write_amp" | "failed_ratio" => "ratio"
    case _ => "count"
  }

  /** Peak resident set of this JVM (VmHWM), in MB; heap peak where
    * /proc is unavailable.
    */
  private def vmHwmMb(): Double =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
      }.get finally src.close()
    }.getOrElse(Runtime.getRuntime.totalMemory() / 1048576.0)
}
