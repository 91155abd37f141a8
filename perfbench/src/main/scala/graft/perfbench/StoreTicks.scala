package graft.perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Tables
import graft.operators.{Dedup, Mutations}
import graft.streaming.{BucketStore, DocStream, EventStream}

/** One ingested document of the near-dup stream. */
final case class DocIngest(doc_id: Long, text: String)

/** `store_ticks`: graft's maintained stores under write and read load.
  * Set-up seeds a bucketed ratings snapshot and the MinHash near-dup
  * stores. Then three closed-loop clients share the run's seconds:
  *
  *  - a feeder sends rating-change batches (re-rates and new ratings
  *    at raw values, deletes, watched backfills) to
  *    `EventStream.startCdcApply`;
  *  - a feeder sends new-document batches with planted near copies to
  *    `DocStream.startNearDupMaintain`;
  *  - a reader asks for a seeded user's current top ratings, a pruned
  *    `BucketStore.readBuckets` of the user's bucket, pausing
  *    [[ReadThinkMs]] before each read.
  *
  * A tick runs from the moment its batch is handed to the stream until
  * the store's applied-batch marker names it. The headline is the
  * median rating-change tick.
  */
object StoreTicks {

  val Size = Gen.RatingsSize(users = 600, items = 600, orders = 4000)
  val Buckets = 64
  val BaseDocs = 1000
  val DocsPerBatch = 40
  val Upserts = 150
  val Deletes = 30
  val WatchedPerBatch = 20
  /** Watched backfills are prepared for this many batches up front;
    * a run hands over a handful.
    */
  val MaxBatches = 100
  val TopK = 5
  /** The reader pauses this long between reads, like a user between
    * page views; without a pause its back-to-back reads take a whole
    * core and make every tick hostage to the host's other load.
    */
  val ReadThinkMs = 250L
  val TickTimeoutS = 120.0
  /** Marker poll interval: fine against multi-second ticks, and coarse
    * enough that two polling feeders cost the host next to nothing.
    */
  val PollMs = 10L

  private final class Stores(root: String, val data: String) {
    val ratings = s"$root/ratings"
    val sig = s"$root/sig"
    val band = s"$root/band"
    val pairs = s"$root/pairs"
  }

  /** Bytes and count of the parquet files under `dir`. The stream may
    * delete retired generations while this walks, so a file or
    * directory that vanishes midway is skipped, not an error.
    */
  private def diskUsage(dir: String): (Long, Long) = {
    def walk(f: java.io.File): Iterator[java.io.File] =
      Option(f.listFiles()).iterator.flatMap(_.iterator).flatMap { c =>
        if (c.isDirectory) walk(c) else Iterator(c)
      }
    val sizes = walk(new java.io.File(dir))
      .filter(_.getName.endsWith(".parquet")).map(_.length()).filter(_ > 0).toSeq
    (sizes.sum, sizes.size.toLong)
  }

  /** Seed the ratings snapshot from the generated fact, and the
    * MinHash signature and band stores from the base corpus.
    */
  private def seedStores(ctx: Ctx, st: Stores): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    BucketStore.seed(Tables.interactions(spark, st.data),
      BucketStore.longBucket(col("user_id"), Buckets), st.ratings, Buckets)
    val docs = (0L until BaseDocs.toLong).map(Gen.doc(ctx.seed, _))
      .map(d => DocIngest(d.doc_id, d.text)).toDF()
    Dedup.seedMinhashStores(spark, docs, st.sig, st.band, Buckets)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val tracer = ctx.tracer

    val setupStart = System.nanoTime()
    val st = new Stores(ctx.path("stores"), ctx.path("data"))
    Gen.writeRatingsTables(spark, st.data, ctx.seed, Size, ctx.cores)
    seedStores(ctx, st)
    val base = Tables.interactions(spark, st.data)
    val baseKeys = base.select("user_id", "item_id").as[(Long, Long)].collect().toIndexedSeq
    val seedRowBytes = diskUsage(s"${st.ratings}/gen-base")._1.toDouble / baseKeys.size
    val watched: Map[Int, IndexedSeq[Gen.RatingChange]] =
      Mutations.watchedBatch(spark, base,
          Gen.watchedEvents(spark, ctx.seed, Size, MaxBatches, WatchedPerBatch))
        .as[Gen.RatingChange].collect().toIndexedSeq
        .groupBy(c => java.time.Duration.between(Gen.batchTs(0), c.ts).toMinutes.toInt)

    val ratingsIn = MemoryStream[Gen.RatingChange]
    val docsIn = MemoryStream[DocIngest]
    val qr = EventStream.startCdcApply(ratingsIn.toDF(), st.ratings,
      ctx.path("checkpoints/ratings"), Buckets)
    val qd = DocStream.startNearDupMaintain(docsIn.toDF(), st.sig, st.band, st.pairs,
      ctx.path("checkpoints/docs"), Buckets)
    tracer.registerStream(qr.runId.toString, "EventStream")
    tracer.registerStream(qd.runId.toString, "DocStream")

    def awaitMarker(dir: String, id: Long, q: StreamingQuery): Unit = {
      val deadline = System.nanoTime() + (TickTimeoutS * 1e9).toLong
      while (BucketStore.appliedBatchId(dir) < id) {
        q.exception.foreach(e => throw e)
        require(q.isActive, s"stream ${q.runId} stopped before batch $id")
        require(System.nanoTime() < deadline, s"batch $id not applied in ${TickTimeoutS}s")
        Thread.sleep(PollMs)
      }
    }

    // the feeders; batch b is the stream's b-th micro-batch, as each
    // batch is handed over only after the previous one's marker
    val appliedRatings = Seq.newBuilder[Gen.RatingChange]
    var ratingBatches = 0
    var changeRows = 0L
    var genBytes = 0L
    var fileSamples = Vector.empty[(Long, Long)]
    def ratingsTick(): Double = {
      val b = ratingBatches
      val rows = Gen.ratingsBatch(ctx.seed, b, Size, baseKeys,
        watched.getOrElse(b, IndexedSeq.empty), Upserts, Deletes)
      tracer.openTick(qr.runId.toString, tracer.newTrace())
      val t0 = System.nanoTime()
      ratingsIn.addData(rows)
      awaitMarker(st.ratings, b, qr)
      val dt = (System.nanoTime() - t0) / 1e9
      tracer.closeTick(qr.runId.toString)
      appliedRatings ++= rows
      ratingBatches += 1
      if (tracer.enabled) {
        changeRows += rows.size
        genBytes += diskUsage(s"${st.ratings}/gen-$b")._1
        fileSamples :+= diskUsage(st.ratings)
      }
      dt
    }
    val planted = Seq.newBuilder[(Long, Long)]
    var docBatches = 0
    def docsTick(): Double = {
      val b = docBatches
      val (docs, pairs) = Gen.docsBatch(ctx.seed, b, BaseDocs, DocsPerBatch)
      tracer.openTick(qd.runId.toString, tracer.newTrace())
      val t0 = System.nanoTime()
      docsIn.addData(docs.map(d => DocIngest(d.doc_id, d.text)))
      awaitMarker(st.band, b, qd)
      val dt = (System.nanoTime() - t0) / 1e9
      tracer.closeTick(qd.runId.toString)
      planted ++= pairs
      docBatches += 1
      dt
    }
    val readRnd = new java.util.SplittableRandom(ctx.seed ^ 0x5DEECE66DL)
    def read(): Double = {
      Thread.sleep(ReadThinkMs)
      val u = 1L + readRnd.nextInt(Size.users)
      val t0 = System.nanoTime()
      tracer.span("BucketStore", tracer.newTrace()) {
        BucketStore.readBuckets(spark, st.ratings, Seq((u % Buckets).toInt), Buckets)
          .filter(col("user_id") === u)
          .orderBy(col("rating").desc, col("ts").desc, col("item_id").asc)
          .limit(TopK).collect()
      }
      (System.nanoTime() - t0) / 1e9
    }

    val setupS = (System.nanoTime() - setupStart) / 1e9

    // the timed window: three closed-loop clients. A client starts
    // another operation only while its previous one would still end
    // inside the window, so the window closes near its length.
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    val attempted = new AtomicInteger
    val failed = new AtomicInteger
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]
    def client(name: String, op: () => Double): (Thread, ArrayBuffer[Double]) = {
      val out = ArrayBuffer.empty[Double]
      val t = new Thread(() => {
        var last = 0.0
        var ok = true
        while (ok && (out.isEmpty || System.nanoTime() + (last * 1e9).toLong <= deadline)) {
          attempted.incrementAndGet()
          try { last = op(); out += last }
          catch { case e: Throwable =>
            failed.incrementAndGet(); errors.add(s"$name: $e"); ok = false
          }
        }
      }, s"perfbench-$name")
      t.start()
      (t, out)
    }
    val (tr, ratingTicks) = client("ratings-feeder", () => ratingsTick())
    val (td, docTicks) = client("docs-feeder", () => docsTick())
    val (tq, reads) = client("reader", () => read())
    Seq(tr, td, tq).foreach(_.join())
    qr.stop(); qd.stop()
    tracer.drain()

    val readsMs = reads.map(_ * 1000).toSeq
    val readTail = Stats.tail(readsMs)
    val ratingTail = Stats.tail(ratingTicks.toSeq)
    val docTail = Stats.tail(docTicks.toSeq)
    val readBytes = tracer.spans.filter(_.layer == "BucketStore").map(_.inputBytes.get).sum
    def mean(xs: Seq[Long]) = if (xs.isEmpty) 0.0 else xs.sum.toDouble / xs.size
    val extras = Map(
      "EventStream.write_amp" -> (if (changeRows > 0) genBytes / (changeRows * seedRowBytes) else 0.0),
      "DocStream.tick_p50_s" -> (if (docTicks.isEmpty) 0.0 else Stats.median(docTicks.toSeq)),
      "BucketStore.read_p50_ms" -> (if (readsMs.isEmpty) 0.0 else Stats.median(readsMs)),
      "BucketStore.read_bytes_per_read" -> (if (reads.isEmpty) 0.0 else readBytes.toDouble / reads.size),
      "BucketStore.live_files" -> mean(fileSamples.map(_._2)),
      "BucketStore.store_bytes" -> mean(fileSamples.map(_._1)))

    val checks = Seq(
      checkSnapshot(ctx, st, appliedRatings.result()),
      checkPairs(ctx, st, planted.result()))
    // a tail needs 10 samples beyond its percentile; the record keeps
    // the sample count either way
    def tailRec(n: Int, t: Option[Stats.Tail]) =
      Map("n" -> n) ++ t.map(x => Map("percentile" -> x.percentile, "value" -> x.value))
        .getOrElse(Map.empty)
    Outcome(setupS, ratingTicks.toSeq, attempted.get, failed.get, checks, extras,
      Map("ratings_tick_s" -> ratingTicks, "docs_tick_s" -> docTicks, "read_ms" -> readsMs,
        "ratings_tick_tail" -> tailRec(ratingTicks.size, ratingTail),
        "docs_tick_tail" -> tailRec(docTicks.size, docTail),
        "read_tail" -> tailRec(readsMs.size, readTail), "errors" -> errors.asScala.toSeq,
        "rating_batches" -> ratingBatches, "doc_batches" -> docBatches,
        "docs_tick_p50_s" -> extras("DocStream.tick_p50_s"),
        "read_p50_ms" -> extras("BucketStore.read_p50_ms")))
  }

  /** The maintained snapshot equals one batch recompute: every applied
    * change batch merged into the base with Mutations.applyBatch. Both
    * sides are compared as multisets of rows.
    */
  private def checkSnapshot(ctx: Ctx, st: Stores, applied: Seq[Gen.RatingChange]): Check = {
    val spark = ctx.spark
    import spark.implicits._
    val cols = Seq("user_id", "item_id", "rating", "is_implicit", "ts").map(col)
    def rows(df: org.apache.spark.sql.DataFrame): Map[String, Int] =
      df.select(cols: _*).collect().groupMapReduce(_.toString)(_ => 1)(_ + _)
    val expected = rows(Mutations.applyBatch(Tables.interactions(spark, st.data),
      applied.toDS().toDF()))
    val actual = rows(BucketStore.readAll(spark, st.ratings))
    def surplus(a: Map[String, Int], b: Map[String, Int]) =
      a.map { case (r, n) => (n - b.getOrElse(r, 0)).max(0) }.sum
    val missing = surplus(expected, actual)
    val extra = surplus(actual, expected)
    Check("ratings_snapshot_equals_batch_recompute", missing == 0 && extra == 0,
      s"rows=${actual.values.sum} missing=$missing extra=$extra changes=${applied.size}")
  }

  /** Every planted near copy is paired with its original in the log. */
  private def checkPairs(ctx: Ctx, st: Stores, planted: Seq[(Long, Long)]): Check = {
    val found = Dedup.readPairLog(ctx.spark, st.pairs)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missing = planted.map { case (a, b) => (a min b, a max b) }.filterNot(found)
    Check("planted_pairs_in_pair_log", planted.nonEmpty && missing.isEmpty,
      s"planted=${planted.size} missing=${missing.size} pairs=${found.size}")
  }
}
