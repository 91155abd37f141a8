package graft.perfbench

import java.time.LocalDateTime

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generation. The same seed gives the same tables,
  * documents and change batches; nothing here reads data from outside
  * the run.
  */
object Gen {

  // ---------------------------------------------------------------
  // ratings fact: the orders / lineitem / part tables graft maps onto
  // (user, item, rating) through Tables.interactions

  /** Users, items and orders of the generated ratings fact. */
  final case class RatingsSize(users: Int, items: Int, orders: Int)

  /** Items are grouped into this many taste clusters; a user mostly
    * buys (and rates highly) inside one, which gives ALS and item-CF
    * structure to find.
    */
  private val Clusters = 10

  private def hashOf(seed: Long, salt: Int, keys: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: keys): _*)

  /** Uniform draw in [0, 1), a pure function of (seed, salt, keys). */
  private def unif(seed: Long, salt: Int, keys: Column*): Column =
    pmod(hashOf(seed, salt, keys: _*), lit(1000003L)).cast("double") / 1000003.0

  private def pick(seed: Long, salt: Int, n: Long, keys: Column*): Column =
    pmod(hashOf(seed, salt, keys: _*), lit(n))

  /** Order dates span 1995 .. 2002, so graft's serving cutoff
    * (2000-07-01) splits the history.
    */
  private def orderDate(seed: Long, orderIdx: Column): Column =
    date_add(lit("1995-01-01").cast("date"), (unif(seed, 3, orderIdx) * 2900).cast("int"))
      .cast("timestamp_ntz")

  private def custOf(seed: Long, size: RatingsSize, orderIdx: Column): Column =
    pick(seed, 1, size.users.toLong, orderIdx) + 1L

  /** Write orders, lineitem and part parquet tables under `dir`. */
  def writeRatingsTables(spark: SparkSession, dir: String, seed: Long,
                         size: RatingsSize, partitions: Int): Unit = {
    val orders = spark.range(0, size.orders.toLong, 1, partitions).select(
      (col("id") + 1L).as("o_orderkey"),
      custOf(seed, size, col("id")).as("o_custkey"),
      when(unif(seed, 4, col("id")) < 0.5, "O").otherwise("F").as("o_orderstatus"),
      round(unif(seed, 5, col("id")) * 100000.0, 2).as("o_totalprice"),
      orderDate(seed, col("id")).as("o_orderdate"),
      concat(lit("PRIO-"), pick(seed, 6, 5, col("id"))).as("o_orderpriority"))
    orders.write.mode("overwrite").parquet(s"$dir/orders.parquet")

    // up to 7 lines per order, 1 + pick(7) of them kept
    val perCluster = (size.items / Clusters).max(1)
    val li = spark.range(0, size.orders.toLong * 7, 1, partitions)
      .select(floor(col("id") / 7).cast("long").as("oi"), (col("id") % 7 + 1).cast("int").as("ln"))
      .filter(col("ln") <= pick(seed, 2, 7, col("oi")) + 1)
      .withColumn("cust", custOf(seed, size, col("oi")))
      .withColumn("inCluster", unif(seed, 7, col("oi"), col("ln")) < 0.7)
      .withColumn("skew", pow(unif(seed, 8, col("oi"), col("ln")), 2.0))
      .withColumn("item", when(col("inCluster"),
          pmod(col("cust"), lit(Clusters)) * perCluster + floor(col("skew") * perCluster))
        .otherwise(floor(col("skew") * size.items)) + 1L)
      .withColumn("qty", when(col("inCluster"),
          floor(unif(seed, 9, col("oi"), col("ln")) * 25) + 26)
        .otherwise(floor(unif(seed, 9, col("oi"), col("ln")) * 50) + 1).cast("double"))
      .withColumn("rf", unif(seed, 10, col("oi"), col("ln")))
    li.select(
        (col("oi") + 1L).as("l_orderkey"),
        col("item").cast("long").as("l_partkey"),
        (pick(seed, 11, 100, col("oi"), col("ln")) + 1L).as("l_suppkey"),
        col("ln").as("l_linenumber"),
        col("qty").as("l_quantity"),
        round(col("qty") * (col("item") % 1000 + 900) / 10.0, 2).as("l_extendedprice"),
        round(unif(seed, 12, col("oi"), col("ln")) * 0.1, 2).as("l_discount"),
        round(unif(seed, 13, col("oi"), col("ln")) * 0.08, 2).as("l_tax"),
        when(col("rf") < 0.2, "R").when(col("rf") < 0.6, "A").otherwise("N").as("l_returnflag"),
        when(col("rf") < 0.5, "O").otherwise("F").as("l_linestatus"),
        (orderDate(seed, col("oi")) + expr("INTERVAL 3 DAYS")).as("l_shipdate"))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")

    spark.range(0, size.items.toLong, 1, partitions).select(
      (col("id") + 1L).as("p_partkey"),
      concat(lit("part "), col("id")).as("p_name"),
      concat(lit("Brand#"), col("id") % 5 + 1, floor(col("id") / 5) % 5 + 1).as("p_brand"),
      concat(lit("TYPE "), col("id") % 25).as("p_type"),
      (pick(seed, 14, 50, col("id")) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (col("id") % 1000) / 10.0, 2).as("p_retailprice"))
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
  }

  // ---------------------------------------------------------------
  // documents

  private val Stopwords = Array("the", "of", "and", "to", "a", "in", "is", "it",
    "that", "for", "on", "with", "as", "was", "at", "by", "be", "this", "are", "or")
  private val Syllables = Array("ka", "lo", "mi", "ne", "ru", "sa", "to", "vi",
    "pe", "do", "ga", "fu", "ri", "zo", "be", "na")

  /** Content vocabulary: 4096 distinct two- and three-syllable words. */
  private val Vocab: Array[String] = (0 until 4096).map { i =>
    val a = Syllables(i % 16); val b = Syllables((i / 16) % 16); val c = Syllables(i / 256)
    if (i < 256) a + b else a + b + c
  }.toArray

  /** Zipf(1) cumulative weights over the vocabulary. */
  private val ZipfCdf: Array[Double] = {
    val w = (1 to Vocab.length).map(r => 1.0 / r).toArray
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  val Topics = 16

  private def zipfWord(r: java.util.SplittableRandom, topic: Int): String = {
    val i = java.util.Arrays.binarySearch(ZipfCdf, r.nextDouble())
    val rank = if (i >= 0) i else -i - 1
    Vocab((rank.min(Vocab.length - 1) + topic * 197) % Vocab.length)
  }

  private def rng(seed: Long, salt: Long, id: Long) =
    new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt * 0xC2B2AE3D27D4EB4FL ^ id)

  final case class Doc(doc_id: Long, text: String, lang: String, source: String,
                       n_chars: Long, topic: Int)

  /** A fresh document: 40..119 words, topical Zipf content with
    * stopwords mixed in.
    */
  def doc(seed: Long, id: Long): Doc = {
    val r = rng(seed, 1, id)
    val topic = r.nextInt(Topics)
    val n = 40 + r.nextInt(80)
    val words = Array.fill(n)(
      if (r.nextDouble() < 0.3) Stopwords(r.nextInt(Stopwords.length)) else zipfWord(r, topic))
    val lang = r.nextInt(10) match {
      case 0 => "de"; case 1 => "fr"; case 2 => "es"; case 3 => "zh"; case _ => "en"
    }
    val text = words.mkString(" ")
    Doc(id, text, lang, s"src${r.nextInt(20)}", text.length.toLong, topic)
  }

  /** A near copy of `orig` under a new id: one content word replaced. */
  def nearCopy(seed: Long, orig: Doc, id: Long): Doc = {
    val r = rng(seed, 2, id)
    val words = orig.text.split(" ")
    val at = r.nextInt(words.length)
    words(at) = "edit" + Syllables(r.nextInt(16)) + Syllables(r.nextInt(16))
    val text = words.mkString(" ")
    orig.copy(doc_id = id, text = text, n_chars = text.length.toLong)
  }

  /** A generated corpus with planted near duplicates: `n` fresh
    * documents, then `n * plantFrac` near copies of seeded picks
    * among them, ids continuing after `n`. Returns the corpus and the
    * planted (original, copy) id pairs.
    */
  def corpus(seed: Long, n: Int, plantFrac: Double): (Seq[Doc], Seq[(Long, Long)]) = {
    val base = (0L until n.toLong).map(doc(seed, _))
    val r = rng(seed, 3, n.toLong)
    val pairs = (0 until (n * plantFrac).toInt).map(j => (r.nextInt(n).toLong, n.toLong + j))
    (base ++ pairs.map { case (o, c) => nearCopy(seed, base(o.toInt), c) }, pairs)
  }

  /** Document batch `b` of a stream that continues a `baseDocs`-doc
    * corpus: `perBatch` new ids, about a fifth of them near copies of
    * seeded base documents. Returns the batch and its planted
    * (original, copy) pairs.
    */
  def docsBatch(seed: Long, b: Int, baseDocs: Int, perBatch: Int): (Seq[Doc], Seq[(Long, Long)]) = {
    val docs = (0 until perBatch).map { k =>
      val id = baseDocs.toLong + b.toLong * perBatch + k
      val r = rng(seed, 9, id)
      if (r.nextDouble() < 0.2) {
        val orig = r.nextInt(baseDocs).toLong
        (nearCopy(seed, doc(seed, orig), id), Some(orig -> id))
      } else (doc(seed, id), None)
    }
    (docs.map(_._1), docs.flatMap(_._2))
  }

  /** Embedding of a document: its topic's centre plus noise; a near
    * copy sits next to its original.
    */
  def embedding(seed: Long, d: Doc, origin: Option[Long], dim: Int): Array[Float] = {
    val centre = rng(seed, 4, d.topic.toLong)
    val c = Array.fill(dim)(centre.nextDouble() * 2 - 1)
    val own = rng(seed, 5, origin.getOrElse(d.doc_id))
    val v = c.map(x => x + own.nextGaussian() * 0.35)
    origin.foreach { _ =>
      val jitter = rng(seed, 6, d.doc_id)
      v.indices.foreach(i => v(i) += jitter.nextGaussian() * 0.01)
    }
    v.map(_.toFloat)
  }

  /** Write documents.parquet and embeddings.parquet for `docs`.
    * `origins` maps a planted copy to its original.
    */
  def writeCorpus(spark: SparkSession, dir: String, seed: Long, docs: Seq[Doc],
                  origins: Map[Long, Long], dim: Int, partitions: Int): Unit = {
    import spark.implicits._
    spark.createDataset(docs).repartition(partitions)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    docs.map(d => (d.doc_id, embedding(seed, d, origins.get(d.doc_id), dim), d.topic))
      .toDF("vec_id", "embedding", "label").repartition(partitions)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  // ---------------------------------------------------------------
  // change batches

  /** One row of a ratings change batch, graft's mutation schema. */
  final case class RatingChange(user_id: Long, item_id: Long, rating: Double,
                                is_implicit: Boolean, ts: LocalDateTime, op: String)

  /** Batch `b`'s timestamp: after every base rating, one minute per batch. */
  def batchTs(b: Int): LocalDateTime = LocalDateTime.of(2010, 1, 1, 0, 0).plusMinutes(b.toLong)

  /** Ratings change batch `b`: raw-valued re-rates and new ratings
    * (graft normalizes them to half stars), deletes of base ratings,
    * and `watched`, the batch's watched backfills (stamped with its
    * timestamp). One change per (user, item).
    */
  def ratingsBatch(seed: Long, b: Int, size: RatingsSize, baseKeys: IndexedSeq[(Long, Long)],
                   watched: IndexedSeq[RatingChange], upserts: Int, deletes: Int): Seq[RatingChange] = {
    val r = rng(seed, 7, b.toLong)
    val ts = batchTs(b)
    val ups = (0 until upserts).map { _ =>
      val (u, i) =
        if (r.nextBoolean()) baseKeys(r.nextInt(baseKeys.length))
        else (1L + r.nextInt(size.users), 1L + r.nextInt(size.items))
      RatingChange(u, i, 0.3 + r.nextDouble() * 4.9, false, ts, "upsert")
    }
    val dels = (0 until deletes).map { _ =>
      val (u, i) = baseKeys(r.nextInt(baseKeys.length))
      RatingChange(u, i, 0.0, false, ts, "delete")
    }
    (ups ++ dels ++ watched)
      .groupBy(c => (c.user_id, c.item_id)).values.map(_.head).toSeq
      .sortBy(c => (c.user_id, c.item_id))
  }

  /** Watched events (user, item, ts) feeding Mutations.watchedBatch:
    * `perBatch` per batch for `batches` batches, as a frame.
    */
  def watchedEvents(spark: SparkSession, seed: Long, size: RatingsSize,
                    batches: Int, perBatch: Int): DataFrame = {
    import spark.implicits._
    (0 until batches).flatMap { b =>
      val r = rng(seed, 8, b.toLong)
      (0 until perBatch).map(_ =>
        (1L + r.nextInt(size.users), 1L + r.nextInt(size.items), batchTs(b)))
    }.toDF("user_id", "item_id", "ts")
  }
}
