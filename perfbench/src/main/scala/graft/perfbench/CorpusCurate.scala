package graft.perfbench

import graft.operators.{Curation, Decontamination, Dedup, TextAnalysis}

/** `corpus_curate`: one LLM-data pass over a generated corpus with
  * planted near duplicates — MinHash LSH pairs, star-contraction
  * dedup clusters, the quality filter, eval-set decontamination, then
  * the curation pipeline (semantic dedup, prototype pruning, LM
  * selection, packing). No ALS, no ratings store. Passes repeat over
  * the same corpus for the run's seconds; the headline is the median
  * pass wall.
  */
object CorpusCurate {

  val Docs = 2000
  val PlantFrac = 0.05
  val Dim = 64

  final case class Result(pairs: Set[(Long, Long)], keptHash: String, keptRows: Int)

  private def writeCorpus(ctx: Ctx, dir: String, n: Int): Seq[(Long, Long)] = {
    val (docs, planted) = Gen.corpus(ctx.seed, n, PlantFrac)
    Gen.writeCorpus(ctx.spark, dir, ctx.seed, docs, planted.map(_.swap).toMap, Dim, ctx.cores)
    planted
  }

  def pass(ctx: Ctx, dir: String, artifacts: String): Result = {
    val spark = ctx.spark
    val t = ctx.tracer
    val trace = t.newTrace()
    val pairs = t.span("Dedup", trace) {
      Dedup.minhashLsh(spark, dir).select("doc_a", "doc_b").collect()
    }.map(r => (r.getLong(0), r.getLong(1))).toSet
    t.span("Dedup", trace) { ctx.noop(Dedup.dedupClustersStar(spark, dir)) }
    t.span("TextAnalysis", trace) { ctx.noop(TextAnalysis.qualityFilter(spark, dir)) }
    t.span("Decontamination", trace) { ctx.noop(Decontamination.flagContaminated(spark, dir)) }
    val kept = t.span("Curation", trace) {
      Curation.corpusCurate(spark, dir, artifactDir = artifacts).collect()
    }
    spark.catalog.clearCache()
    val digest = java.security.MessageDigest.getInstance("SHA-256")
    kept.map(_.toString).sorted.foreach(s => digest.update(s.getBytes("UTF-8")))
    Result(pairs, digest.digest().map("%02x".format(_)).mkString, kept.length)
  }

  def run(ctx: Ctx): Outcome = {
    val dir = ctx.path("data")
    val (planted, setupS) = ctx.timed(writeCorpus(ctx, dir, Docs))

    val runs = ctx.repeatFor(pass(ctx, dir, ctx.path("artifacts")))
    val walls = runs.map(_._2)
    val rs = runs.map(_._1)
    val found = planted.count { case (a, b) => rs.last.pairs.contains((a min b, a max b)) }
    val recall = found.toDouble / planted.size
    val hashes = rs.map(_.keptHash).distinct
    val inputDocs = Docs + planted.size
    Outcome(setupS, walls, attempted = walls.size, failed = 0,
      checks = Seq(
        Check("planted_pair_recall", recall >= 0.95, f"recall=$recall%.4f ($found of ${planted.size})"),
        Check("kept_hash_repeats", hashes.size == 1 && rs.last.keptRows > 0,
          s"passes=${rs.size} hashes=${hashes.mkString(",")} kept_rows=${rs.last.keptRows}")),
      layerExtras = Map.empty,
      record = Map("pass_s" -> walls, "input_docs" -> inputDocs,
        "curate_docs_per_s" -> walls.map(inputDocs / _),
        "planted_pair_recall" -> recall, "kept_hash" -> rs.last.keptHash,
        "kept_rows" -> rs.last.keptRows))
  }
}
