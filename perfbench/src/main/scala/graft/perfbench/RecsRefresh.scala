package graft.perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Relational, Serving}
import graft.recommender.Als

/** `recs_refresh`: the reference service's periodic retrain-and-serve.
  * One refresh = ALS fit plus top-N over unseen items, the CF serving
  * blend with its fallback pad, then the relational listings (item
  * stats, top movies, and the cold-start fallback for a few seeded
  * users). No store is touched. Refreshes repeat back to back for the
  * run's seconds; the headline is the median refresh wall.
  */
object RecsRefresh {

  val Size = Gen.RatingsSize(users = 600, items = 600, orders = 4000)
  val FallbackUsers = 2

  final case class Result(topN: Array[Row], served: Array[Row], topMovies: Array[Row],
                          fallback: Seq[(Long, Array[Row])])

  def refresh(ctx: Ctx, dir: String, users: Seq[Long]): Result = {
    val spark = ctx.spark
    val t = ctx.tracer
    val trace = t.newTrace()
    val topN = t.span("Als", trace) {
      Als.topN(spark, dir).select("user_id", "item_id", "rn").collect()
    }
    val served = t.span("Serving", trace) {
      Serving.recsServe(spark, dir).select("user_id", "item_id", "rec_rank").collect()
    }
    t.span("Relational", trace) { ctx.noop(Relational.movieStats(spark, dir)) }
    val top = t.span("Relational", trace) {
      Relational.topMovies(spark, dir).select("item_id", "votes", "avg_rating").collect()
    }
    val fallback = users.map { u =>
      u -> t.span("Relational", trace) {
        Relational.recsFallback(spark, dir, userId = u)
          .select("item_id", "votes", "avg_rating").collect()
      }
    }
    // graft's serving blend caches its inputs and leaves them to the
    // caller; a refresh must not inherit the previous one's blocks
    spark.catalog.clearCache()
    Result(topN, served, top, fallback)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val dir = ctx.path("data")
    val setupS = ctx.timed(Gen.writeRatingsTables(spark, dir, ctx.seed, Size, ctx.cores))._2

    val rnd = new java.util.SplittableRandom(ctx.seed)
    val users = Seq.fill(FallbackUsers)(1L + rnd.nextInt(Size.users))
    val runs = ctx.repeatFor(refresh(ctx, dir, users))
    val walls = runs.map(_._2)
    val last = runs.last._1

    Outcome(setupS, walls, attempted = walls.size, failed = 0,
      checks = check(ctx, dir, last), layerExtras = Map.empty,
      record = Map("refresh_s" -> walls, "fallback_users" -> users,
        "top_n_rows" -> last.topN.length, "served_rows" -> last.served.length))
  }

  /** Output checks: every user's ranks run 1..n with no item the user
    * already rated (ALS top-N, the serving blend, the fallback), and
    * the top-movies listing is in a total order.
    */
  def check(ctx: Ctx, dir: String, r: Result): Seq[Check] = {
    val seen: Map[Long, Set[Long]] = Tables.interactions(ctx.spark, dir)
      .select(col("user_id"), col("item_id")).collect()
      .groupBy(_.getLong(0)).map { case (u, rs) => u -> rs.map(_.getLong(1)).toSet }
    def ranked(name: String, rows: Array[Row]): Check = {
      val byUser = rows.groupBy(_.getLong(0))
      val badRanks = byUser.count { case (_, rs) =>
        rs.map(r => r.getAs[Number](2).longValue).sorted.toSeq != (1L to rs.length.toLong)
      }
      val seenHits = rows.count(r => seen.getOrElse(r.getLong(0), Set.empty).contains(r.getLong(1)))
      Check(name, byUser.nonEmpty && badRanks == 0 && seenHits == 0,
        s"users=${byUser.size} bad_rank_users=$badRanks seen_items=$seenHits")
    }
    def totalOrder(rows: Seq[Row]): Boolean =
      rows.zip(rows.drop(1)).forall { case (a, b) =>
        val (va, vb) = (a.getLong(1), b.getLong(1))
        val (ra, rb) = (a.getDouble(2), b.getDouble(2))
        va > vb || (va == vb && (ra > rb || (ra == rb && a.getLong(0) < b.getLong(0))))
      }
    val fallbackOk = r.fallback.forall { case (u, rows) =>
      rows.nonEmpty && totalOrder(rows.toSeq) &&
        rows.forall(x => !seen.getOrElse(u, Set.empty).contains(x.getLong(0)))
    }
    Seq(
      ranked("als_top_n_ranks_unseen", r.topN),
      ranked("serve_ranks_unseen", r.served),
      Check("top_movies_total_order", r.topMovies.nonEmpty && totalOrder(r.topMovies.toSeq),
        s"rows=${r.topMovies.length}"),
      Check("fallback_unseen_total_order", fallbackOk,
        r.fallback.map { case (u, rows) => s"$u:${rows.length}" }.mkString(" ")))
  }
}
