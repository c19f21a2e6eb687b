package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.{FramePool, Graphs, OperatorCaches}

/** Planted-hub checks for the capped wedge generator behind q223: the
  * per-center fan-out bound actually binds (a degree-200 hub yields
  * C(64,2) wedge pairs, not C(200,2)), the strongest-support /
  * lowest-id selection is deterministic, and on a graph whose degrees
  * are all under the cap the capped result is identical to the
  * uncapped formulation. */
class GraphsSpec extends SparkSpec {

  import spark.implicits._

  test("a planted hub's wedge fan-out is bounded at C(maxNeighbors, 2)") {
    // hub 0 — neighbors 1..200, support = neighbor id (all distinct),
    // so the kept 64 are exactly ids 137..200 (support DESC)
    val adj = (1L to 200L).map(v => (0L, v, v)).toDF("u", "v", "support")
    val pairs = Graphs.cappedWedgePairs(adj, maxNeighbors = 64).collect()
    assert(pairs.length === 64 * 63 / 2)
    val nodes = pairs.flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(nodes === (137L to 200L).toSet)
    // every pair shares exactly the one center
    assert(pairs.forall(_.getLong(2) === 1L))
    graft.operators.OperatorCaches.release()
  }

  test("equal supports break ties toward the lowest neighbor id") {
    val adj = Seq((0L, 3L, 5L), (0L, 1L, 5L), (0L, 2L, 5L))
      .toDF("u", "v", "support")
    val kept = Graphs.cappedWedgePairs(adj, maxNeighbors = 2)
      .collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(kept === Set(1L, 2L))
    graft.operators.OperatorCaches.release()
  }

  test("label propagation: clamped seeds, hand-computed path averaging") {
    // path 1-2-3-4, seed 1 at 1000000, seed 4 at 0; priors 500000
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val adj = edges.flatMap { case (u, v) => Seq((u, v), (v, u)) }
      .toDF("u", "v")
    val seeds = Seq(
      (1L, true, 1000000L), (2L, false, 0L),
      (3L, false, 0L), (4L, true, 0L)).toDF("id", "is_seed", "sv")
    val got = Graphs.labelPropagation(adj, seeds, 500000L, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // hand-rolled synchronous rounds with DIV truncation
    var s = Map(1L -> 1000000L, 2L -> 500000L, 3L -> 500000L, 4L -> 0L)
    (1 to 3).foreach { _ =>
      val nb = Map(
        2L -> (s(1L) + s(3L)) / 2, 3L -> (s(2L) + s(4L)) / 2)
      s = Map(1L -> 1000000L, 2L -> nb(2L), 3L -> nb(3L), 4L -> 0L)
    }
    assert(got === s)
    // seeds never move
    assert(got(1L) === 1000000L && got(4L) === 0L)
    graft.operators.OperatorCaches.release()
  }

  test("label propagation fails loudly when seeds miss a graph node") {
    val adj = Seq((1L, 2L), (2L, 1L)).toDF("u", "v")
    val seeds = Seq((1L, true, 1000000L)).toDF("id", "is_seed", "sv")
    val e = intercept[Exception] {
      Graphs.labelPropagation(adj, seeds, 500000L, 1).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("every node id")),
      s"expected the missing-seed precondition message, got: $e")
    graft.operators.OperatorCaches.release()
  }

  test("capped equals uncapped when every degree is under the cap") {
    // 40 centers x up to 10 neighbors — well under the default 64
    val adj = (for {
      u <- 0L until 40L
      v <- (u + 1) to math.min(u + 10, 49L)
    } yield Seq((u, v, v - u), (v, u, v - u))).flatten
      .toDF("u", "v", "support")
    val got = Graphs.cappedWedgePairs(adj)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // uncapped reference: count shared centers per unordered pair
    val byU = adj.as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val ref = byU.values.flatMap(vs =>
        for (i <- vs.indices; j <- (i + 1) until vs.length)
          yield (vs(i), vs(j)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got === ref)
    graft.operators.OperatorCaches.release()
  }

  test("hits follows the hand-computed L1-normalized trajectory") {
    // bipartite: hub A → {x, y}, hub B → {x}. Hand-rolled 2 rounds on
    // the 1e9 grid with trunc DIV:
    //   a1: x = 2e18 DIV 3e9 = 666666666, y = 333333333
    //   h1: tot = 1666666665 → A = 600000000 (exact), B = 400000000
    //   a2: raw x = 1e9, y = 6e8; tot 1.6e9 → x = 625000000, y = 375000000
    //   h2: raw A = 1e9, B = 625e6; tot 1.625e9 → A = 615384615 (trunc),
    //       B = 384615384 (trunc)
    val edges = Seq(("A", "x"), ("A", "y"), ("B", "x")).toDF("src", "dst")
    val got = Graphs.hits(edges, iterations = 2)
      .as[(String, String, Long)].collect().toSet
    assert(got === Set(
      ("auth", "x", 625000000L), ("auth", "y", 375000000L),
      ("hub", "A", 615384615L), ("hub", "B", 384615384L)))
    graft.operators.OperatorCaches.release()
  }

  test("PageRank variants leave a pooled edge frame persisted after the per-query release") {
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 2L), (3L, 1L, 1L), (3L, 2L, 1L))
      .toDF("src", "dst", "w")
    val variants = Seq[(String, DataFrame => DataFrame)](
      "pageRank" -> (Graphs.pageRank(_, 2)),
      "personalizedPageRank" -> (Graphs.personalizedPageRank(_, col("node") === 1L, 2)),
      "weightedPageRank" -> (Graphs.weightedPageRank(_, 2)))
    try variants.foreach { case (name, rank) =>
      val Seq(pooled) = FramePool.frames(("graphs-spec-edges", name))(Seq(edges))
      rank(pooled).collect()
      OperatorCaches.release()
      assert(pooled.storageLevel !== StorageLevel.NONE,
        s"$name unpersisted the pooled edge frame")
    } finally FramePool.release()
  }
}
