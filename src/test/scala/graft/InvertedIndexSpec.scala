package graft

import org.apache.spark.sql.functions._

import graft.operators.{InvertedIndex, OperatorCaches}

/** Sparse TF-IDF retrieval: the properties the oracle hash can't state —
  * near-identical documents score ≈ 1, disjoint documents never pair,
  * and the hot-block cap bounds candidates. */
class InvertedIndexSpec extends SparkSpec {

  import spark.implicits._

  test("mergeTermStats over disjoint batches equals direct stats; threshold crossers survive") {
    graft.operators.FramePool.release()
    graft.operators.FramePool.release()
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry"),
      (3L, "banana banana cherry"), // batch boundary between 2 and 3
      (4L, "apple")
    ).toDF("doc_id", "text")
    val direct = InvertedIndex.termStats(docs, "doc_id", "text", minDf = 2L)
      .orderBy("term").collect().toSeq
    // banana and cherry each have df=1 per batch — only the post-merge
    // threshold keeps them; pre-filtered partials would lose both
    val merged = InvertedIndex.mergeTermStats(Seq(
        InvertedIndex.termStats(docs.filter(col("doc_id") <= 2), "doc_id", "text", minDf = 1L),
        InvertedIndex.termStats(docs.filter(col("doc_id") > 2), "doc_id", "text", minDf = 1L)),
      minDf = 2L)
      .orderBy("term").collect().toSeq
    assert(merged === direct)
    graft.operators.FramePool.release()
  }

  test("near-identical twins pair with cosine ≈ 1; disjoint docs never pair") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),      // exact twin of 1
      (3L, "alpha beta gamma epsilon"),    // near twin
      (4L, "zeta eta theta iota")          // disjoint vocabulary
    ).toDF("doc_id", "text")
    val pairs = InvertedIndex.sparseCosinePairs(docs, "doc_id", "text", minCos = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) > 0.999)
    // doc 4 shares no term with anyone — no candidate can even form
    assert(!pairs.keys.exists { case (a, b) => a == 4L || b == 4L })
    OperatorCaches.release()
  }

  test("blockCap bounds pairs from a hot block") {
    // 10 docs all sharing the same single (hence rarest) term
    val docs = (1L to 10L).map(i => (i, "common")).toDF("doc_id", "text")
    val n = InvertedIndex.sparseCosinePairs(docs, "doc_id", "text",
      minCos = 0.0, blockCap = 4).count()
    assert(n === 6) // C(4,2), the first 4 docs by id — never C(10,2)=45
    OperatorCaches.release()
  }

  test("rrfRerank fuses relevance and prior ranks by hand-checkable RRF") {
    // one query, 3 hits: relevance order 1,2,3; prior order reversed.
    // rrf(d) = 1/(60+rel) + 1/(60+prior):
    //   d10: 1/61 + 1/63   d20: 2/62          d30: 1/63 + 1/61
    // d10 and d30 tie exactly (same two terms, + is commutative over
    // identical doubles) -> doc_id breaks the tie; d20 = 2/62 < 1/61+1/63.
    val hits = Seq(("qa", 10L, 1L, 3.0), ("qa", 20L, 2L, 5.0), ("qa", 30L, 3L, 9.0))
      .toDF("q_id", "doc_id", "rank", "prior_score")
    val got = InvertedIndex.rrfRerank(hits, col("prior_score"), n = 3)
      .select("doc_id", "rrf_rank", "rel_rank", "p_rank", "rrf")
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got(10L) === ((1L, 1L, 3L, 1.0 / 61 + 1.0 / 63)))
    assert(got(30L) === ((2L, 3L, 1L, 1.0 / 63 + 1.0 / 61)))
    assert(got(20L) === ((3L, 2L, 2L, 1.0 / 62 + 1.0 / 62)))
  }
}
