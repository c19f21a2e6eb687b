package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Text primitives: tokenization, shingles, hashes, langid, simhash. */
class TextFunctionsSpec extends SparkSpec {

  import spark.implicits._

  test("invertedIndex termStats: hand-checked stats, deterministic top posting") {
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry"),
      (3L, "banana banana cherry"),
      (4L, "apple")
    ).toDF("doc_id", "text")
    val out = graft.operators.InvertedIndex.termStats(docs, "doc_id", "text", minDf = 2L)
      .orderBy("term")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    // apple: df=3 (docs 1,2,4), tf=4, top = doc 1 (tf 2)
    // banana: df=2 (docs 1,3), tf=3, top = doc 3 (tf 2)
    // cherry: df=2 (docs 2,3), tf=2, top = doc 2 (tf 1, tie → min id)
    assert(out === Seq(
      ("apple", 3L, 4L, 1L, 2L),
      ("banana", 2L, 3L, 3L, 2L),
      ("cherry", 2L, 2L, 2L, 1L)))
    // The posting index is pooled (built once per corpus; its build
    // exchange lives inside the InMemoryRelation and is amortized across
    // the retrieval family). Downstream of the cached scan, the window +
    // final agg share the term partitioning: exactly 1 live exchange.
    val plan = graft.operators.InvertedIndex.termStats(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    val live = plan.split("InMemoryRelation")(0) // above the cached build
    val exchanges = "Exchange".r.findAllIn(live).length
    assert(exchanges <= 1, s"expected <=1 live exchange, had $exchanges:\n$plan")
    graft.operators.FramePool.release()
  }

  test("shingles builds ordered k-grams, deduplicated") {
    val out = Seq("a b c d a b c d").toDF("text")
      .select(shingles(col("text"), 3).as("s")).as[Seq[String]].head()
    assert(out === Seq("a b c", "b c d", "c d a", "d a b"))
  }

  test("shingles of short text is empty, not a descending-sequence blowup") {
    val out = Seq("a b").toDF("text")
      .select(shingles(col("text"), 3).as("s")).as[Seq[String]].head()
    assert(out === Seq.empty)
  }

  test("shingleHashSet equals md5Long of each distinct shingle") {
    val df = Seq("x y z w").toDF("text")
    val viaSet = df.select(shingleHashSet(col("text"), 3).as("h"))
      .as[Seq[Long]].head().toSet
    val direct = df.select(shingles(col("text"), 3).as("s"))
      .select(explode(col("s")).as("sh"))
      .select(md5Long(col("sh")).as("h")).as[Long].collect().toSet
    assert(viaSet === direct)
  }

  test("jaccard: identical sets 1.0, disjoint 0.0, half-overlap 1/3") {
    val df = Seq((Seq(1L, 2L), Seq(1L, 2L), Seq(3L, 4L))).toDF("a", "b", "c")
    val r = df.select(
      jaccard(col("a"), col("b")).as("same"),
      jaccard(col("a"), col("c")).as("disj"),
      jaccard(col("a"), array(lit(2L), lit(3L))).as("half")).head()
    assert(r.getDouble(0) === 1.0)
    assert(r.getDouble(1) === 0.0)
    assert(r.getDouble(2) === 1.0 / 3.0)
  }

  test("minhash: equal texts get equal signatures; signature is stable") {
    val df = Seq(("a b c d e f", 1), ("a b c d e f", 2), ("q r s t u v", 3))
      .toDF("text", "id")
      .select(col("id"), shingles(col("text"), 3).as("hs"))
      .select(col("id"), minhash(col("hs"), 0).as("m0"), minhash(col("hs"), 1).as("m1"))
    val rows = df.orderBy("id").collect()
    assert(rows(0).getLong(1) === rows(1).getLong(1))
    assert(rows(0).getLong(2) === rows(1).getLong(2))
    assert(rows(0).getLong(1) !== rows(2).getLong(1))
  }

  test("simhash: equal texts → hamming 0; different texts → nonzero") {
    val df = Seq(("the cat sat", "the cat sat", "entirely different words here"))
      .toDF("a", "b", "c")
      .select(simhash(col("a")).as("ha"), simhash(col("b")).as("hb"),
        simhash(col("c")).as("hc"))
    val r = df.select(hamming(col("ha"), col("hb")), hamming(col("ha"), col("hc"))).head()
    assert(r.getLong(0) === 0L)
    assert(r.getLong(1) > 0L)
  }

  test("langGuess picks the language with most marker hits") {
    val df = Seq("the cat and the dog of the house", "der hund und die katze ist",
      "xyzzy plugh").toDF("text")
      .select(langGuess(col("text")).as("g"))
    assert(df.as[String].collect().toSeq === Seq("en", "de", "und"))
  }

  test("charRatio counts character-class fraction") {
    val r = Seq("aeiou xyz").toDF("t")
      .select(charRatio(col("t"), "[aeiou]").as("r")).as[Double].head()
    assert(r === 5.0 / 9.0)
  }
}
