package graft

import org.apache.spark.sql.functions._

import graft.operators.{OperatorCaches, PrefixSum, Quality}

/** The distributed prefix-sum shape (range partition + per-partition window
  * + broadcast offsets) that replaced the last two global-window cumsums.
  * The decisive assertions are on the PLAN — no `Exchange SinglePartition`
  * anywhere — because that is what survives a billion-row vocabulary, plus
  * bit-equality against the single-window reference forms. */
class PrefixSumSpec extends SparkSpec {

  private def assertNoSinglePartition(df: org.apache.spark.sql.DataFrame,
                                      what: String): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"$what must not plan a SinglePartition exchange:\n$plan")
  }

  test("rankedRunningSum equals the global-window form and plans no SinglePartition") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val sized = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n"))
    withShufflePartitions(7) {
      val (dist, total) = PrefixSum.rankedRunningSum(
        sized, Seq(col("doc_id")), col("n"), "rn", "cum")
      assertNoSinglePartition(dist, "rankedRunningSum")

      val w = org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))
      val ref = sized
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("cum", sum(col("n")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      val a = dist.orderBy("doc_id").collect().toSeq
      val b = ref.select(dist.columns.map(col): _*).orderBy("doc_id").collect().toSeq
      assert(a === b)
      assert(total === sized.agg(sum("n")).head().getLong(0))
    }
    OperatorCaches.release()
  }

  test("rankedRunningMax equals the strict-predecessor window, no SinglePartition") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val sized = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n"))
    withShufflePartitions(7) {
      val dist = PrefixSum.rankedRunningMax(
        sized, Seq(col("doc_id")), col("n"), "rn", "pm")
      assertNoSinglePartition(dist, "rankedRunningMax")
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))
      val ref = sized
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("pm", max(col("n")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)))
      val a = dist.orderBy("doc_id").collect().toSeq
      val b = ref.select(dist.columns.map(col): _*).orderBy("doc_id").collect().toSeq
      assert(a === b)
      // the first row's strict-predecessor max is genuinely null
      assert(dist.orderBy("rn").head().isNullAt(dist.columns.indexOf("pm")))
    }
    OperatorCaches.release()
  }

  test("rankedRunningSum handles a descending total order with tiebreak") {
    val tf = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("term").agg(count(lit(1)).as("n"))
    withShufflePartitions(5) {
      val (dist, _) = PrefixSum.rankedRunningSum(
        tf, Seq(desc("n"), col("term")), col("n"), "rn", "cum")
      val w = org.apache.spark.sql.expressions.Window.orderBy(desc("n"), col("term"))
      val ref = tf
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("cum", sum(col("n")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      assert(dist.orderBy("rn").collect().toSeq ===
        ref.select(dist.columns.map(col): _*).orderBy("rn").collect().toSeq)
    }
    OperatorCaches.release()
  }

  test("rankedRunningSum on an empty frame yields an empty frame and zero total") {
    val empty = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), lit(1L).as("n")).filter(col("doc_id") < 0)
    val (dist, total) = PrefixSum.rankedRunningSum(
      empty, Seq(col("doc_id")), col("n"), "rn", "cum")
    assert(dist.count() === 0L)
    assert(total === 0L)
    OperatorCaches.release()
  }

  test("rank equals row_number over a global window on random frames with tied leading keys") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // (k, t): few distinct k, so leading keys repeat; t is a unique
    // tiebreak (a shuffled 0..n-1), so (k, t) is a total order
    def frame(n: Int, keys: Int) =
      rnd.shuffle((0 until n).toList)
        .map(t => (rnd.nextInt(keys), t.toLong, rnd.nextLong()))
        .toDF("k", "t", "payload")
    val frames = Seq(
      "random, 5 distinct leading keys" -> frame(400, 5),
      "random, one leading key" -> frame(200, 1),
      // 3 rows under 3 or 7 requested range partitions: Spark's range
      // partitioner then cuts fewer partitions than asked for
      "more range partitions than rows" -> frame(3, 2),
      "empty" -> frame(0, 1))
    val order = Seq(col("k").desc, col("t"))
    for (parts <- Seq(1, 3, 7); (what, df) <- frames) withShufflePartitions(parts) {
      val (ranked, n) = PrefixSum.rank(df, order, "rn")
      val plan = ranked.queryExecution.executedPlan.toString
      assert(!plan.contains("hashpartitioning(__pid"),
        s"rank must not plan a __pid exchange:\n$plan")
      // one range partition is one partition: only there may it plan as such
      if (parts > 1) assertNoSinglePartition(ranked, "rank")
      val ref = df.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(order: _*)).cast("long"))
      assert(ranked.orderBy("rn").collect().toSeq ===
        ref.orderBy("rn").collect().toSeq, s"$what at $parts partitions")
      assert(n === df.count(), s"$what at $parts partitions")
      OperatorCaches.release()
    }
    // the check above can fail: a running value still pays the __pid window
    val (cum, _) = withShufflePartitions(3) {
      PrefixSum.rankedRunningSum(frame(50, 5), order, col("t"), "rn", "cum")
    }
    assert(cum.queryExecution.executedPlan.toString.contains("hashpartitioning(__pid"))
    OperatorCaches.release()
  }

  test("packContiguous (distributed) is bit-identical to the single-pass twin, no SinglePartition") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val dist = Quality.packContiguous(docs, "doc_id", "text", budget = 512)
    assertNoSinglePartition(dist, "packContiguous")
    val ref = Quality.packContiguousSinglePass(docs, "doc_id", "text", budget = 512)
    assert(dist.orderBy("doc_id").collect().toSeq ===
      ref.orderBy("doc_id").collect().toSeq)
    OperatorCaches.release()
  }

  test("q101 vocab-coverage query plans no SinglePartition exchange") {
    val q101 = SparkEntry.queries("q101_vocab_coverage")(spark, sfDir)
    assertNoSinglePartition(q101, "q101_vocab_coverage")
    assert(q101.count() === 3L)
    OperatorCaches.release()
  }
}
