package graft

import org.apache.spark.sql.functions._

import graft.operators.Layout

/** Bucketed-layout co-located joins: the pay-the-shuffle-once discipline.
  * The decisive assertion is on the PLAN — a bucketed fact–fact join must
  * contain no Exchange — because that is the property that survives a
  * 100× scale-up, not the row counts. */
class LayoutSpec extends SparkSpec {

  test("bucketed fact-fact join plans with zero Exchange and matches the shuffled join") {
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val lineitem = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))

    Layout.writeBucketed(orders, "orders_b", "o_orderkey", 8)
    Layout.writeBucketed(lineitem, "lineitem_b", "o_orderkey", 8)

    // At fixture size Spark would broadcast one side; disable that to get
    // the fact-fact scenario bucketing exists for (neither side fits in
    // a broadcast at 100 TB).
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Layout.bucketedEquiJoin(spark, "orders_b", "lineitem_b", "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SortMergeJoin:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle, plan was:\n$plan")

      // same answer as the plain (shuffling) join
      val expected = orders.join(lineitem, "o_orderkey").count()
      assert(joined.count() === expected)
      assert(expected > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("mismatched bucket counts fall back to a correct (shuffled) join") {
    val n = spark.read.parquet(s"$sfDir/nation.parquet")
    Layout.writeBucketed(n, "nation_b4", "n_nationkey", 4)
    Layout.writeBucketed(n, "nation_b2", "n_nationkey", 2)
    val j = Layout.bucketedEquiJoin(spark, "nation_b4", "nation_b2", "n_nationkey")
    assert(j.count() === n.count())
  }

  test("sortedWrite produces disjoint per-file ranges and keeps every row") {
    val tmp = java.nio.file.Files.createTempDirectory("layoutspec").toString
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    Layout.sortedWrite(li, s"$tmp/sorted", "l_shipdate", numFiles = 4)
    val files = new java.io.File(s"$tmp/sorted").listFiles()
      .filter(_.getName.startsWith("part-")).map(_.getPath).sorted
    assert(files.length >= 2) // range partitioner may merge tiny ranges
    // per-file (min, max) of the sort column, from the data each file holds
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(org.apache.spark.sql.functions.min("l_shipdate"),
          org.apache.spark.sql.functions.max("l_shipdate")).head()
      (r.getAs[java.time.LocalDateTime](0), r.getAs[java.time.LocalDateTime](1))
    }.sortBy(_._1)(Ordering.fromLessThan(_ isBefore _))
    ranges.sliding(2).foreach {
      case Array((_, hiA), (loB, _)) =>
        assert(!hiA.isAfter(loB), s"file ranges overlap: $hiA vs $loB")
      case _ =>
    }
    // no rows lost or duplicated
    assert(spark.read.parquet(s"$tmp/sorted").count() === li.count())
  }

  test("compact refuses hive-partitioned layouts and crashed-swap leftovers") {
    val tmp = java.nio.file.Files.createTempDirectory("layoutspec").toString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.write.partitionBy("lang").parquet(s"$tmp/hive")
    val e1 = intercept[IllegalArgumentException] {
      Layout.compact(spark, s"$tmp/hive")
    }
    assert(e1.getMessage.contains("hive partition"))

    docs.limit(10).write.parquet(s"$tmp/flat")
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$tmp/flat.old"))
    val e2 = intercept[IllegalStateException] {
      Layout.compact(spark, s"$tmp/flat")
    }
    assert(e2.getMessage.contains("crashed mid-swap"))
  }

  test("q112 bucketed layout is corpus-scoped across two sfDirs in one session") {
    val fn = graft.SparkEntry.queries("q112_bucketed_join")
    val a1 = fn(spark, "/root/testdata/sf0.001").collect().toSeq
    fn(spark, "/root/testdata/sf0.01").collect() // second corpus registers its OWN tables
    val a2 = fn(spark, "/root/testdata/sf0.001").collect().toSeq
    assert(a2 === a1, "memoized layout served the wrong corpus after an sfDir switch")
    graft.operators.FramePool.release() // deletes both layouts
  }

  test("compact shrinks a small-files directory without losing rows") {
    val tmp = java.nio.file.Files.createTempDirectory("layoutspec").toString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.repartition(20).write.parquet(s"$tmp/frag")
    val before = docs.orderBy("doc_id").collect()
    val (nBefore, nAfter) = Layout.compact(spark, s"$tmp/frag",
      targetBytesPerFile = 1L << 30)
    assert(nBefore === 20)
    assert(nAfter === 1)
    val after = spark.read.parquet(s"$tmp/frag").orderBy("doc_id").collect()
    assert(after.toSeq === before.toSeq)
    // staging/old leftovers cleaned up
    assert(!new java.io.File(s"$tmp/frag.compacting").exists())
    assert(!new java.io.File(s"$tmp/frag.old").exists())
  }
}
