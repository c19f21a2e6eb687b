package graft

import org.apache.spark.sql.functions._

import graft.tools.PlanScreen

/** The tripwire itself, tested: RegistryPlanSpec proves the screen
  * passes the registry, but until now nothing proved the screen FIRES —
  * a counting bug that under-counts everything would keep that spec
  * green while silently disarming the repo's main plan-regression
  * defense. (a) counts/offenses on synthetic plan strings pin the
  * counting rules — broadcast exclusion, ReusedExchange exclusion (the
  * r14 ADVICE fix), golden-bound lookup, absent-query zero bound;
  * (b) a planted repartition on a clone of a registered query must trip
  * offenses red. */
class PlanScreenSpec extends SparkSpec {

  private val shuffly =
    """AdaptiveSparkPlan isFinalPlan=false
      |+- Sort [a#1 ASC NULLS FIRST]
      |   +- Exchange rangepartitioning(a#1 ASC NULLS FIRST, 4), ENSURE_REQUIREMENTS, [plan_id=7]
      |      +- HashAggregate(keys=[a#1], functions=[sum(b#2L)])
      |         +- Exchange hashpartitioning(a#1, 4), ENSURE_REQUIREMENTS, [plan_id=4]
      |            +- HashAggregate(keys=[a#1], functions=[partial_sum(b#2L)])
      |               +- LocalTableScan [a#1, b#2L]""".stripMargin

  test("counts: shuffle kinds counted, broadcast and reuse excluded") {
    val c = PlanScreen.counts(shuffly)
    assert(c == PlanScreen.Counts(0, 0, 0, 2)) // range + hash, no single
    // BroadcastExchange is the cheap preferred shape — never a shuffle
    val bc = PlanScreen.counts(
      """+- BroadcastHashJoin [k#1], [k#2], Inner, BuildRight, false
        |   :- LocalTableScan [k#1]
        |   +- BroadcastExchange HashedRelationBroadcastMode(List(input[0])), [plan_id=9]
        |      +- LocalTableScan [k#2]""".stripMargin)
    assert(bc == PlanScreen.Counts(0, 0, 0, 0))
    // a ReusedExchange line EMBEDS the reused exchange's own string —
    // the r14 substring count saw a phantom shuffle here
    val reuse = PlanScreen.counts(
      """+- Union
        |   :- Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=3]
        |   :  +- LocalTableScan [k#1]
        |   +- ReusedExchange [k#5], Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=3]""".stripMargin)
    assert(reuse == PlanScreen.Counts(0, 0, 0, 1))
    // ...and a reused BROADCAST exchange is not a shuffle either
    val reuseB = PlanScreen.counts(
      "+- ReusedExchange [k#5], BroadcastExchange " +
        "HashedRelationBroadcastMode(List(input[0])), [plan_id=9]")
    assert(reuseB == PlanScreen.Counts(0, 0, 0, 0))
    val singles = PlanScreen.counts(
      """+- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=2]
        |   +- CartesianProduct
        |      +- BroadcastNestedLoopJoin BuildRight, Inner""".stripMargin)
    assert(singles == PlanScreen.Counts(1, 1, 1, 1))
  }

  test("a real shuffle query's Exchange lines carry plan_id") {
    // the physical dedupe keys on plan_id; if Spark stops printing it,
    // counts() would fall back to textual counting without a sound —
    // this makes that drift fail here, before and after execution
    val df = spark.range(0, 1000, 1, 4).groupBy((col("id") % 7).as("k"))
      .count().orderBy("k")
    val before = PlanScreen.exchanges(df.queryExecution.executedPlan.toString)
    assert(df.collect().map(_.getLong(1)).sum === 1000L)
    val after = PlanScreen.exchanges(df.queryExecution.executedPlan.toString)
    for ((when, lines) <- Seq("planned" -> before, "executed" -> after)) {
      assert(lines.map(_._1).toSet === Set("hashpartitioning", "rangepartitioning"),
        s"$when plan: matched Exchange lines $lines")
      assert(lines.forall(_._2.isDefined), s"$when plan: Exchange without plan_id: $lines")
    }
  }

  test("offenses: golden bound honored, absent query bound to zero") {
    // q01 has a recorded golden entry with >= 1 shuffle: at its bound
    // the screen stays quiet
    val (b, s, e) = PlanScreen.golden("q01_scan_sort")
    assert(e >= 1)
    assert(PlanScreen.offenses("q01_scan_sort",
      Seq.fill(e)("+- Exchange hashpartitioning(a#1, 4)").mkString("\n"))
      .isEmpty)
    // one OVER the golden bound trips
    assert(PlanScreen.offenses("q01_scan_sort",
      Seq.fill(e + 1)("+- Exchange hashpartitioning(a#1, 4)").mkString("\n"))
      .exists(_.contains("shuffle exchanges")))
    assert(b == 0 && s == 0)
    // a query with NO golden entry is held to zero — a new query cannot
    // ship shuffles without declaring them in the committed golden file
    assert(PlanScreen.offenses("q999_not_registered", shuffly)
      .exists(_.contains("shuffle exchanges")))
    assert(PlanScreen.offenses("q999_not_registered",
      "+- LocalTableScan [a#1]").isEmpty)
    // CartesianProduct is never allowed, no matter the golden row
    assert(PlanScreen.offenses("q01_scan_sort", "+- CartesianProduct")
      .exists(_.contains("CartesianProduct")))
  }

  test("physical dedupe: re-printed exchanges count once; planted shuffle on a pooled query still trips") {
    // a pooled InMemoryRelation's build subtree is textually RE-PRINTED
    // at every reference — the same physical node (same plan_id) must
    // count once, or golden bounds inflate to the reference count and a
    // real added shuffle can hide inside the slack (VERDICT r16 #2:
    // q175 recorded 199 textual vs ~15 physical exchanges)
    val reprint =
      """+- Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=3]
        |+- Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=3]
        |+- Exchange hashpartitioning(k#9, 4), ENSURE_REQUIREMENTS, [plan_id=5]""".stripMargin
    assert(PlanScreen.counts(reprint).exch == 2)
    // ...and end-to-end on a real pooled query (q37 reads pooledLshPairs
    // + pooledDupClusters): one planted repartition must trip the screen
    // at the clean plan's own physical count — under textual counting
    // the re-prints would swamp the +1.
    val spec = SparkEntry.allSpecs.find(_.name == "q37_dup_clusters").get
    val clean = spec.fn(spark, sfDir)
    val cleanPlan = clean.queryExecution.executedPlan.toString
    val c0 = PlanScreen.counts(cleanPlan)
    val bounds = (c0.bnlj, c0.single, c0.exch)
    assert(PlanScreen.offensesAgainst(spec.name, cleanPlan, bounds).isEmpty)
    val regressed = clean.repartition(8)
    val offs = PlanScreen.offensesAgainst(spec.name,
      regressed.queryExecution.executedPlan.toString, bounds)
    assert(offs.nonEmpty, "planted repartition on a pooled query did not trip")
    assert(offs.exists(_.contains("shuffle exchanges")))
    graft.operators.OperatorCaches.release()
    graft.operators.FramePool.release()
  }

  test("planted repartition on a registered query trips the screen red") {
    val spec = SparkEntry.allSpecs.find(_.name == "q01_scan_sort").get
    val clean = spec.fn(spark, sfDir)
    assert(PlanScreen.offenses(spec.name,
      clean.queryExecution.executedPlan.toString).isEmpty)
    // the silent-regression shape: someone adds a stray repartition —
    // same results, one extra full shuffle. The screen must fire.
    val regressed = clean.repartition(8)
    val offs = PlanScreen.offenses(spec.name,
      regressed.queryExecution.executedPlan.toString)
    assert(offs.nonEmpty, "planted repartition did not trip the screen")
    assert(offs.exists(_.contains("shuffle exchanges")))
    graft.operators.OperatorCaches.release()
  }
}
