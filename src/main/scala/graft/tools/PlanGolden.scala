package graft.tools

// Regenerates src/main/resources/plan_golden.tsv — the checked-in
// per-query physical-plan shape baseline RegistryPlanSpec enforces
// (any BNLJ / single-partition-exchange count above the recorded value
// trips the spec). Both read PlanScreen.registryPlans, so the recorded
// and the enforced plans come from one traversal.
import java.nio.file.{Files, Paths}

object PlanGolden {
  def main(args: Array[String]): Unit = {
    // the recorded counts are parallelism-independent; 4 cores matches
    // the test session RegistryPlanSpec runs on
    val spark = graft.GraftSession.harness("graft-plan-golden", 4)
    // a failed plan build must ABORT the regeneration, not be skipped:
    // PlanScreen binds absent queries to (0,0), so writing a partial file
    // (e.g. on a machine with stale fixtures) would silently TIGHTEN the
    // bounds for legitimate queries and misread as plan regressions
    val plans = PlanScreen.registryPlans(spark, "/root/testdata/sf0.001")
    val failed = plans.collect { case (name, Left(e)) =>
      println(s"ERROR $name: plan build failed — ${e.getMessage}")
      name
    }
    if (failed.nonEmpty) {
      System.err.println(s"REFUSING to write plan_golden.tsv: " +
        s"${failed.size} quer${if (failed.size == 1) "y" else "ies"} failed " +
        s"to build (${failed.mkString(", ")})")
      spark.stop()
      sys.exit(1)
    }
    val rows = plans.collect { case (name, Right(plan)) =>
      name -> PlanScreen.counts(plan)
    }.flatMap { case (name, c) =>
      if (c.cart > 0)
        println(s"WARN $name: CartesianProduct — NOT recorded " +
          "(never allowed; fix the query instead)")
      Option.when(c.bnlj > 0 || c.single > 0 || c.exch > 0)(
        s"$name\t${c.bnlj}\t${c.single}\t${c.exch}")
    }
    val out = Paths.get("src/main/resources/plan_golden.tsv")
    Files.createDirectories(out.getParent)
    Files.writeString(out,
      "# Per-query golden plan-shape counts: " +
        "name\\tBNLJ\\tsingle-partition\\tshuffle-exchanges\n" +
        "# Regenerate with: sbt \"runMain graft.tools.PlanGolden\" (sf0.001)\n" +
        "# Queries absent here are bound to 0\t0\t0 by PlanScreen.\n" +
        rows.sorted.mkString("", "\n", "\n"))
    println(s"wrote ${rows.size} entries to $out")
    spark.stop()
  }
}
