package graft

/** Registry-wide physical-plan tripwire: EVERY registered query's plan is
  * built at sf0.001 and screened for the anti-patterns the 100 TB
  * doctrine forbids (the screen itself lives in [[graft.tools.PlanScreen]],
  * and the plans come from `PlanScreen.registryPlans`, the traversal the
  * golden counts are recorded over). Individual specs assert shapes for
  * their own operators; this one guarantees no future query ships a
  * quadratic or global-collapse plan unnoticed. A query that throws at
  * plan-build time is reported BY NAME and the sweep continues.
  */
class RegistryPlanSpec extends SparkSpec {

  test("no registered query plans a cartesian product or unbounded nested loop") {
    val offenders = graft.tools.PlanScreen.registryPlans(spark, sfDir).flatMap {
      case (name, Right(plan)) => graft.tools.PlanScreen.offenses(name, plan)
      case (name, Left(e)) => Seq(s"$name: ERROR ${e.getMessage}")
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }
}
