package graft.tools

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The ONE copy of the physical-plan anti-pattern screen shared by the
  * enforcing spec (RegistryPlanSpec) and the golden-count recorder
  * ([[PlanGolden]]): a plan string is screened for the shapes the 100 TB
  * doctrine forbids. The counted patterns are parallelism-independent
  * (a CartesianProduct / one-row broadcast cross / single-partition
  * exchange appears the same at any shuffle-partition setting), so
  * recording and enforcement agree regardless of session config.
  *
  * Bounds are PER QUERY, against the checked-in golden counts
  * (`plan_golden.tsv`, regenerated by [[PlanGolden]]): a global bound
  * loose enough for the worst legitimate query (q132's six one-row
  * broadcast crosses) would let a brand-new query ship six
  * single-partition exchanges without tripping anything — exactly the
  * regression shape the tripwire exists to catch. The rules:
  *   - CartesianProduct: never allowed, anywhere.
  *   - BroadcastNestedLoopJoin / Exchange SinglePartition / total
  *     SHUFFLE exchanges: allowed up to the query's RECORDED golden
  *     count; any increase trips. A query with no golden entry is held
  *     to zero — a new query whose plan legitimately carries one-row
  *     broadcast crosses or shuffles must declare them by regenerating
  *     the golden file (`runMain graft.tools.PlanGolden`) and
  *     committing the diff, which makes every plan-shape cost a
  *     reviewed line in the repo. The shuffle-exchange bound is what
  *     catches the silent-regression class the first three cannot: a
  *     query that quietly gains a full shuffle (a lost bucketing, a
  *     stray repartition, a join that stopped broadcasting) changes no
  *     BNLJ/Cartesian/single-partition count but DOES change this one.
  *     BroadcastExchange is deliberately excluded — broadcasting the
  *     small side is the cheap shape the doctrine prefers, and its
  *     count may legitimately drop when stats improve.
  */
object PlanScreen {

  final case class Counts(cart: Int, bnlj: Int, single: Int, exch: Int)

  /** Shuffle-exchange NODE lines: "Exchange <partitioning>" right after
    * the tree-drawing prefix. Line-anchored on purpose — the old
    * substring count ("Exchange " minus "BroadcastExchange ") also
    * matched ReusedExchange nodes, whose plan line EMBEDS the string of
    * the exchange it reuses ("ReusedExchange [...], Exchange
    * hashpartitioning(...)"), so a broadcast-reuse appearing or
    * disappearing with a stats/plan-order change could spuriously trip
    * the screen or mask a real added shuffle (ADVICE r14). A reuse is
    * not a new shuffle; only genuine Exchange nodes count. The match
    * runs to end-of-line so the node's [plan_id=N] is captured for the
    * physical dedupe below. */
  private val ShuffleLine =
    ("""(?m)^[\s+:*-]*Exchange (hashpartitioning|rangepartitioning|""" +
      """SinglePartition|RoundRobinPartitioning).*$""").r

  private val PlanId = """\[plan_id=(\d+)\]""".r

  /** The shuffle-exchange node lines of `plan`: each one's partitioning
    * kind and, when printed, its `plan_id`. PlanScreenSpec asserts that a
    * real shuffle's lines carry the id, so a drift in Spark's plan text
    * fails there instead of silently degrading [[counts]] to textual
    * counting. */
  def exchanges(plan: String): List[(String, Option[String])] =
    ShuffleLine.findAllMatchIn(plan).map { m =>
      m.group(1) -> PlanId.findFirstMatchIn(m.matched).map(_.group(1))
    }.toList

  def counts(plan: String): Counts = {
    def n(p: String) = p.r.findAllIn(plan).size
    // hash/range/single-partition/round-robin all count — an added one
    // of ANY kind is a new full shuffle of that frame. Deterministic
    // over the executedPlan string, like the rest.
    //
    // PHYSICAL nodes, not textual occurrences: a pooled InMemoryRelation
    // prints its build subtree at EVERY reference, so one physical
    // exchange inside a frame referenced 13 times would count 13 —
    // golden bounds recorded at that inflation (q175 hit 199 textual vs
    // ~15 physical in r16) leave a pooled query free to gain ~180 real
    // shuffles before tripping, which defeats the tripwire. plan_id
    // uniquely identifies the node object (a re-print is the same
    // object, a genuine second shuffle is a new id), so matches sharing
    // a plan_id collapse to one; synthetic/legacy lines without a
    // plan_id each count individually, as before.
    val keyed = exchanges(plan).zipWithIndex.map { case ((kind, id), i) =>
      id.getOrElse(s"__occ$i") -> kind
    }
    val kinds = keyed.distinctBy(_._1).map(_._2)
    Counts(n("CartesianProduct"), n("BroadcastNestedLoopJoin"),
      kinds.count(_ == "SinglePartition"),
      kinds.size)
  }

  /** Every registered query's executed plan at `sfDir` (or what building
    * it threw), in registration order through [[SparkEntry.sweep]] — the
    * ONE traversal [[PlanGolden]] records and RegistryPlanSpec enforces,
    * since pooled-frame reuse makes later plans depend on earlier ones. */
  def registryPlans(spark: SparkSession, sfDir: String)
      : Seq[(String, Either[Throwable, String])] =
    SparkEntry.sweep(SparkEntry.allSpecs.map(s => s.name -> s.fn)) {
      (_, fn) => fn(spark, sfDir).queryExecution.executedPlan.toString
    }

  /** Golden (bnlj, single-partition, shuffle-exchange) counts per
    * query, recorded at sf0.001 by [[PlanGolden]] over
    * [[registryPlans]]. Queries absent from the file are bound to
    * (0, 0, 0). */
  lazy val golden: Map[String, (Int, Int, Int)] = {
    val in = getClass.getResourceAsStream("/plan_golden.tsv")
    if (in == null) Map.empty
    else {
      val src = scala.io.Source.fromInputStream(in, "UTF-8")
      try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l =>
          val Array(name, b, s, e) = l.split("\t")
          name -> (b.toInt, s.toInt, e.toInt)
        }.toMap
      finally src.close()
    }
  }

  /** Violations found in `plan` for the query `name`; empty = clean. */
  def offenses(name: String, plan: String): Seq[String] =
    offensesAgainst(name, plan, golden.getOrElse(name, (0, 0, 0)))

  /** [[offenses]] against explicit bounds — lets PlanScreenSpec prove
    * the screen fires at a recorded bound without depending on the
    * checked-in golden file's traversal-order context. */
  private[graft] def offensesAgainst(name: String, plan: String,
                                     bounds: (Int, Int, Int)): Seq[String] = {
    val c = counts(plan)
    val (maxBnlj, maxSingle, maxExch) = bounds
    def over(what: String, got: Int, bound: Int) =
      Option.when(got > bound)(
        s"$name: $got $what (golden $bound — if legitimate, regenerate " +
          "plan_golden.tsv via `runMain graft.tools.PlanGolden` and commit it)")
    Seq(
      Option.when(c.cart > 0)(s"$name: CartesianProduct"),
      over("BNLJ", c.bnlj, maxBnlj),
      over("single-partition exchanges", c.single, maxSingle),
      over("shuffle exchanges", c.exch, maxExch)
    ).flatten
  }
}
