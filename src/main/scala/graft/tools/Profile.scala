package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}

import graft.{GraftSession, SparkEntry}

/** `runMain graft.tools.Profile q1,q2,... [--scale N]`: times named
  * registry queries on `SPARK_GRAFT_SF_DIR` (default sf0.1) on the harness
  * session at Bench's cores. Each query runs twice in its own
  * [[SparkEntry.sweep]] (the second run is pool-warm) into Spark's `noop`
  * sink, and reports the min of the two runs with the number of Spark
  * jobs that run started ([[JobCounter]]; table reads, pool builds and
  * the sink's own job all count) and the number of classes Spark
  * compiled for it (the `CodegenMetrics` compile count's delta; 0 when
  * every plan shape it ran is in the generated-class cache).
  *
  * `--scale N` also times each query on an N× shifted-key replica and
  * prints the ratio: near-linear ratios are the evidence that operator
  * SHAPES scale (an accidental quadratic shows up as ~N²×). Replicas are
  * exact copies, so dedup queries also stress GROWING DUPLICATE CLUSTERS
  * (every doc gains N−1 twins) and their pair counts grow ~C(N,2)× by
  * design. Pools are released between scales. Only the six tables in
  * [[replicate]] scale; a query reading another table fails there.
  *
  * A query that throws prints `FAILED <name>: <message>`; the others
  * still run and the tool exits non-zero. */
object Profile {
  def main(args: Array[String]): Unit = {
    val (list, scale) = args.toList match {
      case qs :: Nil => (qs, None)
      case qs :: "--scale" :: n :: Nil => (qs, Some(n.toInt))
      case _ =>
        System.err.println("usage: graft.tools.Profile q1,q2,... [--scale N]")
        sys.exit(2)
    }
    val names = list.split(",").map(_.trim).toSeq
    val registry = SparkEntry.queries
    val unknown = names.filterNot(registry.contains)
    if (unknown.nonEmpty) {
      unknown.foreach(n => println(s"FAILED $n: not a registered query"))
      sys.exit(1)
    }
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.harness("graft-profile", GraftSession.envCores(
      math.min(32, Runtime.getRuntime.availableProcessors())))
    val big = scale.map(n => replicate(spark, base, n))
    val jobs = new JobCounter(spark)

    def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    /** (seconds, jobs, classes compiled) of the faster of two runs of
      * `name` on `dir`, or the first failure. */
    def time(name: String, dir: String): Either[Throwable, (Double, Int, Long)] = {
      val (errors, runs) = SparkEntry.sweep(Seq.fill(2)(name -> registry(name))) { (_, fn) =>
        val before = compiled
        val (s, j) = jobs.count {
          val t0 = System.nanoTime()
          fn(spark, dir).write.mode("overwrite").format("noop").save()
          (System.nanoTime() - t0) / 1e9
        }
        (s, j, compiled - before)
      }.map(_._2).partitionMap(identity)
      errors.headOption.toLeft(runs.minBy(_._1))
    }

    val dirs = base +: big.toSeq
    println(f"${"query"}%-32s ${Paths.get(base).getFileName}%8s ${"jobs"}%5s ${"compiled"}%8s" +
      scale.fold("")(n => f" ${s"x$n"}%8s ${"jobs"}%5s ${"compiled"}%8s ratio"))
    val failed = names.filter { n =>
      dirs.map(time(n, _)).partitionMap(identity) match {
        case (e +: _, _) =>
          println(s"FAILED $n: ${e.getMessage}")
          true
        case (_, runs) =>
          println(f"$n%-32s " + runs.map { case (s, j, c) => f"$s%8.3f $j%5d $c%8d" }.mkString(" ") +
            runs.lift(1).fold("")(r2 => f" ${r2._1 / runs(0)._1}%5.2f"))
          false
      }
    }
    jobs.close()
    big.foreach(d => graft.operators.Convert.deleteRecursively(Paths.get(d)))
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** Writes an `n`× replica of `base`'s growth-axis tables into a temp
    * dir; copy r shifts each listed key column by r × its stride. */
  private def replicate(spark: SparkSession, base: String, n: Int): String = {
    val big = Files.createTempDirectory(s"graft_scale$n").toString
    def rep(table: String, strides: (String, Long)*): Unit = {
      val t = spark.read.parquet(s"$base/$table.parquet")
      val stride = strides.toMap
      (0 until n).map(r => t.select(t.columns.toSeq.map(c =>
          stride.get(c).fold(col(c))(k => (col(c) + lit(r * k)).as(c))): _*))
        .reduce(_ unionAll _)
        .write.parquet(s"$big/$table.parquet")
    }
    rep("documents", "doc_id" -> 10000000L)
    // events replicate on shifted (event_id, user_id): N× the users,
    // same per-user density — the growth axis a real event stream has
    rep("events", "event_id" -> 100000000L, "user_id" -> 10000000L)
    // lineitem replicates on shifted (orderkey, partkey, suppkey): N
    // disjoint basket universes — corpus growth at CONSTANT basket
    // density and N× the group/node count, the axis a growing business
    // actually has (more orders AND a larger catalog). Keeping the keys
    // co-shifted preserves every within-order/within-supplier structure
    // the basket (q223/q226) and grouped-rank (q208) queries measure.
    rep("lineitem", "l_orderkey" -> 1000000000L,
      "l_partkey" -> 100000000L, "l_suppkey" -> 100000000L)
    // customer replicates on shifted custkey — N× the members of every
    // (nation, segment) quasi-identifier group at constant group
    // structure, the governance-audit growth axis (q275)
    rep("customer", "c_custkey" -> 100000000L)
    // orders co-shift with lineitem's orderkey universes (and custkey
    // with customer's), so order⋈lineitem joins keep per-order structure
    // — the q249 HITS bipartite graph grows to N disjoint purchase
    // universes, the more-customers-AND-more-catalog axis
    rep("orders", "o_orderkey" -> 1000000000L, "o_custkey" -> 100000000L)
    // embeddings replicate on shifted vec_id: vec_id 0 (q251's query
    // vector) keeps exactly one row — replica vectors are identical
    // twins, so candidate ties break purely by id, deterministic
    rep("embeddings", "vec_id" -> 10000000L)
    big
  }
}
