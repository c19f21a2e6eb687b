package graft

import java.nio.file.Files

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.functions._

import graft.plans.{GraftFunctions, TopKPerKeyPlans, TopKPerKeyStrategy, WindowTopKRewrite}
import graft.sources.Scan

/** Session bootstrap: the graft surface (SQL functions + custom
  * operators) is present on a GraftSession.local session even when
  * getOrCreate returned a pre-existing session whose builder confs could
  * not apply, and the harness is that same posture plus deployment
  * settings. The suite's shared session is `GraftSession.local`, so each
  * test here leaves it in that posture. */
class GraftSessionSpec extends SparkSpec {

  private val OpenCost = "spark.sql.files.openCostInBytes"

  /** The optimizer batches of `s` that run the window-top-k rewrite, one
    * entry per copy, and how many copies of the top-k strategy its planner
    * holds. */
  private def topKCopies(s: SparkSession): (Seq[String], Int) = (
    s.sessionState.optimizer.batches.flatMap(b => b.rules.filter(_ == WindowTopKRewrite).map(_ => b.name)),
    s.sessionState.planner.strategies.count(_ == TopKPerKeyStrategy))

  /** Where Spark runs an injected operator-optimization rule. */
  private val Injected = (Seq("Operator Optimization before Inferring Filters",
    "Operator Optimization after Inferring Filters"), 1)

  test("harness carries the shipped posture (Kryo, graft functions, top-k strategy and rewrite)") {
    val s = GraftSession.harness("graft-session-spec0", 4)
    assert(s eq spark)
    val kryo = classOf[org.apache.spark.serializer.KryoSerializer].getName
    // the harness's own options (getOrCreate copies them into a reused
    // session's conf) and the running context's conf
    assert(s.conf.get("spark.serializer") === kryo)
    assert(s.sparkContext.getConf.get("spark.serializer", "") === kryo)
    val registry = s.sessionState.functionRegistry
    assert(GraftFunctions.functions.map(_._1).filterNot(registry.functionExists) === Nil)
    assert(topKCopies(s) === Injected)
  }

  test("local() session exposes graft functions and the top-k operator") {
    val s = GraftSession.local("graft-session-spec", 4)
    assert(topKCopies(s) === Injected)
    // functions callable from SQL
    val dot = s.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))")
      .head().getDouble(0)
    assert(dot === 11.0)
    val sh = s.sql("SELECT graft_simhash(array('a','b'), 16)").head().getLong(0)
    assert(sh >= 0L)
    // custom operator plannable
    import s.implicits._
    val df = Seq((1, "a", 2.0), (2, "a", 1.0), (3, "b", 9.0)).toDF("id", "k", "v")
    val top = graft.plans.TopKPerKeyPlans.topKPerKey(
      df, Seq("k"), Seq(desc("v"), col("id")), 1)
      .orderBy("k").select("id").as[Int].collect()
    assert(top.toSeq === Seq(1, 3))
  }

  test("builder carries the cluster posture (AQE, skew join, extensions)") {
    // assert on the builder's config map via a throwaway session-less
    // check: build against the existing session and read effective confs
    val s = GraftSession.local("graft-session-spec2", 4)
    assert(s.conf.get("spark.sql.adaptive.enabled") === "true")
    // shared-session caveat: confs set at FIRST session build win; the
    // contract here is that the graft surface is present regardless
    // (ensured registration), which the test above proves.
  }

  test("builder and harness both pack scan splits with a 1 MiB open cost") {
    assert(GraftSession.FileOpenCostBytes === 1024L * 1024)
    // on the shared test session getOrCreate applies each posture's
    // runtime confs; start each from Spark's 4 MiB default
    spark.conf.unset(OpenCost)
    assert(GraftSession.builder("graft-session-spec3", 4).getOrCreate()
      .conf.get(OpenCost) === "1048576")
    spark.conf.unset(OpenCost)
    assert(GraftSession.harness("graft-session-spec4", 4)
      .conf.get(OpenCost) === "1048576")
  }

  test("six equal row groups of one file scan as four partitions of at most two groups") {
    val tmp = Files.createTempDirectory("graftsessionspec").toString
    val groupRows = 100000
    spark.range(0, 6L * groupRows, 1, 1)
      .select(col("id"), rand(7).as("x"))
      .write.option("parquet.block.row.count.limit", groupRows.toString)
      .option("parquet.enable.dictionary", "false")
      .option("compression", "none")
      .parquet(s"$tmp/six")
    val file = new java.io.File(s"$tmp/six").listFiles()
      .map(_.getPath).filter(_.endsWith(".parquet")).toSeq match {
        case Seq(one) => one
        case other => fail(s"expected one part file, got $other")
      }
    val blocks = scala.util.Using.resource(ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file), spark.sessionState.newHadoopConf())))(_.getRowGroups)
    assert(blocks.size === 6)
    assert(new java.io.File(file).length > 9000000L)

    /** Rows in each non-empty scan partition. */
    def split(): Seq[Long] = Scan.parquet(spark, file).queryExecution.toRdd
      .mapPartitions(it => Iterator(it.size.toLong)).collect().toSeq.filter(_ > 0)

    val s = GraftSession.local("graft-session-spec5", 4)
    assert(s eq spark)
    assert(s.conf.get(OpenCost) === "1048576")
    assert(split() === Seq(2, 1, 2, 1).map(_ * groupRows.toLong))
    // Spark's 4 MiB default packs the same file 3/2/1, leaving a core idle
    try {
      spark.conf.unset(OpenCost)
      assert(split() === Seq(3, 2, 1).map(_ * groupRows.toLong))
    } finally spark.conf.set(OpenCost, GraftSession.FileOpenCostBytes.toString)
  }

  test("the extensions' rewrite and strategy plan once; a session without them gets one copy each") {
    val s = GraftSession.local("graft-session-spec6", 4)
    assert(topKCopies(s) === Injected)
    assert(s.experimental.extraOptimizations.isEmpty && s.experimental.extraStrategies.isEmpty)
    // a session on the same context built with no `spark.sql.extensions`
    // (the constructor is private to Spark; every public path applies
    // the context's extensions)
    val classic = classOf[org.apache.spark.sql.classic.SparkSession]
    val bare = classic.getDeclaredConstructors.find(_.getParameterCount == 6).get
      .newInstance(spark.sparkContext, Some(classic.cast(spark).sharedState), None,
        new SparkSessionExtensions, Map.empty, Map.empty).asInstanceOf[SparkSession]
    assert(topKCopies(bare) === (Nil, 0))
    TopKPerKeyPlans.ensureRewrite(bare)
    TopKPerKeyPlans.ensureRewrite(bare)
    assert(topKCopies(bare) === (Seq("User Provided Optimizers"), 1))
    import bare.implicits._
    val df = Seq((1, "a", 2.0), (2, "a", 1.0), (3, "b", 9.0)).toDF("id", "k", "v")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy(desc("v"))
    val top = df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
    assert(top.queryExecution.optimizedPlan.collectFirst { case t: graft.plans.TopKPerKey => t }.nonEmpty)
    assert(top.orderBy("k").select("id").as[Int].collect().toSeq === Seq(1, 3))
  }

  test("a compiled plan shape stays cached while 200 other shapes compile") {
    assert(spark.sparkContext.getConf.get("spark.sql.codegen.cache.maxEntries") ===
      GraftSession.CodegenCacheEntries.toString)
    def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // the literal is inlined into the generated code, so each value is a
    // distinct class
    def run(i: Int): Unit = assert(
      spark.range(4).select((col("id") * lit(1000003L + i)).as("x")).collect().length === 4)
    run(0)
    val before = compiled
    (1 to 200).foreach(run)
    val afterOthers = compiled
    assert(afterOthers - before >= 200, "each literal must compile its own class")
    run(0)
    assert(compiled === afterOthers, "the first shape was evicted and recompiled")
  }
}
