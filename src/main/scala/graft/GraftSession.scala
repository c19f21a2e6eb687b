package graft

import org.apache.spark.sql.SparkSession

/** Opinionated session bootstrap for running the graft engine — the
  * defaults a 1000-executor deployment wants, gathered in one place so
  * `spark-submit` users and embedded callers start from the same
  * posture. Everything here is a DEFAULT (`.config` before `getOrCreate`
  * loses to explicit submit-time conf), and the graft extensions
  * (functions + custom operators + optional rewrites) come along.
  *
  * There is one posture: [[local]] is [[builder]] at `local[n]` scale, and
  * [[harness]] is [[local]] plus deployment settings. perfbench, the test
  * suite, Bench, Verify and the tools all plan under it.
  */
object GraftSession {

  /** Recommended cluster configuration:
    *  - AQE on with coalescing AND skew-join splitting — runtime
    *    re-planning replaces hand-tuned shuffle partition counts at
    *    scale, and skewed join partitions split instead of strangling a
    *    task (the salted-agg operator covers the aggregation side);
    *  - shuffle partitions sized for the cluster, not the 200 default
    *    (callers pass cores; AQE coalesces down from there);
    *  - 128 MiB file partitions (the parquet row-group sweet spot),
    *    [[FileOpenCostBytes]] for split packing, and vectorized reads;
    *  - Kryo serialization;
    *  - a generated-class cache of [[CodegenCacheEntries]], so a plan
    *    shape compiles once per run, not once per eviction;
    *  - extensions: the graft functions in SQL (the DataFrame helpers in
    *    `GraftFunctions` need no registration) + the TopKPerKey strategy
    *    and window-top-k rewrite.
    */
  def builder(appName: String, defaultParallelism: Int): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.shuffle.partitions", (defaultParallelism * 2).toString)
      .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", FileOpenCostBytes.toString)
      .config("spark.sql.parquet.enableVectorizedReader", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  /** `spark.sql.files.openCostInBytes`: 1 MiB instead of Spark's 4 MiB.
    * The open cost is also the floor of a scan split's size, so at 4 MiB
    * a 9 MB file of six equal row groups packs into three splits of 3, 2
    * and 1 groups on four cores; at 1 MiB it packs 2/1/2/1 and no core
    * idles. Files under 1 MiB still scan as one split. */
  val FileOpenCostBytes: Long = 1L << 20

  /** `spark.sql.codegen.cache.maxEntries`: 8192 instead of Spark's 100.
    * The cache holds the classes Spark generates per plan shape; it is
    * static (one per JVM, sized when the first class compiles) and LRU,
    * so at 100 every pass over the registry recompiles what the previous
    * pass compiled. One sweep of all 280 queries at sf0.001 compiles
    * 4 209 distinct classes; 8192 is the next power of two. A second
    * sweep then compiles 271 classes, not 7 450, and the kept classes
    * cost about 40 MB of metaspace and class space (4-vCPU box,
    * PERF_NOTES "Generated-class cache"). */
  val CodegenCacheEntries: Int = 8192

  /** Local development/test session: the [[builder]] posture at
    * `local[n]` scale, with `cores` shuffle partitions and no UI.
    * perfbench and the test suite run on it. */
  def local(appName: String, cores: Int): SparkSession =
    start(localBuilder(appName, cores))

  private def localBuilder(appName: String, cores: Int): SparkSession.Builder =
    builder(appName, cores)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")

  /** getOrCreate may return a pre-existing session whose builder confs
    * (incl. extensions) did NOT apply: make the FULL graft surface (SQL
    * functions, strategy, AND the window-top-k rewrite the builder
    * advertises) present either way, so fresh and reused sessions plan
    * identically. A session that `GraftExtensions` built already plans
    * with the rule and the strategy, and gets no second copy. */
  private def start(b: SparkSession.Builder): SparkSession = {
    val spark = b.getOrCreate()
    graft.plans.GraftFunctions.ensureRegistered(spark)
    graft.plans.TopKPerKeyPlans.ensureRewrite(spark) // includes the strategy
    spark
  }

  /** Harness cores: `SPARK_GRAFT_CPUS` when set, else `default`. */
  def envCores(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(default)

  /** The session Bench, Verify and the tools run on: [[local]]'s posture
    * plus deployment settings only. Shuffle/spill files go to RAM-backed
    * `/dev/shm` when it exists, so shuffle I/O measures the engine, not
    * the disk (conversion outputs still pay real output I/O); long
    * network/heartbeat timeouts keep I/O-stalled tasks on degraded
    * storage from starving the heartbeat into a local-mode self-kill
    * (exit 56); and the log level is WARN. */
  def harness(appName: String, cores: Int): SparkSession = {
    val spark = start(localBuilder(appName, cores)
      .config("spark.local.dir",
        if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft_spark"
        else System.getProperty("java.io.tmpdir"))
      .config("spark.network.timeout", "1800s")
      .config("spark.executor.heartbeatInterval", "60s"))
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
