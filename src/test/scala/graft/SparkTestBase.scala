package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session keeps the suite
  * fast; scalatest runs suites sequentially in-process). It is the shipped
  * posture, `GraftSession.local(_, 4)`, so specs plan what perfbench and
  * the harness run; only the warehouse is a temp directory. */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val warehouse = java.nio.file.Files.createTempDirectory("graft_warehouse")
    sys.addShutdownHook(graft.operators.Convert.deleteRecursively(warehouse))
    // a static conf: SparkConf reads `spark.*` system properties when the
    // session's context is built
    System.setProperty("spark.sql.warehouse.dir", warehouse.toString)
    val s = GraftSession.local("graft-test", 4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  val sfDir = "/root/testdata/sf0.001"

  /** Runs `body` with `spark.sql.shuffle.partitions` at `n` (the partition
    * count of range-partitioned operators), then restores the session's. */
  def withShufflePartitions[T](n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    spark.conf.set(key, n.toLong)
    try body finally spark.conf.set(key, before)
  }
}
