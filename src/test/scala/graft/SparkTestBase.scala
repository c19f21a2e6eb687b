package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session keeps the suite
  * fast; scalatest runs suites sequentially in-process). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val warehouse = java.nio.file.Files.createTempDirectory("graft_warehouse")
    sys.addShutdownHook(graft.operators.Convert.deleteRecursively(warehouse))
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  val sfDir = "/root/testdata/sf0.001"
}
