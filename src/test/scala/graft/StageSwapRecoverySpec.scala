package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.EventStreams

/** The crash states of the stage-swap that rewrites a sink's base
  * (base → `.old`, `.staging` → base, drop `.old`), driven through the
  * two sinks that own one: `upsertSink` and `sourceCapSink`. Each case
  * runs batch 0, leaves the directories as a crash would, runs batch 1,
  * and requires the served base to equal a crash-free run's — with no
  * `.old` or `.staging` left behind. */
class StageSwapRecoverySpec extends SparkSpec {

  import spark.implicits._

  /** One sink that rewrites `base` per batch; `stale` is a frame of the
    * base's shape that no crash-free run ever serves. */
  private case class Swapper(
      name: String,
      wave1: DataFrame,
      wave2: DataFrame,
      stale: DataFrame,
      attach: (DataFrame, String) => StreamingQuery)

  private lazy val sinks = Seq(
    Swapper("upsertSink",
      Seq((2L, "B"), (4L, "D")).toDF("k", "v"),
      Seq((4L, "DD"), (5L, "E")).toDF("k", "v"),
      Seq((99L, "stale")).toDF("k", "v"),
      (s, t) => EventStreams.upsertSink(s, Seq("k"), s"$t/base", s"$t/ckpt")),
    Swapper("sourceCapSink",
      Seq((1L, "a", 50L, "t1"), (2L, "a", 90L, "t2"))
        .toDF("doc_id", "source", "q", "text"),
      Seq((3L, "a", 70L, "t3"), (5L, "b", 7L, "t5"))
        .toDF("doc_id", "source", "q", "text"),
      Seq((99L, "a", 999L, "stale")).toDF("doc_id", "source", "q", "text"),
      (s, t) => EventStreams.sourceCapSink(s, "source", "doc_id", "q", 2,
        s"$t/base", s"$t/audit", s"$t/ckpt")))

  /** Batch 0, then `crash(base)`, then batch 1; returns the served base. */
  private def run(c: Swapper)(crash: String => Unit): Seq[String] = {
    val tmp = Files.createTempDirectory("stageswap").toString
    def open(): Unit = c.attach(
      EventStreams.fileStream(spark, c.wave1.schema, s"$tmp/in"), tmp)
      .awaitTermination()
    c.wave1.write.parquet(s"$tmp/in")
    open()
    crash(s"$tmp/base")
    c.wave2.write.mode("append").parquet(s"$tmp/in")
    open()
    assert(!Files.exists(Paths.get(s"$tmp/base.old")), s"${c.name}: .old left")
    assert(!Files.exists(Paths.get(s"$tmp/base.staging")),
      s"${c.name}: .staging left")
    spark.read.parquet(s"$tmp/base").toJSON.collect().sorted.toSeq
  }

  sinks.foreach { c =>
    lazy val crashFree = run(c)(_ => ())

    test(s"${c.name}: a missing base with a surviving .old is restored " +
        "before the merge — no generation lost") {
      // the crash landed between base → .old and .staging → base
      val served = run(c)(base => Files.move(Paths.get(base), Paths.get(base + ".old")))
      assert(served === crashFree)
    }

    test(s"${c.name}: a leftover .old beside a live base is dropped") {
      // the swap completed but its cleanup did not; a stale .old must
      // neither be restored over the base nor merged into it
      val served = run(c)(base => c.stale.write.parquet(base + ".old"))
      assert(served === crashFree)
    }

    test(s"${c.name}: a leftover .staging is clobbered, not promoted") {
      // the crash landed mid-write of the next generation
      val served = run(c)(base => c.stale.write.parquet(base + ".staging"))
      assert(served === crashFree)
    }
  }
}
