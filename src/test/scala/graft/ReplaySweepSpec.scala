package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.EventStreams

/** Replay-idempotence SWEEP over every `*Sink` in EventStreams — the
  * harness round 14 lacked (its two replay bugs, sourceCapSink and
  * mediaIngestSink, were found by reading, not by a test). foreachBatch
  * is at-least-once: a crash between the sink's write and the
  * checkpoint commit re-delivers the LAST batch with the SAME batchId.
  * This sweep simulates exactly that for each sink — run two waves,
  * snapshot the served state, delete the checkpoint's last commit
  * marker (`commits/1`), re-attach so batch 1 re-executes from its
  * logged offsets, and assert the served state is unchanged. Sinks
  * whose logs are at-least-once BY CONTRACT (append-only audit /
  * corpus logs) snapshot through their documented read-side dedupe on
  * batch_id — proving the documented remedy actually recovers the
  * pre-replay state. */
class ReplaySweepSpec extends SparkSpec {

  import spark.implicits._

  /** One sink under test: `attach` re-opens the same sink over the
    * shared input stream (idempotent to call repeatedly — AvailableNow
    * + checkpoint), `served` reads the queryable state the sink's
    * contract promises (with the documented batch_id dedupe where the
    * log is at-least-once). */
  private case class SinkCase(
      name: String,
      wave1: DataFrame,
      wave2: DataFrame,
      attach: (DataFrame, String) => org.apache.spark.sql.streaming.StreamingQuery,
      served: String => Seq[DataFrame])

  private def snapshot(dfs: Seq[DataFrame]): Seq[Seq[String]] =
    dfs.map(_.toJSON.collect().sorted.toSeq)

  private def runCase(c: SinkCase): Unit = {
    val tmp = Files.createTempDirectory("replaysweep").toString
    c.wave1.write.parquet(s"$tmp/in")
    def open() = c.attach(
      EventStreams.fileStream(spark, c.wave1.schema, s"$tmp/in"), tmp)
    open().awaitTermination() // batch 0
    c.wave2.write.mode("append").parquet(s"$tmp/in")
    open().awaitTermination() // batch 1
    val before = snapshot(c.served(tmp))
    // the at-least-once crash window: sink writes committed, checkpoint
    // commit lost → the engine re-executes batch 1 with the same id
    // from its logged offsets
    val commit = new java.io.File(s"$tmp/ckpt/commits/1")
    assert(commit.isFile, s"${c.name}: expected commit marker for batch 1")
    assert(commit.delete())
    // the local filesystem keeps a Hadoop checksum sidecar next to the
    // commit marker; a stale one would make the replayed commit's
    // rename throw FileAlreadyExists instead of re-committing
    new java.io.File(s"$tmp/ckpt/commits/.1.crc").delete()
    open().awaitTermination() // batch 1 REPLAYED, same batchId
    val after = snapshot(c.served(tmp))
    assert(after === before, s"${c.name}: served state changed under replay")
    graft.operators.OperatorCaches.release()
    graft.operators.FramePool.release()
  }

  // ---- shared tiny fixtures ----
  private def rep(s: String, n: Int) = Array.fill(n)(s).mkString(" ")
  private lazy val docsW1 = Seq(
    (1L, "src0", rep("alpha beta gamma delta", 6)),
    (2L, "src1", rep("epsilon zeta eta theta", 6)))
    .toDF("doc_id", "source", "text")
  private lazy val docsW2 = Seq(
    (3L, "src0", rep("alpha beta gamma delta", 6) + " tail"),
    (4L, "src2", rep("iota kappa lambda mu", 6)))
    .toDF("doc_id", "source", "text")
  private def mkTs(s: String) = java.sql.Timestamp.valueOf(s)
  private lazy val evW1 = Seq(
    (1L, mkTs("2024-03-01 10:15:00"), 1L, "view", 2.5),
    (2L, mkTs("2024-03-01 11:15:00"), 2L, "purchase", 7.0))
    .toDF("event_id", "ts", "user_id", "event_type", "value")
  private lazy val evW2 = Seq(
    (3L, mkTs("2024-03-01 12:15:00"), 1L, "view", 4.5),
    (4L, mkTs("2024-03-02 09:15:00"), 3L, "view", 1.0))
    .toDF("event_id", "ts", "user_id", "event_type", "value")
  // components kept under 1.0: the anisotropy path requires unit-scale
  // vectors (its fixed-point grid bounds |component| at 2)
  private lazy val vecW1 = Seq(
    (1L, Seq(0.10, 0.20, -0.10, 0.05, 0.30, -0.20, 0.15, 0.02), 0),
    (2L, Seq(-0.30, 0.10, 0.20, -0.05, 0.10, 0.25, -0.10, 0.07), 1))
    .toDF("vec_id", "v", "label")
  private lazy val vecW2 = Seq(
    (3L, Seq(0.05, -0.15, 0.25, 0.30, -0.20, 0.10, 0.02, -0.07), 0),
    (4L, Seq(0.20, 0.40, -0.20, 0.10, 0.60, -0.40, 0.30, 0.05), 1))
    .toDF("vec_id", "v", "label")
  private lazy val planes = graft.functions.VectorFunctions.gaussianPlanes(8, 8)

  private def allParquet(dir: String): Seq[DataFrame] =
    Seq(spark.read.parquet(dir))

  private lazy val cases: Seq[SinkCase] = Seq(
    SinkCase("indexPartialsSink", docsW1.select("doc_id", "text"),
      docsW2.select("doc_id", "text"),
      (s, t) => EventStreams.indexPartialsSink(s, "doc_id", "text",
        s"$t/partials", s"$t/ckpt"),
      t => Seq(EventStreams.servingTermStats(spark, s"$t/partials", minDf = 1L))),
    SinkCase("lineDedupSink",
      Seq((1L, "subscribe now. fresh take"), (2L, "subscribe now. body two"))
        .toDF("doc_id", "text"),
      Seq((3L, "fresh take. third text"), (4L, "third text. closer"))
        .toDF("doc_id", "text"),
      (s, t) => EventStreams.lineDedupSink(s, "doc_id", "text",
        s"$t/state", s"$t/out", s"$t/ckpt"),
      t => Seq(spark.read.parquet(s"$t/out"),
        spark.read.parquet(s"$t/state"))),
    SinkCase("nearDupIngestSink", docsW1.select("doc_id", "text"),
      docsW2.select("doc_id", "text"),
      (s, t) => EventStreams.nearDupIngestSink(s, "doc_id", "text",
        s"$t/corpus", s"$t/ckpt"),
      t => {
        val ldir = new java.io.File(s"$t/corpus_labels")
        val top = ldir.listFiles
          .map(_.getName.stripPrefix("epoch=").toLong).max
        Seq(spark.read.parquet(s"$t/corpus"),
          spark.read.parquet(s"$t/corpus_labels/epoch=$top"))
      }),
    SinkCase("containmentIngestSink", docsW1.select("doc_id", "text"),
      docsW2.select("doc_id", "text"),
      (s, t) => EventStreams.containmentIngestSink(s, "doc_id", "text",
        s"$t/corpus", s"$t/ckpt"),
      t => allParquet(s"$t/corpus")),
    SinkCase("embeddingIngestSink", vecW1.select("vec_id", "v"),
      vecW2.select("vec_id", "v"),
      (s, t) => EventStreams.embeddingIngestSink(s, "vec_id", "v",
        s"$t/corpus", s"$t/ckpt", planes, planesPerBand = 4, minCos = 0.999),
      t => allParquet(s"$t/corpus")),
    SinkCase("driftMonitorSink",
      (0 until 15).map(i => (i.toLong, "x y x y")).toDF("doc_id", "text"),
      (15 until 30).map(i => (i.toLong, "drifty x z")).toDF("doc_id", "text"),
      (s, t) => EventStreams.driftMonitorSink(s, "text",
        s"$t/state", s"$t/report", s"$t/ckpt", minTotal = 10L),
      t => Seq(spark.read.parquet(s"$t/report"),
        spark.read.parquet(s"$t/state"))),
    SinkCase("anomalyMonitorSink", evW1, evW2,
      (s, t) => EventStreams.anomalyMonitorSink(s, "ts",
        s"$t/state", s"$t/report", s"$t/ckpt"),
      t => Seq(spark.read.parquet(s"$t/report"),
        spark.read.parquet(s"$t/state"))),
    SinkCase("kmvSketchSink", docsW1, docsW2,
      (s, t) => EventStreams.kmvSketchSink(s, "source", "text",
        s"$t/state", s"$t/ckpt", k = 3, sketchK = 8),
      t => Seq(EventStreams.servingSourceSketch(spark, s"$t/state", 8))),
    SinkCase("prioritySampleSink",
      Seq(("k1", 100L), ("k2", 250L)).toDF("k", "w_c"),
      Seq(("k3", 50L), ("k4", 900L)).toDF("k", "w_c"),
      (s, t) => EventStreams.prioritySampleSink(s, "k", "w_c",
        s"$t/state", s"$t/ckpt", k = 2),
      t => {
        val (samp, tau) = EventStreams
          .servingPrioritySample(spark, s"$t/state", k = 2)
        Seq(samp, tau)
      }),
    SinkCase("sourceBalanceMonitorSink", docsW1, docsW2,
      (s, t) => EventStreams.sourceBalanceMonitorSink(s, "source", "text",
        s"$t/state", s"$t/report", s"$t/ckpt"),
      t => Seq(spark.read.parquet(s"$t/report"),
        EventStreams.servingTokenBudget(spark, s"$t/state"))),
    SinkCase("modularityMonitorSink", docsW1, docsW2,
      (s, t) => EventStreams.modularityMonitorSink(s, "doc_id", "text",
        "source", s"$t/corpus", s"$t/state", s"$t/ckpt"),
      t => Seq(EventStreams.servingModularity(spark, s"$t/state"),
        spark.read.parquet(s"$t/corpus"))),
    SinkCase("burstMonitorSink", evW1.select("ts", "event_type"),
      evW2.select("ts", "event_type"),
      (s, t) => EventStreams.burstMonitorSink(s, "ts", "event_type",
        s"$t/state", s"$t/report", s"$t/ckpt"),
      t => Seq(spark.read.parquet(s"$t/report"),
        spark.read.parquet(s"$t/state"))),
    SinkCase("cmsMonitorSink",
      Seq((1L, "spark join filter spark")).toDF("doc_id", "text"),
      Seq((2L, "join scan hash hash")).toDF("doc_id", "text"),
      (s, t) => EventStreams.cmsMonitorSink(s, "text",
        Seq("spark", "join", "scan"), s"$t/state", s"$t/report", s"$t/ckpt"),
      t => Seq(spark.read.parquet(s"$t/report"))),
    SinkCase("bloomMonitorSink",
      Seq((1L, "alpha beta gamma")).toDF("doc_id", "text"),
      Seq((2L, "zeta eta alpha")).toDF("doc_id", "text"),
      (s, t) => EventStreams.bloomMonitorSink(s, "text",
        Seq("alpha", "theta", "nu").toDF("term"),
        s"$t/state", s"$t/report", s"$t/ckpt"),
      t => Seq(spark.read.parquet(s"$t/report"))),
    SinkCase("histMonitorSink", evW1, evW2,
      (s, t) => EventStreams.histMonitorSink(s, "value",
        s"$t/state", s"$t/report", s"$t/ckpt"),
      t => Seq(spark.read.parquet(s"$t/report"))),
    SinkCase("olsMonitorSink", evW1, evW2,
      (s, t) => EventStreams.olsMonitorSink(s,
        s"$t/state", s"$t/report", s"$t/ckpt"),
      t => Seq(spark.read.parquet(s"$t/report"))),
    SinkCase("ksMonitorSink",
      docsW1.withColumn("n_chars", length(col("text")).cast("long")),
      docsW2.withColumn("n_chars", length(col("text")).cast("long")),
      (s, t) => EventStreams.ksMonitorSink(s, "source", "n_chars", "src0",
        s"$t/state", s"$t/report", s"$t/ckpt"),
      t => Seq(spark.read.parquet(s"$t/report"))),
    SinkCase("anisotropyMonitorSink", vecW1.select("vec_id", "v"),
      vecW2.select("vec_id", "v"),
      (s, t) => EventStreams.anisotropyMonitorSink(s, "vec_id", "v",
        s"$t/state", s"$t/report", s"$t/ckpt"),
      t => Seq(spark.read.parquet(s"$t/report"))),
    SinkCase("centroidMonitorSink", vecW1, vecW2,
      (s, t) => EventStreams.centroidMonitorSink(s, "vec_id", "v", "label",
        s"$t/state", s"$t/report", s"$t/ckpt"),
      t => Seq(spark.read.parquet(s"$t/report"))),
    SinkCase("embeddingDriftMonitorSink", vecW1, vecW2,
      (s, t) => EventStreams.embeddingDriftMonitorSink(s, "vec_id", "v",
        "label", s"$t/state", s"$t/report", s"$t/ckpt"),
      t => Seq(spark.read.parquet(s"$t/report"))),
    SinkCase("epochScheduleMonitorSink", docsW1, docsW2,
      (s, t) => EventStreams.epochScheduleMonitorSink(s, "source", "text",
        s"$t/state", s"$t/report", s"$t/ckpt"),
      t => Seq(spark.read.parquet(s"$t/report"))),
    SinkCase("logitMonitorSink", docsW1.select("doc_id", "text"),
      docsW2.select("doc_id", "text"),
      (s, t) => EventStreams.logitMonitorSink(s, "doc_id", "text",
        s"$t/state", s"$t/report", s"$t/ckpt"),
      t => Seq(spark.read.parquet(s"$t/report"),
        spark.read.parquet(s"$t/state/feat"))),
    SinkCase("lDiversityMonitorSink",
      Seq((1, "A", 10L), (2, "B", 7L)).toDF("nat", "seg", "sens"),
      Seq((1, "A", 20L), (2, "B", 7L)).toDF("nat", "seg", "sens"),
      (s, t) => EventStreams.lDiversityMonitorSink(s, Seq("nat", "seg"),
        "sens", s"$t/state", s"$t/report", s"$t/ckpt"),
      t => Seq(spark.read.parquet(s"$t/report"))),
    SinkCase("sourceCapSink",
      Seq((1L, "a", 50L, "t1"), (2L, "a", 90L, "t2"))
        .toDF("doc_id", "source", "q", "text"),
      Seq((3L, "a", 70L, "t3"), (5L, "b", 7L, "t5"))
        .toDF("doc_id", "source", "q", "text"),
      (s, t) => EventStreams.sourceCapSink(s, "source", "doc_id", "q", 2,
        s"$t/base", s"$t/audit", s"$t/ckpt"),
      t => Seq(spark.read.parquet(s"$t/base"),
        // the audit log is at-least-once BY CONTRACT: read-side dedupe
        // on (source, id, batch_id) is the documented remedy
        spark.read.parquet(s"$t/audit").dropDuplicates(
          Seq("source", "doc_id", "batch_id")))),
    SinkCase("mediaIngestSink", {
        import graft.multimodal.Multimodal
        Seq((2L, Multimodal.encodePng(2L)),
          (3L, Multimodal.encodeWav(3L))).toDF("asset_id", "bytes")
      }, {
        import graft.multimodal.Multimodal
        Seq((4L, Multimodal.encodeWav(4L)),
          (5L, Array.tabulate[Byte](64)(i => (i * 37).toByte)))
          .toDF("asset_id", "bytes")
      },
      (s, t) => EventStreams.mediaIngestSink(s,
        s"$t/corpus", s"$t/quarantine", s"$t/ckpt"),
      t => Seq( // both logs: documented dedupe on (asset_id, batch_id)
        spark.read.parquet(s"$t/corpus")
          .dropDuplicates(Seq("asset_id", "batch_id")),
        spark.read.parquet(s"$t/quarantine")
          .dropDuplicates(Seq("asset_id", "batch_id")))),
    SinkCase("upsertSink",
      Seq((2L, "B"), (4L, "D")).toDF("k", "v"),
      Seq((4L, "DD"), (5L, "E")).toDF("k", "v"),
      (s, t) => EventStreams.upsertSink(s, Seq("k"), s"$t/base", s"$t/ckpt"),
      t => allParquet(s"$t/base")),
    SinkCase("changelogSink",
      Seq((2L, "x", "D", 1L), (3L, "C1", "U", 1L), (4L, "d", "I", 1L))
        .toDF("k", "v", "op", "seq"),
      Seq((3L, "x", "D", 2L), (9L, "x", "D", 2L), (6L, "f", "I", 2L))
        .toDF("k", "v", "op", "seq"),
      (s, t) => EventStreams.changelogSink(s, Seq("k"), s"$t/base",
        s"$t/ckpt", seqCol = Some("seq")),
      t => allParquet(s"$t/base")))

  // every public method of EventStreams that starts a StreamingQuery
  // must appear above — a NEW sink cannot ship without a replay case
  // (the sweep is the repo's at-least-once regression harness)
  test("sweep covers every sink defined in EventStreams") {
    val sinkNames = EventStreams.getClass.getMethods.toSeq
      .filter(m => m.getReturnType ==
        classOf[org.apache.spark.sql.streaming.StreamingQuery])
      .map(_.getName).toSet
    assert(sinkNames === cases.map(_.name).toSet,
      s"uncovered sinks: ${sinkNames -- cases.map(_.name).toSet}; " +
        s"stale cases: ${cases.map(_.name).toSet -- sinkNames}")
  }

  cases.foreach { c =>
    test(s"${c.name}: served state unchanged when batch 1 replays " +
        "with the same batchId") {
      runCase(c)
    }
  }

  test("lDiversityMonitorSink: crash AFTER the state swap but BEFORE " +
      "the applied marker does not double-merge on replay (the batch " +
      "stamp travels inside the base snapshot)") {
    val tmp = Files.createTempDirectory("replaymid").toString
    val w1 = Seq((1, "A", 10L), (2, "B", 7L)).toDF("nat", "seg", "sens")
    val w2 = Seq((1, "A", 20L), (2, "B", 7L)).toDF("nat", "seg", "sens")
    w1.write.parquet(s"$tmp/in")
    def open() = EventStreams.lDiversityMonitorSink(
      EventStreams.fileStream(spark, w1.schema, s"$tmp/in"),
      Seq("nat", "seg"), "sens", s"$tmp/state", s"$tmp/report", s"$tmp/ckpt")
    open().awaitTermination() // batch 0
    w2.write.mode("append").parquet(s"$tmp/in")
    open().awaitTermination() // batch 1
    val before = spark.read.parquet(s"$tmp/report")
      .toJSON.collect().sorted.toSeq
    // the r15 ADVICE window: both rotates swapped their bases in, but
    // the crash landed before the applied marker AND before the
    // checkpoint commit — replay re-runs batch 1 with NO marker, so
    // only the batch evidence stamped inside the snapshot itself can
    // stop the additive gsz state from merging the batch twice
    assert(new java.io.File(s"$tmp/state/applied/batch=1").isDirectory)
    graft.operators.Convert.deleteRecursively(
      java.nio.file.Paths.get(s"$tmp/state/applied/batch=1"))
    val commit = new java.io.File(s"$tmp/ckpt/commits/1")
    assert(commit.delete())
    new java.io.File(s"$tmp/ckpt/commits/.1.crc").delete()
    open().awaitTermination() // batch 1 REPLAYED, marker absent
    val after = spark.read.parquet(s"$tmp/report")
      .toJSON.collect().sorted.toSeq
    assert(after === before, "served report changed under mid-window replay")
    // and the raw additive state is EXACTLY one count per row ever
    // arrived (2 groups × 2 waves) — no double-merge hiding behind the
    // report's l-bucketing
    val sizes = spark.read.parquet(s"$tmp/state/sizes")
    assert(sizes.agg(sum(col("gsz"))).head().getLong(0) === 4L)
    // the marker is re-established for the replayed batch
    assert(new java.io.File(s"$tmp/state/applied/batch=1").isDirectory)
  }
}
