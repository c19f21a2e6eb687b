package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.{Convert, CorpusClean, CorpusStats, Dedup, FramePool,
  InvertedIndex, OperatorCaches, Postings, Quality}
import graft.pipelines.{Refinery, TrainingExport}
import graft.sources.Scan
import graft.streaming.EventStreams
import Util._

/** `convert`: parquet→CSV of the lineitem replica (`Convert.parquetToCsv`),
  * each followed by the reverse op, which reads that CSV back with
  * `Scan.csvWithSchema` and writes parquet with `Convert.toParquet`. The
  * outputs are checked and deleted right after the pair, untimed, so no
  * output's dirty pages are written back during a later op. */
final class ConvertWorkload(spark: SparkSession, o: Main.Opts) extends Workload {
  private val replica = s"${o.in}/lineitem_replica.parquet"
  private val schema = Scan.parquet(spark, replica).schema
  private val rows = Scan.parquet(spark, replica).count()
  private lazy val want = contentHash(Scan.parquet(spark, replica))
  private val checked = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var nextOp = 0

  private def pair(tracer: Option[Tracer], input: String = replica,
                   check: Boolean = true): (Double, Double) = {
    val i = nextOp
    nextOp += 1
    val csv = s"${o.work}/csv_$i"
    val pq = s"${o.work}/pq_$i"
    val (_, w) = timed(span(tracer, "convert.parquetToCsv", i) {
      Convert.parquetToCsv(spark, input, csv)
    })
    val (_, r) = timed(span(tracer, "convert.csvToParquet", i) {
      Convert.toParquet(span(tracer, "scan.csvWithSchema", i) {
        Scan.csvWithSchema(spark, schema, csv)
      }, pq)
    })
    // the reverse parquet is the CSV as `Scan.csvWithSchema` read it back,
    // so one digest of it equal to the replica's shows the CSV write, the
    // CSV read and the parquet write each kept every row and value
    if (check) {
      val got = contentHash(Scan.parquet(spark, pq))
      checked += Map("op" -> i, "name" -> "round trip", "ok" -> (got == want),
        "detail" -> s"rows ${got._1} vs ${want._1}")
    }
    delete(csv)
    delete(pq)
    (w, r)
  }

  /** One conversion each way of a one-replica file, then of the replica. */
  def warmup(): Unit = {
    pair(None, s"${o.in}/warmup.parquet", check = false)
    pair(None, check = false)
  }

  override lazy val blocks: Seq[(String, Workload)] = Seq(
    "stream" -> new StreamWorkload(spark, o.copy(in = s"${o.in}/stream",
      work = s"${o.work}/stream", seconds = 0)))

  def phase(tracer: Option[Tracer], again: Boolean): Map[String, Any] = {
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val wall = loop(o.seconds, if (o.trace) 3 else 6) { _ =>
      val (w, r) = pair(tracer)
      ops += Map("kind" -> "write", "op" -> (nextOp - 1), "s" -> w, "rows" -> rows)
      ops += Map("kind" -> "read", "op" -> (nextOp - 1), "s" -> r, "rows" -> rows)
    }
    Map("ops" -> ops.toSeq, "wall_s" -> wall, "rows" -> rows)
  }

  def probes(tracer: Tracer): Map[String, Any] = {
    val csv = s"${o.work}/probe_csv"
    def med(name: String)(f: => Unit): Double =
      Util.median((0 until 3).map(i => seconds(tracer.span(name, 1000 + i)(f))))
    val decode = med("scan.parquet")(noop(Scan.parquet(spark, replica)))
    val cached = Scan.parquet(spark, replica).persist(StorageLevel.MEMORY_ONLY)
    cached.count()
    val csvTs = med("plans.graft_csv_ts")(noop(cached.select(cached.columns.map { c =>
      if (c == "l_shipdate") call_function("graft_csv_ts", col(c)).as(c) else col(c)
    }.toSeq: _*)))
    val csvWrite = med("convert.toCsvDir")(Convert.toCsvDir(cached, csv))
    cached.unpersist(blocking = true)
    val parse = med("scan.csvWithSchema")(noop(Scan.csvWithSchema(spark, schema, csv)))
    val parsed = Scan.csvWithSchema(spark, schema, csv).persist(StorageLevel.MEMORY_ONLY)
    parsed.count()
    val pqWrite = med("convert.toParquet")(Convert.toParquet(parsed, s"${o.work}/probe_pq"))
    parsed.unpersist(blocking = true)
    val csvFiles = dataFiles(csv).filter(_.getName.startsWith("part-"))
    val out = Map("scan.parquet_decode_s" -> decode, "scan.csv_parse_s" -> parse,
      "scan.input_mb" -> dataFiles(replica).map(_.length).sum / 1e6,
      "plans.csv_ts_s" -> csvTs,
      "convert.csv_encode_write_s" -> csvWrite,
      "convert.parquet_encode_write_s" -> pqWrite,
      "convert.csv_bytes_per_row" -> csvFiles.map(_.length).sum.toDouble / rows,
      "convert.files_out" -> csvFiles.size)
    delete(csv)
    delete(s"${o.work}/probe_pq")
    out
  }

  /** Every round trip's reverse parquet, which is its CSV read back, has
    * the replica's rows and content digest. */
  def checks(): Seq[Map[String, Any]] = checked.toSeq
}

/** `registry`: a seeded order of registry queries. Each op is one action
  * over `fn(spark, sfDir)`: its row count together with an
  * order-independent content digest, so every op's output is checked
  * against the pinned values without running the query a second time.
  * `OperatorCaches.release()` follows every op. Pass 1 starts from empty
  * pools (every build is paid); later passes find their frames pooled. */
final class RegistryWorkload(spark: SparkSession, o: Main.Opts) extends Workload {
  private val sf = o.in
  private def releaseAll(): Unit = {
    OperatorCaches.release(); FramePool.release(); Postings.release()
  }

  private def poolState: (Map[String, Double], Int, Int) =
    (FramePool.buildSeconds, FramePool.pooledCount, Postings.pooledCount)

  /** (builds, evictions, at a cap) of one op, from the pools' public
    * counters. Each build adds a key; at its cap a pool first evicts one.
    * `FramePool.buildSeconds` is kept per tag, so the key count's growth
    * counts builds that share a tag, and the tags whose seconds grew count
    * builds that only replaced an evicted key. The counts are exact while
    * both pools stay below their caps; at a cap they are lower bounds
    * (`Postings` keeps no build counter, so its rebuilds at the cap are
    * not seen). */
  private def poolDelta(before: (Map[String, Double], Int, Int)): (Int, Int, Boolean) = {
    val (b0, f0, p0) = before
    val (b1, f1, p1) = poolState
    val tagsGrown = b1.count { case (k, v) => v > b0.getOrElse(k, 0.0) }
    val frameBuilds = math.max(f1 - f0, tagsGrown)
    val postingBuilds = math.max(0, p1 - p0)
    val evictions = math.max(0, frameBuilds - (FramePool.MaxEntries - f0))
    (frameBuilds + postingBuilds, evictions,
      f1 >= FramePool.MaxEntries || p1 >= Postings.MaxCorpora)
  }

  def warmup(): Unit = {
    spark.range(0, 2000000, 1, 4).selectExpr("sum(id % 7)").collect()
    contentHash(Scan.parquet(spark, s"$sf/lineitem.parquet").groupBy("l_returnflag").count())
  }

  override lazy val blocks: Seq[(String, Workload)] = Seq(
    "refinery" -> new RefineryWorkload(spark, o.copy(in = s"${o.in}/refinery",
      work = s"${o.work}/refinery", seconds = 0), minOps = 1))

  def phase(tracer: Option[Tracer], again: Boolean): Map[String, Any] = {
    if (!again) releaseAll()
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Double]
    val exchanges = mutable.LinkedHashMap.empty[String, Int]
    tracer.foreach(_.takePlans())
    val t0 = System.nanoTime()
    // a cold pass, then warm ones until `seconds`; a repeat is one warm pass
    var pass = if (again) 1 else 0
    while (pass < 2 || (System.nanoTime() - t0) / 1e9 < o.seconds && !again) {
      pass += 1
      val passS = seconds(o.order.foreach { q =>
        val before = poolState
        val ((n, h), s) = timed(span(tracer, s"query.$q", pass) {
          val out = contentHash(graft.SparkEntry.queries(q)(spark, sf))
          OperatorCaches.release()
          out
        })
        val (builds, evictions, atCap) = poolDelta(before)
        val (b1, f1, p1) = poolState
        tracer.foreach { t =>
          val plans = t.takePlans()
          if (pass > 1) exchanges(q) = plans.map(p =>
            graft.tools.PlanScreen.counts(p).exch).sum
        }
        ops += Map("kind" -> "query", "name" -> q, "pass" -> pass, "s" -> s,
          "rows" -> n, "hash" -> h, "builds" -> builds, "evictions" -> evictions,
          "at_cap" -> atCap, "build_s" -> (b1.values.sum - before._1.values.sum),
          "keys" -> (f1 + p1), "tracked_after_release" -> OperatorCaches.trackedCount)
      })
      passes += passS
    }
    val storage = spark.sparkContext.getRDDStorageInfo
    Map("ops" -> ops.toSeq, "passes" -> passes.toSeq,
      "wall_s" -> (System.nanoTime() - t0) / 1e9,
      "pool_mb" -> storage.map(r => r.memSize + r.diskSize).sum / 1e6,
      "pool_keys" -> (FramePool.pooledCount + Postings.pooledCount),
      "exchanges" -> exchanges)
  }

  def probes(tracer: Tracer): Map[String, Any] = Map.empty

  /** Every op carries its own digest (compared with the pins by the
    * caller). With `--dump`, when the pins are being written, each
    * query's result and its DuckDB oracle SQL are saved for the caller to
    * compare. */
  def checks(): Seq[Map[String, Any]] = {
    o.dump.foreach { dir =>
      o.order.foreach { q =>
        graft.SparkEntry.queries(q)(spark, sf).write.mode("overwrite").parquet(s"$dir/$q")
        OperatorCaches.release()
      }
      Files.writeString(Paths.get(s"$dir/oracle_sql.json"),
        Json(graft.SparkEntry.oracleSql.filter { case (q, _) => o.order.contains(q) }))
    }
    releaseAll()
    Nil
  }
}

/** `refinery`: `Refinery.run` with default stages and no quality gate.
  * Besides running on its own, it is a block of the `registry` workload's
  * traced run (`minOps` = 1). */
final class RefineryWorkload(spark: SparkSession, o: Main.Opts, minOps: Int = 2)
    extends Workload {
  private val corpusPath = s"${o.in}/corpus.parquet"
  private val benchPath = s"${o.in}/benchmark.parquet"
  private val reports = mutable.ArrayBuffer.empty[(Int, Refinery.Report)]
  private var nextOp = 0

  private def run(tracer: Option[Tracer], corpus: String = corpusPath,
                  keep: Boolean = true): (Refinery.Report, Double) = {
    val i = nextOp
    nextOp += 1
    val out = timed(span(tracer, "pipelines.Refinery.run", i) {
      Refinery.run(spark, Scan.parquet(spark, corpus),
        Scan.parquet(spark, benchPath), s"${o.work}/refinery_$i")
    })
    if (keep) reports += (i -> out._1) else delete(s"${o.work}/refinery_$i")
    out
  }

  /** One run over a small corpus. */
  def warmup(): Unit = run(None, s"${o.in}/warmup.parquet", keep = false)

  def phase(tracer: Option[Tracer], again: Boolean): Map[String, Any] = {
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val wall = loop(o.seconds, minOps) { _ =>
      val (r, s) = run(tracer)
      ops += Map("kind" -> "refinery", "op" -> (nextOp - 1), "s" -> s,
        "n_input" -> r.nInput, "n_cleaned" -> r.nCleaned,
        "n_curated" -> r.nCurated, "n_quality_kept" -> r.nQualityKept)
    }
    Map("ops" -> ops.toSeq, "wall_s" -> wall)
  }

  /** Each public stage timed on pre-persisted input. */
  def probes(tracer: Tracer): Map[String, Any] = {
    def p(df: DataFrame): DataFrame = { val x = df.persist(); x.count(); x }
    val docs = p(Scan.parquet(spark, corpusPath))
    val bench = p(Scan.parquet(spark, benchPath))
    val (cleaned, cleanS) = timed(tracer.span("operators.CorpusClean.clean", 2000) {
      p(CorpusClean.clean(docs, bench, "doc_id", "text", 10, 1000))
    })
    val (contained, containS) = timed(tracer.span("operators.Dedup.containmentPairs", 2000) {
      p(Dedup.containmentPairs(cleaned, "doc_id", "text", k = 3, minContainment = 0.8)
        .filter(col("na") < col("nb") ||
          (col("na") === col("nb") && col("a_id") > col("b_id")))
        .select(col("a_id").as("doc_id")).distinct())
    })
    val curated = p(cleaned.join(contained, Seq("doc_id"), "left_anti"))
    val cardS = seconds(tracer.span("operators.CorpusStats.datasetCard", 2000) {
      CorpusStats.datasetCard(curated, "source", "text").collect()
    })
    val curS = seconds(tracer.span("operators.Quality.curriculumOrder", 2000) {
      Quality.curriculumOrder(curated, "doc_id", "source", "text")
        .write.mode("overwrite").parquet(s"${o.work}/probe_curriculum")
    })
    val expS = seconds(tracer.span("pipelines.TrainingExport.run", 2000) {
      TrainingExport.run(spark, curated, "doc_id", "text", s"${o.work}/probe_train", 4)
    })
    Seq(docs, bench, cleaned, contained, curated).foreach(_.unpersist(blocking = true))
    OperatorCaches.release()
    FramePool.release()
    Map("refinery.clean_s" -> cleanS, "refinery.containment_s" -> containS,
      "refinery.card_s" -> cardS, "refinery.curriculum_s" -> curS,
      "refinery.export_s" -> expS)
  }

  /** The report's counts (compared with pinned values by the caller) and
    * the shard manifest summing to nCurated. */
  def checks(): Seq[Map[String, Any]] = reports.toSeq.map { case (i, r) =>
    val manifest = Files.readAllLines(Paths.get(r.export.manifestPath)).asScala
      .drop(1).map(_.split(",")(1).toLong).sum
    delete(s"${o.work}/refinery_$i")
    Map("op" -> i, "n_input" -> r.nInput, "n_cleaned" -> r.nCleaned,
      "n_curated" -> r.nCurated, "n_quality_kept" -> r.nQualityKept,
      "manifest_rows" -> manifest)
  }
}

/** `stream`: the input files, one per trigger under `Trigger.AvailableNow`,
  * through three sinks in turn: `cmsMonitorSink` (merges every partial
  * on each batch), `lineDedupSink` (anti-joins against all prior state)
  * and `indexPartialsSink` (append-only). One op is all three sinks over
  * the whole stream, from empty state. */
final class StreamWorkload(spark: SparkSession, o: Main.Opts) extends Workload {
  private val filesDir = s"${o.in}/files"
  private val schema = Scan.parquet(spark, filesDir).schema
  private val allDir = s"${o.work}/all"
  private val runs = mutable.ArrayBuffer.empty[(Int, String)]
  private var nextOp = 0
  val Sinks = Seq("cms_monitor", "line_dedup", "index_partials")

  private def source(dir: String): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir)

  /** Runs the three sinks over `dir`; returns per-sink (seconds, batches). */
  private def op(dir: String, tracer: Option[Tracer]): Seq[(String, Double, Seq[Map[String, Any]])] = {
    val i = nextOp
    nextOp += 1
    val base = s"${o.work}/stream_$i"
    runs += (i -> base)
    span(tracer, "streaming.op", i) {
      Sinks.map { sink =>
        val (q, s) = timed(span(tracer, s"streaming.$sink", i) {
          val q = sink match {
            case "cms_monitor" => EventStreams.cmsMonitorSink(source(dir), "text",
              graft.queries.TextQueries.CmsTerms, s"$base/cms_state",
              s"$base/cms_report", s"$base/cms_ckpt")
            case "line_dedup" => EventStreams.lineDedupSink(source(dir), "doc_id",
              "text", s"$base/dedup_state", s"$base/dedup_out", s"$base/dedup_ckpt")
            case "index_partials" => EventStreams.indexPartialsSink(source(dir),
              "doc_id", "text", s"$base/index_partials", s"$base/index_ckpt")
          }
          q.awaitTermination()
          q
        })
        val batches = q.recentProgress.toSeq.map { p =>
          Map("batch" -> p.batchId, "rows" -> p.numInputRows,
            "query_id" -> p.id.toString,
            "ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
        }
        (sink, s, batches)
      }
    }
  }

  def warmup(): Unit = {
    val warmIn = s"${o.work}/warm_in"
    Files.createDirectories(Paths.get(warmIn))
    dataFiles(filesDir).sortBy(_.getName).take(2).foreach(f =>
      Files.copy(f.toPath, Paths.get(warmIn, f.getName)))
    op(warmIn, None)
    runs.clear()
    Scan.parquet(spark, filesDir).write.parquet(s"$allDir/documents.parquet")
  }

  def phase(tracer: Option[Tracer], again: Boolean): Map[String, Any] = {
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val wall = loop(o.seconds, 1) { _ =>
      val sinks = op(filesDir, tracer)
      ops += Map("kind" -> "stream", "op" -> (nextOp - 1),
        "s" -> sinks.map(_._2).sum,
        "rows" -> sinks.head._3.map(_("rows").asInstanceOf[Long]).sum,
        "sinks" -> sinks.map { case (n, s, b) => Map("sink" -> n, "s" -> s, "batches" -> b) })
    }
    val last = runs.last._2
    val state = Seq("cms_state", "dedup_state", "index_partials")
      .flatMap(d => dataFiles(s"$last/$d"))
    Map("ops" -> ops.toSeq, "wall_s" -> wall,
      "state_files" -> state.size, "state_mb" -> state.map(_.length).sum / 1e6)
  }

  /** What the StreamingQueryListener and the SparkListener saw of each
    * micro-batch of the traced phase. */
  def probes(tracer: Tracer): Map[String, Any] = Map(
    "records_read_by_batch" -> tracer.recordsReadByBatch,
    "listener_batches" -> tracer.batches.toSeq.map(b => Map(
      "query_id" -> b.query, "batch" -> b.batchId, "rows" -> b.inputRows,
      "ms" -> b.durationsMs)))

  /** Final CMS report = the batch q217 over all arrivals; line-dedup
    * union = `Quality.dedupLinesGlobal`; merged index partials =
    * `InvertedIndex.termStats`. */
  def checks(): Seq[Map[String, Any]] = {
    val all = Scan.parquet(spark, s"$allDir/documents.parquet")
    val cms = contentHash(graft.SparkEntry.queries("q217_countmin_heavyhitters")(spark, allDir))
    val dedup = contentHash(Quality.dedupLinesGlobal(all, "doc_id", "text"))
    val index = contentHash(InvertedIndex.termStats(all, "doc_id", "text",
      minDf = 2L, pooled = false))
    runs.toSeq.flatMap { case (i, base) =>
      val got = Seq(
        "cms report" -> (contentHash(Scan.parquet(spark, s"$base/cms_report")), cms),
        "line dedup" -> (contentHash(Scan.parquet(spark, s"$base/dedup_out").drop("batch")), dedup),
        "index partials" -> (contentHash(EventStreams.servingTermStats(spark,
          s"$base/index_partials")), index))
      delete(base)
      got.map { case (name, (g, w)) =>
        Map("op" -> i, "name" -> name, "ok" -> (g == w),
          "detail" -> s"rows ${g._1} vs ${w._1}")
      }
    }
  }
}
