package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark harness for one workload in one JVM.
  *
  * {{{
  * Main --workload <convert|registry|refinery|stream> --in <inputs dir>
  *      --work <scratch dir> --seconds <s> --trace <0|1> --result <file>
  *      [--order q1,q2,...] [--dump <dir>]
  * }}}
  *
  * The session is the shipped posture, `GraftSession.local(_, 4)`, driven
  * by one closed-loop client (this thread): each operation starts when
  * the previous one has finished. Every phase runs the workload's
  * operations until `--seconds` have passed and a minimum count has run.
  * With `--trace 1` the untraced phase is followed by a traced one (spans
  * plus Spark listeners), the per-layer probes and the workload's blocks;
  * the tracing overhead is read from the two phases' difference. Output
  * checks run outside the timed regions. The raw observations go to
  * `--result` as JSON; `run.py` turns them into metrics.
  */
object Main {

  final case class Opts(workload: String, in: String, work: String,
                        seconds: Double, trace: Boolean, result: String,
                        order: Seq[String], dump: Option[String])

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("in"), m("work"), m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("result"),
      m.get("order").map(_.split(",").toSeq).getOrElse(Nil), m.get("dump"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spark = graft.GraftSession.local("perfbench", 4)
    // from JVM start: class loading and JIT of the session path included
    val sessionStart = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    spark.sparkContext.setLogLevel("ERROR")
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "session_start_s" -> sessionStart)
    try {
      val w: Workload = o.workload match {
        case "convert" => new ConvertWorkload(spark, o)
        case "registry" => new RegistryWorkload(spark, o)
        case "refinery" => new RefineryWorkload(spark, o)
        case "stream" => new StreamWorkload(spark, o)
        case other => sys.error(s"unknown workload $other")
      }
      out("warmup_s") = Util.seconds(w.warmup())
      out("untraced") = w.phase(None)
      if (o.trace) {
        // the traced phase goes on from where the untraced one ended
        // (registry: one warm pass, compared with the untraced warm pass)
        val tracer = new Tracer(spark)
        out("traced") = w.phase(Some(tracer), again = true)
        tracer.drain()
        // summarised before the probes add spans of their own
        out("trace") = Util.traceSummary(tracer, spark)
        out("layers") = w.probes(tracer)
        out("blocks") = w.blocks.map { case (name, b) =>
          // a block's warm-up is not traced: its jobs and micro-batches
          // would count among the block's
          tracer.pause()
          val warmupS = Util.seconds(b.warmup())
          tracer.resume()
          name -> Map("warmup_s" -> warmupS,
            "phase" -> b.phase(Some(tracer)), "probes" -> b.probes(tracer))
        }.toMap
        tracer.pause()
      }
      val (checks, checkS) = Util.timed(w.checks() ++
        (if (o.trace) w.blocks.flatMap { case (name, b) =>
          b.checks().map(_ + ("block" -> name)) } else Nil))
      out("checks") = checks
      out("checks_s") = checkS
      Files.writeString(Paths.get(o.result), Json(out))
    } finally spark.stop()
  }
}

/** One workload: warm-up, a measured phase, per-layer probes and output
  * checks. Phase results are JSON-ready maps. A workload's `blocks` are
  * other workloads run once, traced, at the end of its traced run, so
  * that their layers are measured too. */
trait Workload {
  def warmup(): Unit
  /** `again`: a repeat from the end state of the phase before it. */
  def phase(tracer: Option[Tracer], again: Boolean = false): Map[String, Any]
  def probes(tracer: Tracer): Map[String, Any]
  def checks(): Seq[Map[String, Any]]
  lazy val blocks: Seq[(String, Workload)] = Nil
}

object Util {

  def seconds(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def span[A](tracer: Option[Tracer], name: String, opId: Int)(f: => A): A =
    tracer match {
      case Some(t) => t.span(name, opId)(f)
      case None => f
    }

  /** Runs `op(i)` for i = 0, 1, ... until `seconds` have passed and at
    * least `min` operations have run. */
  def loop(seconds: Double, min: Int)(op: Int => Unit): Double = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < min || (System.nanoTime() - t0) / 1e9 < seconds) { op(i); i += 1 }
    (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Order-independent content digest: (rows, sum of per-row hashes).
    * Rows hash by value; map columns, which Spark cannot hash, by their
    * JSON rendering. */
  def contentHash(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      if (f.dataType.catalogString.contains("map<")) to_json(struct(c)) else c
    }
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h")))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def delete(path: String): Unit = {
    val root = Paths.get(path)
    if (Files.exists(root))
      Files.walk(root).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  def files(dir: String): Seq[File] = {
    val root = new File(dir)
    if (!root.exists()) Nil
    else Files.walk(root.toPath).iterator().asScala.map(_.toFile)
      .filter(_.isFile).toSeq
  }

  def dataFiles(dir: String): Seq[File] =
    files(dir).filter(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))

  /** Span self-time and Spark's task metrics over the whole traced phase. */
  def traceSummary(t: Tracer, spark: SparkSession): Map[String, Any] = {
    val totals = new TaskTotals
    val top = t.spans.filter(_.parent.isEmpty).toSeq
    val bySpan = t.totalsBySpan
    bySpan.values.foreach(totals.add)
    val t0 = top.map(_.start).minOption.getOrElse(0L)
    Map(
      "spans" -> t.spans.map(s => Seq(s.id, s.name, s.parent.getOrElse(-1), s.opId,
        (s.start - t0) / 1e9, (s.end - t0) / 1e9)),
      "self_s" -> t.spans.map(t.selfSeconds).sum,
      "top_wall_s" -> top.map(_.wallS).sum,
      "driver_s" -> top.map(t.driverSeconds).sum,
      "tasks" -> totals.tasks, "tasks_failed" -> totals.failed,
      "executor_cpu_s" -> totals.cpuNs / 1e9,
      "executor_run_s" -> totals.runMs / 1e3,
      "gc_s" -> totals.gcMs / 1e3, "task_wait_s" -> totals.waitMs / 1e3,
      "shuffle_write_mb" -> totals.shuffleWrite / 1e6,
      "shuffle_read_mb" -> totals.shuffleRead / 1e6,
      "spill_mb" -> totals.spill / 1e6,
      "cores" -> spark.sparkContext.defaultParallelism,
      "by_span" -> t.spans.groupBy(_.name).map { case (n, ss) =>
        val tt = new TaskTotals
        ss.flatMap(s => bySpan.get(s.id)).foreach(tt.add)
        n -> Map("count" -> ss.size, "wall_s" -> ss.map(_.wallS).sum,
          "self_s" -> ss.map(t.selfSeconds).sum,
          "executor_run_s" -> tt.runMs / 1e3, "tasks" -> tt.tasks)
      })
  }
}
