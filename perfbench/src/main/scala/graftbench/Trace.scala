package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed region around one call into a layer. */
final case class Span(id: Int, name: String, parent: Option[Int], opId: Int,
                      start: Long, var end: Long = -1L) {
  def wallS: Double = (end - start) / 1e9
}

/** Task metrics summed over the tasks of one span's jobs. */
final class TaskTotals {
  var tasks = 0L
  var failed = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var waitMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var recordsRead = 0L

  def add(o: TaskTotals): Unit = {
    tasks += o.tasks; failed += o.failed; cpuNs += o.cpuNs; runMs += o.runMs
    gcMs += o.gcMs; waitMs += o.waitMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill; recordsRead += o.recordsRead
  }
}

/** One micro-batch's progress, as a StreamingQueryListener saw it. */
final case class BatchProgress(query: String, batchId: Long, inputRows: Long,
                               durationsMs: Map[String, Long])

/** Records spans around layer calls and attributes Spark's own metrics to
  * them. Installed only in the traced run: a SparkListener (jobs, stages,
  * tasks), a StreamingQueryListener (micro-batch progress) and a
  * QueryExecutionListener (the executed plan of each action). Each span
  * sets the job group to its id, so jobs started on the driver thread
  * carry their span; jobs started elsewhere (a streaming query's thread)
  * belong to the innermost span open when they were submitted. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]

  private final case class Job(id: Int, group: Option[String], submitted: Long,
                               var completed: Long, streamKey: Option[String])
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageSubmitted = mutable.HashMap.empty[Int, Long]
  private val jobTotals = mutable.HashMap.empty[Int, TaskTotals]
  val batches = mutable.ArrayBuffer.empty[BatchProgress]
  private val plans = mutable.ArrayBuffer.empty[String] // executed plans

  /** Listener events carry wall-clock millis; spans use nanoTime. */
  private val clockOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def toNanoClock(ms: Long): Long = ms * 1000000L - clockOffsetNs

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val props = Option(e.properties)
      val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val stream = props.flatMap(p =>
        Option(p.getProperty("sql.streaming.queryId")).map(q =>
          q + "/" + p.getProperty("streaming.sql.batchId")))
      jobs(e.jobId) = Job(e.jobId, group, toNanoClock(e.time), -1L, stream)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.completed = toNanoClock(e.time))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        stageSubmitted(e.stageInfo.stageId) =
          e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageJob.get(e.stageId).foreach { j =>
        val t = jobTotals.getOrElseUpdate(j, new TaskTotals)
        t.tasks += 1
        if (!e.taskInfo.successful) t.failed += 1
        stageSubmitted.get(e.stageId).foreach(s =>
          t.waitMs += math.max(0L, e.taskInfo.launchTime - s))
        Option(e.taskMetrics).foreach { m =>
          t.cpuNs += m.executorCpuTime
          t.runMs += m.executorRunTime
          t.gcMs += m.jvmGCTime
          t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          t.recordsRead += m.inputMetrics.recordsRead
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val d = p.durationMs.entrySet().toArray(
          Array.empty[java.util.Map.Entry[String, java.lang.Long]])
          .map(x => x.getKey -> x.getValue.longValue()).toMap
        batches += BatchProgress(p.id.toString, p.batchId, p.numInputRows, d)
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      Tracer.this.synchronized {
        plans += qe.executedPlan.toString
      }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  resume()

  /** Detaches the listeners (after delivering what is queued). */
  def pause(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
  }

  def resume(): Unit = {
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(qeListener)
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Runs `f` inside a span: the job group names the span while it runs. */
  def span[A](name: String, opId: Int)(f: => A): A = {
    val s = synchronized {
      val s = Span(spans.size, name, stack.headOption.map(_.id), opId,
        System.nanoTime())
      spans += s
      stack.push(s)
      s
    }
    sc.setJobGroup(s"span-${s.id}", name)
    try f
    finally {
      s.end = System.nanoTime()
      synchronized(stack.pop())
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** The span each job belongs to: its job group, else the innermost
    * span open when it was submitted (jobs of streaming threads). */
  private def spanOf(j: Job): Option[Int] =
    j.group.filter(_.startsWith("span-")).map(_.stripPrefix("span-").toInt)
      .orElse(spans.filter(s => s.start <= j.submitted &&
        (s.end < 0 || j.submitted <= s.end)).sortBy(-_.start).headOption.map(_.id))

  /** Task totals per span id (jobs attributed as in [[spanOf]]). */
  def totalsBySpan: Map[Int, TaskTotals] = synchronized {
    val out = mutable.HashMap.empty[Int, TaskTotals]
    jobs.values.foreach { j =>
      for (s <- spanOf(j); t <- jobTotals.get(j.id))
        out.getOrElseUpdate(s, new TaskTotals).add(t)
    }
    out.toMap
  }

  /** Records read by the jobs of each streaming micro-batch, keyed by
    * "queryId/batchId". */
  def recordsReadByBatch: Map[String, Long] = synchronized {
    jobs.values.flatMap(j => j.streamKey.map(k =>
      k -> jobTotals.get(j.id).map(_.recordsRead).getOrElse(0L)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
  }

  /** Seconds of the span during which no job of it was running. */
  def driverSeconds(s: Span): Double = synchronized {
    val mine = jobs.values.filter(j => spanOf(j).exists(id =>
      id == s.id || descendsFrom(id, s.id)) && j.completed > 0)
      .map(j => (math.max(j.submitted, s.start), math.min(j.completed, s.end)))
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var busy = 0L
    var curA = -1L
    var curB = -1L
    mine.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) busy += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) busy += curB - curA
    math.max(0.0, (s.end - s.start - busy) / 1e9)
  }

  private def descendsFrom(id: Int, ancestor: Int): Boolean =
    spans(id).parent match {
      case Some(p) => p == ancestor || descendsFrom(p, ancestor)
      case None => false
    }

  /** Wall time of the span minus the wall time of its direct children. */
  def selfSeconds(s: Span): Double =
    s.wallS - spans.filter(_.parent.contains(s.id)).map(_.wallS).sum

  /** Executed plans of the actions finished since the last call. */
  def takePlans(): Seq[String] = {
    drain()
    synchronized { val out = plans.toList; plans.clear(); out }
  }
}
