package graft.tools

import java.util.concurrent.{Semaphore, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of code starts, with a SparkListener on
  * the session's listener bus. The bus hands events to a listener in
  * order but after the fact, so each end of a count runs a one-task
  * marker job and waits for the marker's end event: by then every job
  * submitted before the marker has been seen. Jobs from any thread of
  * the application count. [[close]] removes the listener. */
final class JobCounter(spark: SparkSession) extends AutoCloseable {
  private val MarkerKey = "graft.jobCounter.marker"
  private val started = new AtomicInteger
  private val markerEnded = new Semaphore(0)

  private val listener = new SparkListener {
    // touched only on the listener bus's thread
    private val markers = mutable.Set.empty[Int]

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (e.properties != null && e.properties.getProperty(MarkerKey) != null)
        markers += e.jobId
      else started.incrementAndGet()

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (markers.remove(e.jobId)) markerEnded.release()
  }
  spark.sparkContext.addSparkListener(listener)

  /** Runs `body` and returns its value with the number of jobs started
    * while it ran. */
  def count[T](body: => T): (T, Int) = {
    drain()
    val before = started.get
    val out = body
    drain()
    (out, started.get - before)
  }

  private def drain(): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty(MarkerKey, "true")
    try sc.parallelize(Seq(0), 1).count()
    finally sc.setLocalProperty(MarkerKey, null)
    if (!markerEnded.tryAcquire(60, TimeUnit.SECONDS))
      throw new IllegalStateException("listener bus did not deliver the marker job's end in 60 s")
  }

  override def close(): Unit = spark.sparkContext.removeSparkListener(listener)
}
