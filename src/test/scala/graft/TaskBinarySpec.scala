package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

/** Serialized-task-size tripwire: executes every registry query at
  * sf0.001 while capturing the DAGScheduler's "Broadcasting large task
  * binary" warnings, and fails if any stage's task binary reaches 2 MiB.
  *
  * Task binaries ship to EVERY task — multi-MiB binaries (from
  * group-scaled `typedLit` literals, or deep train-step lineage riding
  * into serve stages) are scheduler and network pressure at thousands of
  * tasks. Binary size is plan-structure-driven, not data-driven, so
  * sf0.001 exercises the same plans the sf0.1 bench runs. The round-9
  * state this pins: PQ search stages hit 8.2 MiB until the pooled
  * codes/LUT artifacts were lineage-truncated (PqQueries.encoded);
  * post-fix the whole registry emits NO warning (threshold 1 MiB) — the
  * 2 MiB bound leaves headroom for benign plan growth while catching any
  * regression of that class.
  */
class TaskBinarySpec extends SparkSpec {

  private final class Capture extends AbstractAppender(
    "graft-taskbinary-capture", null, null, true, Property.EMPTY_ARRAY) {
    val messages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    override def append(event: LogEvent): Unit = {
      val m = event.getMessage.getFormattedMessage
      if (m.contains("large task binary")) messages.add(m)
    }
  }

  /** "size 8.2 MiB" / "size 1042.1 KiB" → KiB. */
  private def sizeKiB(msg: String): Double = {
    val re = raw"size ([0-9.]+) ([KMG]iB)".r.unanchored
    msg match {
      case re(v, u) =>
        v.toDouble * (u match {
          case "KiB" => 1.0; case "MiB" => 1024.0; case _ => 1024.0 * 1024.0
        })
      case _ => 0.0
    }
  }

  test("no registry query broadcasts a task binary of 2 MiB or more") {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val config = ctx.getConfiguration
    val capture = new Capture
    capture.start()
    config.addAppender(capture)
    // attach at the DAGScheduler logger (falls back to whatever config
    // governs it — possibly root; the appender filters on message text)
    val lc = config.getLoggerConfig("org.apache.spark.scheduler.DAGScheduler")
    lc.addAppender(capture, Level.WARN, null)
    ctx.updateLoggers()
    try {
      val results = SparkEntry.sweep(SparkEntry.queries.toSeq.sortBy(_._1)) {
        (_, fn) =>
          val before = capture.messages.size()
          fn(spark, sfDir).count()
          capture.messages.toArray(Array.empty[String]).drop(before).map(sizeKiB)
      }
      val failed = results.collect { case (name, Left(e)) =>
        s"$name: ${e.getMessage}" }
      assert(failed.isEmpty, failed.mkString("; "))
      val offenders = results.collect {
        case (name, Right(warned)) if warned.exists(_ >= 2048.0) =>
          name -> warned.max
      }
      assert(offenders.isEmpty,
        s"task binaries >= 2 MiB: ${offenders.map { case (n, k) =>
          f"$n (${k / 1024}%.1f MiB)" }.mkString(", ")}")
    } finally {
      lc.removeAppender(capture.getName)
      config.getAppenders.remove(capture.getName)
      ctx.updateLoggers()
      capture.stop()
    }
  }
}
