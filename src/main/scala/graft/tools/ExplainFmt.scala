package graft.tools

// Dump `.explain("formatted")` output for named registry queries into
// files — the optimization-round evidence trail (plans/r16/<q>_<tag>.txt).
// Usage: runMain graft.tools.ExplainFmt <outDir> <tag> <q1> <q2> ...
// Runs at sf0.001 on the harness session, the names as one
// SparkEntry.sweep: FramePool stays warm across them (list a family in
// bench order to see the pooled-consumer plan shape).
object ExplainFmt {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args.drop(2).toSeq
    val spark = graft.GraftSession.harness("graft-explain", 8)
    new java.io.File(outDir).mkdirs()
    val queries = graft.SparkEntry.queries
    val failed = graft.SparkEntry.sweep(names.map(n => n -> queries(n))) {
      (n, fn) =>
        val plan = fn(spark, "/root/testdata/sf0.001").queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${n}_$tag.txt"), plan)
        println(s"WROTE $outDir/${n}_$tag.txt")
    }.collect { case (n, Left(e)) =>
      println(s"FAILED $n: ${e.getMessage}")
      n
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
