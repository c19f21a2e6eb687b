package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Tripwire against one-off tooling growing back: sessions come from
  * `GraftSession` only (the test suite's too), graft kernels reach
  * DataFrame code without per-session registration, every runnable main is one README documents, and
  * cross-query state lives in the two cache scopes (`OperatorCaches` per
  * query, `FramePool` per run) rather than in private memos, and global
  * ranks come from one core (`PrefixSum`). */
class ToolingSpec extends AnyFunSuite {

  private def sources(root: String): Seq[(Path, String)] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> Files.readString(p))
    finally s.close()
  }

  private def mainSources: Seq[(Path, String)] = sources("src/main/scala")

  test("SparkSession.builder() appears only in GraftSession.scala") {
    // the test suite's session is GraftSession.local too; this file names
    // the needle only to search for it
    val self = Paths.get("src/test/scala/graft/ToolingSpec.scala")
    val sites = (mainSources ++ sources("src/test/scala")).collect {
      case (p, src) if p != self && src.contains("SparkSession.builder()") => p.toString
    }
    assert(sites === Seq("src/main/scala/graft/GraftSession.scala"))
  }

  test("README's Running section lists exactly the mains under src/main") {
    val mains = mainSources.flatMap { case (_, src) =>
      val at = src.indexOf("def main(")
      Option.when(at >= 0) {
        val pkg = """(?m)^package ([\w.]+)""".r.findFirstMatchIn(src).get.group(1)
        val obj = """object (\w+)""".r.findAllMatchIn(src.take(at)).toList.last.group(1)
        s"$pkg.$obj"
      }
    }.toSet
    val readme = Files.readString(Paths.get("README.md"))
    val running = readme.split("\n## ").find(_.startsWith("Running")).get
    val listed = """runMain (graft\.[\w.]+)""".r.findAllMatchIn(running)
      .map(_.group(1)).toSet
    assert(mains.diff(listed).isEmpty, s"mains missing from README Running: ${mains.diff(listed)}")
    assert(listed.diff(mains).isEmpty, s"README Running lists absent mains: ${listed.diff(mains)}")
  }

  private def sitesOf(needle: String): Seq[String] = mainSources.collect {
    case (p, src) if src.contains(needle) => p.toString
  }.sorted

  test("no JVM-lifetime memo: computeIfAbsent and addShutdownHook appear nowhere under src/main") {
    assert(sitesOf("computeIfAbsent") === Nil)
    assert(sitesOf("addShutdownHook") === Nil)
  }

  test("graft kernels need no session state: ensureRegistered is called only by GraftSession") {
    assert(sitesOf("ensureRegistered(") === Seq(
      "src/main/scala/graft/GraftSession.scala",
      "src/main/scala/graft/plans/ArrayDotProduct.scala"))
    val defining = Files.readString(Paths.get("src/main/scala/graft/plans/ArrayDotProduct.scala"))
    assert("ensureRegistered\\(".r.findAllMatchIn(defining).map(m =>
      defining.substring(m.start - 4, m.end)).toList === List("def ensureRegistered("))
    assert(sitesOf("call_function(\"graft_") === Nil)
  }

  test("StorageLevel.NONE appears only in OperatorCaches.scala") {
    assert(sitesOf("StorageLevel.NONE") ===
      Seq("src/main/scala/graft/operators/OperatorCaches.scala"))
  }

  test("one rank implementation: partition and row tagging appear only in PrefixSum.scala") {
    // a hand-rolled global rank tags rows with these; the ranked core owns them
    for (needle <- Seq("spark_partition_id()", "monotonically_increasing_id()"))
      assert(sitesOf(needle) === Seq("src/main/scala/graft/operators/PrefixSum.scala"),
        s"$needle outside the ranked core")
  }

  test("the Postings pool shims have no caller under src/") {
    val shims = """Postings\s*\.\s*(release|pooledCount|MaxCorpora)\b""".r
    val s = Files.walk(Paths.get("src"))
    val callers =
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
        .filter(p => shims.findFirstIn(Files.readString(p)).isDefined)
        .map(_.toString)
      finally s.close()
    assert(callers === Nil)
  }
}
