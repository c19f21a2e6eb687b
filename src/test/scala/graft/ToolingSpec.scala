package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Tripwire against one-off tooling growing back: sessions come from
  * `GraftSession` only, and every runnable main is one README documents. */
class ToolingSpec extends AnyFunSuite {

  private def mainSources: Seq[(Path, String)] = {
    val s = Files.walk(Paths.get("src/main/scala"))
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> Files.readString(p))
    finally s.close()
  }

  test("SparkSession.builder() appears only in GraftSession.scala") {
    val sites = mainSources.collect {
      case (p, src) if src.contains("SparkSession.builder()") => p.toString
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
}
