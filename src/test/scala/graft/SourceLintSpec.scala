package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guards against regrowth in `src/main`: sessions come from the one
  * factory ([[EngineConf.builder]]), the command-line mains are
  * exactly the documented ones, and connected components have one
  * solver ([[operators.Graph]]). A new one-off study belongs in a
  * scratch copy or in `perfbench`, not in the library. */
class SourceLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** Relative path -> source text of every Scala file under `root`. */
  private lazy val sources: Map[String, String] =
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> Files.readString(p))
      .toMap

  private val kept = Set(
    "graft.Bench", "graft.Verify", "graft.Explain", "graft.ScaleFixture",
    "graft.ScalingBench", "graft.streaming.StreamScale",
    "graft.IndexProbe", "graft.operators.AnnSweep", "graft.SortSpillCheck")

  /** Fully qualified objects in `src` that declare a `main` (directly
    * or by extending App). */
  private def mains(src: String): Set[String] = {
    val pkg = "(?m)^package\\s+([\\w.]+)".r.findFirstMatchIn(src)
      .map(_.group(1) + ".").getOrElse("")
    val objects = "\\bobject\\s+(\\w+)".r.findAllMatchIn(src).toSeq
    def enclosing(at: Int): Option[String] =
      objects.takeWhile(_.start < at).lastOption.map(pkg + _.group(1))
    val byDef = "\\bdef\\s+main\\s*\\(".r.findAllMatchIn(src)
      .flatMap(m => enclosing(m.start))
    val byApp = "\\bobject\\s+(\\w+)\\s+extends\\s+App\\b".r
      .findAllMatchIn(src).map(pkg + _.group(1))
    (byDef ++ byApp).toSet
  }

  test("only EngineConf builds a SparkSession") {
    val builders = sources.collect {
      case (f, src) if "SparkSession\\s*\\.\\s*builder".r
        .findFirstIn(src).isDefined => f
    }
    assert(builders.toSet == Set("graft/EngineConf.scala"))
  }

  test("one file declares a union-find find: the shared graph solver") {
    val finds = sources.collect {
      case (f, src) if "\\bdef\\s+find\\s*[\\[(]".r
        .findFirstIn(src).isDefined => f
    }
    assert(finds.toSet == Set("graft/operators/Graph.scala"),
      s"union-find copies in: ${finds.toSeq.sorted.mkString(", ")}")
  }

  test("the command-line mains are exactly the kept list") {
    val found = sources.values.flatMap(mains).toSet
    assert(found == kept,
      s"added: ${found -- kept}; missing: ${kept -- found}")
  }
}
