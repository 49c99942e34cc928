package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guards against regrowth in `src/main`: sessions come from the one
  * factory ([[EngineConf.builder]]), the command-line mains are
  * exactly the documented ones, connected components have one solver
  * ([[operators.Graph]]), the voyage-segmentation rules have one
  * definition per dialect ([[operators.Voyages]]) and GeoOps orders a
  * vessel's reports only to build its track, the MinHash signature
  * aggregate survives only as the spec of the native kernel, and the
  * ANN index config stays inside [[operators.Similarity]]. A new
  * one-off study belongs in a scratch copy or in `perfbench`, not in
  * the library. */
class SourceLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** Relative path -> source text of every Scala file under `root`. */
  private lazy val sources: Map[String, String] =
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> Files.readString(p))
      .toMap

  /** The non-comment lines of `src`, with their 0-based line index. */
  private def code(src: String): Seq[(String, Int)] =
    src.linesIterator.zipWithIndex.filterNot { case (l, _) =>
      val t = l.trim
      t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
    }.toSeq

  /** (file, line index) of every code line in `src/main` matching
    * `rule`, one entry per match. */
  private def codeHits(rule: String): Seq[(String, Int)] =
    sources.toSeq.sortBy(_._1).flatMap { case (f, src) =>
      code(src).flatMap { case (l, i) =>
        rule.r.findAllMatchIn(l).map(_ => f -> i)
      }
    }

  /** The code-line index range (exclusive) of `def name(` in `file`:
    * from its line to the next `def` line. */
  private def defRange(file: String, name: String): (Int, Int) = {
    val defs = code(sources(file)).collect {
      case (l, i) if "\\bdef\\s".r.findFirstIn(l).isDefined => l -> i
    }
    val at = defs.indexWhere(_._1.contains(s"def $name("))
    assert(at >= 0, s"$file: def $name is gone")
    (defs(at)._2, defs.lift(at + 1).map(_._2).getOrElse(Int.MaxValue))
  }

  private val kept = Set(
    "graft.Bench", "graft.Verify", "graft.ScaleFixture",
    "graft.ScalingBench", "graft.streaming.StreamScale")

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

  test("the voyage rules are defined once per dialect, in Voyages") {
    // derived lat, derived lon, the 30-min gap, the report-gap column
    // (Column, then SQL); Voyages has at most one copy per dialect
    // (Column, Scala, SQL).
    val voyages = "graft/operators/Voyages.scala"
    val rules = Seq("7919\\s*%\\s*18000" -> Set(voyages),
      "104729\\s*%\\s*36000" -> Set(voyages),
      "1800L\\s*\\*\\s*1000000L|1800000000" -> Set(voyages),
      "unix_micros\\(lag\\(|lag\\(\\s*unix_micros\\(" ->
        Set(voyages),
      "lag\\(\\s*epoch_us\\(ts\\)" -> Set(voyages))
    rules.foreach { case (rule, allowed) =>
      val hits = sources.toSeq.sortBy(_._1).flatMap { case (f, src) =>
        rule.r.findAllMatchIn(src).map(_ => f)
      }
      val elsewhere = hits.filterNot(allowed)
      assert(elsewhere.isEmpty,
        s"/$rule/ outside ${allowed.mkString(", ")}: " +
          elsewhere.distinct.mkString(", "))
      val defs = hits.count(_ == voyages)
      assert(defs >= 1 && defs <= 3,
        s"/$rule/ has $defs definitions in Voyages")
      assert(hits.size - defs <= 1, s"/$rule/ has ${hits.size - defs} " +
        "copies outside Voyages")
    }
  }

  test("the per-shingle MinHash aggregate lives only in its spec") {
    // `min(hash(sh, lit(i)))` re-aggregates exploded shingles back to
    // one row per doc; the declared path is the row-local native
    // minhash3, and Dedup.minhash keeps the aggregate as its
    // executable spec.
    val dedup = "graft/operators/Dedup.scala"
    val hits =
      codeHits("\\bhash\\([^()]*(\\([^()]*\\))?[^()]*,\\s*lit\\(")
    assert(hits.map(_._1).toSet == Set(dedup),
      s"MinHash aggregate outside the spec: ${hits.map(_._1).distinct}")
    val (from, until) = defRange(dedup, "minhash")
    assert(hits.forall { case (_, i) => i > from && i < until },
      "the MinHash aggregate appears outside Dedup.minhash")
  }

  test("GeoOps orders a vessel's reports once, in the track build") {
    // Voyages.byVessel is the per-vessel (ts, event_id) order and
    // Voyages.gapUs lags over it. In GeoOps both belong to the one
    // sort that builds geo.track; every hop query reads the track's
    // prev_id and gap_us instead of re-deriving the predecessor.
    val geo = "graft/operators/GeoOps.scala"
    val hits = codeHits("\\bVoyages\\.(byVessel|gapUs)\\b")
      .filter(_._1 == geo)
    assert(hits.nonEmpty, "GeoOps.trackBuild no longer sorts byVessel")
    val (from, until) = defRange(geo, "trackBuild")
    val outside = hits.filterNot { case (_, i) => i > from && i < until }
    assert(outside.isEmpty, "Voyages.byVessel/gapUs outside trackBuild" +
      s" at GeoOps lines ${outside.map(_._2 + 1).mkString(", ")}")
  }

  test("the stateful stream twins share one per-vessel fold and one" +
      " voyage split") {
    // Streams.fold is the only flatMapGroupsWithState call: the
    // late-report rule, the replay order and the state write live
    // there once. Streams.gapSplit is the only Scala use of the voyage
    // gap, shared by the session and voyage twins.
    val streams = "graft/streaming/Streams.scala"
    val folds = codeHits("\\bflatMapGroupsWithState\\b")
    assert(folds.map(_._1) == Seq(streams),
      s"flatMapGroupsWithState sites: ${folds.mkString(", ")}")
    val gaps = codeHits("\\bVoyages\\.GapMicros\\b").filter(_._1 == streams)
    assert(gaps.size == 1, s"Voyages.GapMicros in Streams at lines " +
      gaps.map(_._2 + 1).mkString(", "))
  }

  test("the LSH/IVF index config is read only inside Similarity") {
    // The table count, seed, bit rule and Lloyd iteration count name
    // the on-disk index versions; threading them through signatures
    // again would let a caller build an index no query reads.
    val similarity = "graft/operators/Similarity.scala"
    val hits =
      codeHits("\\b(LshTables|LshSeed|IvfLloydIters)\\b|\\blshBits\\(")
    assert(hits.exists(_._1 == similarity),
      "Similarity no longer defines the index config")
    val outside = hits.filterNot(_._1 == similarity)
    assert(outside.isEmpty, "index config read outside Similarity at " +
      outside.map { case (f, i) => s"$f:${i + 1}" }.mkString(", "))
  }

  test("the command-line mains are exactly the kept list") {
    val found = sources.values.flatMap(mains).toSet
    assert(found == kept,
      s"added: ${found -- kept}; missing: ${kept -- found}")
  }
}
