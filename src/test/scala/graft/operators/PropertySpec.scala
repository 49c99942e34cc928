package graft.operators

import graft.SparkSpec
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._

/** Generator-driven properties over the operators whose correctness
  * rests on an equivalence argument (blocked == naive, native ==
  * reference) — deterministic seeds, cases batched into single
  * DataFrame passes so each property costs O(1) Spark jobs.
  *
  * The doc_id generator deliberately reaches past 2^53: the blocked
  * edit-distance chain's block key must be exact integer division
  * (a double `floor(id / blockSize)` mis-buckets up there — the
  * round-6 advice finding this property would have caught).
  */
class PropertySpec extends SparkSpec {

  private def sample[T](g: Gen[T], seed: Long): T =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  test("property: blocked edit-distance chain == naive window," +
      " random corpora with huge doc_ids") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val genDoc = for {
      // half the ids land above 2^53 where double arithmetic is lossy
      id <- Gen.oneOf(Gen.chooseNum(0L, 1L << 20),
        Gen.chooseNum((1L << 53) + 1, Long.MaxValue - 1))
      lang <- Gen.oneOf("en", "de", "zh")
      text <- Gen.chooseNum(1, 24)
        .flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
    } yield (id, lang, text)
    (1 to 3).foreach { trial =>
      val docs = sample(Gen.listOfN(60, genDoc), trial.toLong)
        .distinctBy(_._1)
        .toDF("doc_id", "lang", "text")
      val w = Window.partitionBy("lang").orderBy("doc_id")
      val naive = docs
        .withColumn("next_id", lead("doc_id", 1).over(w))
        .withColumn("next_text", lead("text", 1).over(w))
        .filter(col("next_id").isNotNull)
        .select(col("doc_id"), col("next_id"), col("lang"),
          levenshtein(col("text"), col("next_text")).as("edit_dist"),
          (length(col("next_text")) - length(col("text")))
            .as("len_delta"))
        .orderBy("doc_id")
        .collect().map(_.toString).toSeq
      val blocked = TextOps.editDistanceChain(docs, 4L)
        .collect().map(_.toString).toSeq
      assert(blocked == naive,
        s"trial $trial: blocked chain diverges on random corpus")
    }
  }

  test("property: fingerprint fold == BigInt reference on random" +
      " unicode strings") {
    // The Long fold assumes acc·31 + codePoint never overflows; the
    // BigInt reference has no such assumption, so agreement on texts
    // mixing ASCII, Latin-1, CJK, and supplementary-plane code
    // points proves the assumption and the code-point stepping.
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val s = spark; import s.implicits._
    val genPiece: Gen[String] = Gen.frequency(
      8 -> Gen.alphaNumChar.map(_.toString),
      1 -> Gen.oneOf("é", "ß", "中", "文", "𝕏", "😀"),
      1 -> Gen.const(" "))
    val genText = Gen.chooseNum(0, 40)
      .flatMap(n => Gen.listOfN(n, genPiece).map(_.mkString))
    val texts = (1 to 60).map(i => sample(genText, i.toLong))
    val rows = texts.toDF("text")
      .select(col("text"),
        graft.functions.GraftFunctions.rollingFingerprint(col("text"))
          .as("fp"))
      .collect()
    val p = BigInt(1000000007)
    def ref(t: String): Long =
      if (t.isEmpty) ((BigInt(7) * 31) mod p).toLong
      else {
        var acc = BigInt(7)
        var i = 0
        while (i < t.length) {
          val cp = t.codePointAt(i)
          acc = (acc * 31 + cp) mod p
          i += Character.charCount(cp)
        }
        acc.toLong
      }
    rows.foreach(r => assert(r.getLong(1) == ref(r.getString(0)),
      s"fold diverges from BigInt reference on '${r.getString(0)}'"))
  }

  test("property: gridCell bins by exact floor division on random" +
      " positions") {
    val s = spark; import s.implicits._
    val genPos = for {
      lat <- Gen.chooseNum(-9000, 8999).map(_ / 100.0)
      lon <- Gen.chooseNum(-18000, 17999).map(_ / 100.0)
    } yield (lat, lon)
    val cases = (1 to 100).map(i => sample(genPos, i.toLong))
    val rows = cases.toDF("lat", "lon")
      .select(col("lat"), col("lon"),
        graft.functions.Geo.gridCell(col("lat"), col("lon"), 30.0)
          .as("cell"))
      .collect()
    rows.foreach { r =>
      val (lat, lon) = (r.getDouble(0), r.getDouble(1))
      val Array(la, lo) = r.getString(2).split(":").map(_.toLong)
      assert(la == math.floor(lat / 30.0).toLong
        && lo == math.floor(lon / 30.0).toLong,
        s"cell ${r.getString(2)} wrong for ($lat, $lon)")
    }
  }

  test("property: degree-oriented triangle counts == brute force on" +
      " random graphs") {
    val s = spark; import s.implicits._
    // Dense-ish random graphs with a deliberate hub (vertex 0 joins
    // everything it can) so the orientation's hub handling is
    // actually exercised, plus hash-random edges.
    (1 to 3).foreach { trial =>
      val gen = for {
        n <- Gen.chooseNum(6, 14)
        pairs = for (i <- 0L until n; j <- i + 1 until n) yield (i, j)
        keep <- Gen.listOfN(pairs.size, Gen.prob(0.4))
      } yield pairs.zip(keep).filter(_._2).map(_._1)
      val edges = sample(gen, trial.toLong)
      val expected = {
        val es = edges.toSet
        val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
        val counts = scala.collection.mutable.Map
          .empty[Long, Long].withDefaultValue(0L)
        for {
          a <- verts; b <- verts if a < b; c <- verts if b < c
          if es((a, b)) && es((b, c)) && es((a, c))
        } Seq(a, b, c).foreach(v => counts(v) += 1)
        counts.toMap
      }
      val got = GeoOps.triangleCounts(edges.toDF("u1", "u2"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected,
        s"trial $trial: oriented counts diverge from brute force " +
          s"on ${edges.size} edges")
    }
  }

  test("property: repetition metrics == independent Scala counts on" +
      " random docs") {
    val s = spark; import s.implicits._
    val genDoc = for {
      n <- Gen.chooseNum(3, 40)
      // tiny vocab forces real duplicate grams
      ws <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d"))
    } yield ws.mkString(" ")
    val docs = (1 to 80).map(i => (i.toLong, sample(genDoc, i.toLong)))
    val out = TextOps.repetitionMetrics(docs.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    def frac(grams: Seq[String]): Double = {
      val v = 1.0 - grams.distinct.size.toDouble / grams.size
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    docs.foreach { case (id, text) =>
      val ws = text.split(" ").toSeq
      val bi = ws.sliding(2).map(_.mkString(" ")).toSeq
      val tri = ws.sliding(3).map(_.mkString(" ")).toSeq
      assert(out(id) == ((ws.size, frac(ws), frac(bi), frac(tri))),
        s"doc $id metrics diverge from the reference counts")
    }
  }

  test("property: an exact copy of a benchmark doc is fully" +
      " contaminated; disjoint-vocab docs never flag") {
    val s = spark; import s.implicits._
    val genWords = Gen.listOfN(12, Gen.oneOf("k1", "k2", "k3", "k4"))
    (1 to 3).foreach { trial =>
      val benchText = sample(genWords, trial.toLong).mkString(" ")
      val cleanText = Seq.fill(12)("z9").mkString(" ")
      val docs = Seq(
        (0L, benchText),  // bench (0 % 5 == 0)
        (1L, benchText),  // verbatim copy -> every shingle hits
        (2L, cleanText)   // disjoint vocab -> zero hits
      ).toDF("doc_id", "text")
      val out = TextOps.contaminationReport(docs, benchMod = 5)
        .collect()
        .map(r => r.getLong(0) -> (r.getDouble(4), r.getInt(5))).toMap
      assert(out(1L) == ((1.0, 1)), s"trial $trial: copy not fully flagged")
      assert(out(2L) == ((0.0, 0)), s"trial $trial: clean doc flagged")
    }
  }

  test("property: zoneComponents == BFS reachability closure on" +
      " random lane graphs") {
    val s = spark; import s.implicits._
    val genEdge = for {
      a <- Gen.chooseNum(0, 19)
      b <- Gen.chooseNum(0, 19)
    } yield (f"z$a%02d", f"z$b%02d", 1L)
    (1 to 3).foreach { trial =>
      val edges = sample(Gen.listOfN(25, genEdge), 100L + trial)
      // independent reference: BFS over the undirected graph
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val adj = nodes.map(n => n -> edges.collect {
        case (a, b, _) if a != b && (a == n || b == n) =>
          if (a == n) b else a
      }.distinct).toMap
      val expected = nodes.map { n =>
        var seen = Set(n); var frontier = Set(n)
        while (frontier.nonEmpty) {
          frontier = frontier.flatMap(adj).diff(seen)
          seen ++= frontier
        }
        n -> seen.min
      }.toMap
      val sizes = expected.groupBy(_._2).map { case (c, m) => c -> m.size }
      val lanes = edges.toDF("o_zone", "d_zone", "w")
      val localMax = if (trial % 2 == 0) Long.MaxValue else 0L
      val got = GeoOps.zoneComponents(lanes, localMaxEdges = localMax)
        .collect()
        .map(r => r.getString(0) -> (r.getString(1), r.getLong(2)))
        .toMap
      val want = expected.map { case (n, c) =>
        n -> (c, sizes(c).toLong)
      }
      assert(got == want, s"trial $trial: components diverge from BFS")
      // the shared solver itself, on String nodes
      val labels = Graph.ccFixedPoint[String](
          Graph.symmetric(lanes, "o_zone", "d_zone"),
          localMaxEdges = localMax)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(labels == expected,
        s"trial $trial: solver labels diverge from BFS")
    }
  }

  test("property: zoneRank == dense-matrix integer power iteration" +
      " on random weighted digraphs") {
    val s = spark; import s.implicits._
    val genEdge = for {
      a <- Gen.chooseNum(0, 11)
      b <- Gen.chooseNum(0, 11)
      w <- Gen.chooseNum(1L, 9L)
    } yield (f"z$a%02d", f"z$b%02d", w)
    (1 to 3).foreach { trial =>
      val edges = sample(Gen.listOfN(20, genEdge), 200L + trial)
        .groupBy(e => (e._1, e._2))
        .map { case ((a, b), es) => (a, b, es.map(_._3).sum) }.toSeq
      // independent reference: dense arrays, same integer recurrence
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val idx = nodes.zipWithIndex.toMap
      val outW = edges.groupBy(_._1).map { case (a, es) =>
        a -> es.map(_._3).sum }
      var r = Array.fill(nodes.size)(1000000L)
      (1 to 10).foreach { _ =>
        val acc = Array.fill(nodes.size)(0L)
        edges.foreach { case (a, b, w) =>
          acc(idx(b)) += r(idx(a)) * w / outW(a)
        }
        r = acc.map(sv => 150000L + 850000L * sv / 1000000L)
      }
      val want = nodes.map(n => n -> r(idx(n))).toMap
      val got = GeoOps.zoneRank(edges.toDF("o_zone", "d_zone", "w"),
        iters = 10,
        localMaxEdges = if (trial % 2 == 0) Long.MaxValue else 0L)
        .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
      assert(got == want, s"trial $trial: ranks diverge from the" +
        " dense reference")
    }
  }
}
