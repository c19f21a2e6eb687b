package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.TextFunctions
import graft.operators.Transforms
import graft.plans.GraftFunctions

/** Property-style tests over randomized inputs (ScalaCheck generators,
  * batched into ONE DataFrame per property so each property costs one
  * Spark job, not one per sample). The load-bearing checks recompute the
  * engine's md5-derived hash contract independently in plain Scala — the
  * cross-engine discipline every sketch builds on must also hold
  * JVM-vs-SQL, not just Spark-vs-DuckDB. */
class PropertySpec extends SparkSpec {

  import spark.implicits._

  private def sample[A](g: Gen[A], n: Int, seed: Long): List[A] =
    Gen.listOfN(n, g).pureApply(Gen.Parameters.default, Seed(seed))

  private val word: Gen[String] = for {
    len <- Gen.choose(1, 8)
    cs <- Gen.listOfN(len, Gen.alphaLowerChar)
  } yield cs.mkString

  /** Independent Scala recomputation of TextFunctions.md5Long. */
  private def md5LongScala(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(8).map("%02x".format(_)).mkString.take(15), 16)
  }

  test("md5Long: Spark column result equals an independent JVM recomputation") {
    val words = sample(word, 300, 11L).distinct
    val out = words.toDF("w")
      .select(col("w"), TextFunctions.md5Long(col("w")).as("h"))
      .as[(String, Long)].collect()
    out.foreach { case (w, h) =>
      assert(h === md5LongScala(w), s"md5Long mismatch for '$w'")
    }
  }

  test("jaccard: identity=1, symmetric, bounded in [0,1]") {
    val arr: Gen[List[String]] = Gen.nonEmptyListOf(word).map(_.distinct)
    val pairs = sample(Gen.zip(arr, arr), 200, 12L)
    val out = pairs.toDF("a", "b").select(
      TextFunctions.jaccard(col("a"), col("a")).as("jaa"),
      TextFunctions.jaccard(col("a"), col("b")).as("jab"),
      TextFunctions.jaccard(col("b"), col("a")).as("jba"))
      .as[(Double, Double, Double)].collect()
    out.foreach { case (jaa, jab, jba) =>
      assert(jaa === 1.0)
      assert(jab === jba)
      assert(jab >= 0.0 && jab <= 1.0)
    }
  }

  test("hamming: zero on self, symmetric, triangle inequality") {
    val code: Gen[Long] = Gen.choose(0L, (1L << 32) - 1)
    val triples = sample(Gen.zip(code, code, code), 300, 13L)
    val out = triples.toDF("x", "y", "z").select(
      TextFunctions.hamming(col("x"), col("x")).as("dxx"),
      TextFunctions.hamming(col("x"), col("y")).as("dxy"),
      TextFunctions.hamming(col("y"), col("x")).as("dyx"),
      TextFunctions.hamming(col("y"), col("z")).as("dyz"),
      TextFunctions.hamming(col("x"), col("z")).as("dxz"))
      .as[(Long, Long, Long, Long, Long)].collect()
    out.foreach { case (dxx, dxy, dyx, dyz, dxz) =>
      assert(dxx === 0L)
      assert(dxy === dyx)
      assert(dxz <= dxy + dyz, s"triangle violated: $dxz > $dxy + $dyz")
    }
  }

  test("minhash: Spark signature equals independent Scala recomputation") {
    val doc: Gen[String] = Gen.listOfN(20, word).map(_.mkString(" "))
    val docs = sample(doc, 60, 14L).distinct
    val df = docs.toDF("text")
      .select(col("text"), TextFunctions.tokens(col("text")).as("toks"))
      .select(col("text"), TextFunctions.shingleHashSetFromTokens(col("toks"), 3).as("hs"))
      .select(col("text"),
        TextFunctions.minhashFromHashes(
          transform(col("hs"), h => h % TextFunctions.MinhashP), 2).as("m2"))
      .as[(String, Long)].collect()
    df.foreach { case (text, m2) =>
      val toks = text.split(" ")
      val shingles = toks.sliding(3).map(_.mkString(" ")).toSeq.distinct
      val expected = shingles
        .map(s => md5LongScala(s) % TextFunctions.MinhashP)
        .map(h => (TextFunctions.MinhashA(2) * h + TextFunctions.MinhashB(2)) % TextFunctions.MinhashP)
        .min
      assert(m2 === expected, s"minhash mismatch for '$text'")
    }
  }

  test("hashBucket: in range, deterministic, equals Scala recomputation") {
    val keys = sample(Gen.choose(0L, 1000000L), 300, 15L).distinct
    val out = keys.toDF("k")
      .select(col("k"), Transforms.hashBucket(col("k")).as("b"))
      .as[(Long, Long)].collect()
    out.foreach { case (k, b) =>
      assert(b >= 0 && b < 100)
      assert(b === md5LongScala(k.toString) % 100)
    }
  }

  test("winnowing: fingerprints are a subset of the hash sequence, correctly sized") {
    val doc: Gen[String] = for {
      n <- Gen.choose(3, 40)
      ws <- Gen.listOfN(n, word)
    } yield ws.mkString(" ")
    val docs = sample(doc, 100, 16L).distinct
    val out = docs.toDF("text")
      .select(col("text"), TextFunctions.tokens(col("text")).as("toks"))
      .select(col("text"), TextFunctions.shingleHashSeqFromTokens(col("toks"), 3).as("hs"))
      .select(col("text"), col("hs"), TextFunctions.winnowFingerprints(col("hs"), 4).as("fps"))
      .as[(String, Seq[Long], Seq[Long])].collect()
    out.foreach { case (text, hs, fps) =>
      assert(fps.toSet.subsetOf(hs.toSet), s"fingerprint not from sequence: '$text'")
      val expectedMax = math.max(math.min(hs.size, hs.size - 3), if (hs.nonEmpty) 1 else 0)
      assert(fps.size <= math.max(expectedMax, 0))
      if (hs.nonEmpty) assert(fps.contains(hs.min)) // global min always survives
    }
  }

  test("RangeJoin.pointInInterval equals the naive predicate join on random intervals") {
    import graft.operators.RangeJoin
    // random points; random intervals including empty, inverted, huge,
    // negative, and zero-width — every shape the bin arithmetic must survive
    val pts = sample(Gen.choose(-1000.0, 1000.0), 400, 31L)
      .zipWithIndex.map { case (v, i) => (i.toLong, math.rint(v * 8) / 8) }
    val ivs = sample(for {
      a <- Gen.choose(-1200.0, 1200.0)
      w <- Gen.oneOf(Gen.choose(0.0, 5.0), Gen.choose(-300.0, 300.0),
        Gen.const(0.0), Gen.const(2500.0))
    } yield (a, a + w), 120, 32L)
      .zipWithIndex.map { case ((lo, hi), i) =>
        (i.toLong, math.rint(lo * 8) / 8, math.rint(hi * 8) / 8) }
    val p = pts.toDF("p_id", "x")
    val iv = ivs.toDF("iv_id", "lo", "hi")
    for (binWidth <- Seq(0.125, 7.3, 1000.0)) {
      val binned = RangeJoin.pointInInterval(p, "x", iv, "lo", "hi", binWidth)
        .select("p_id", "iv_id").as[(Long, Long)].collect().sorted.toSeq
      val naive = p.join(iv, col("x") >= col("lo") && col("x") <= col("hi"))
        .select("p_id", "iv_id").as[(Long, Long)].collect().sorted.toSeq
      assert(binned === naive, s"binWidth=$binWidth")
    }
  }

  test("dedupLinesGlobal is partitioning-invariant and matches a sequential fold") {
    // random docs over a tiny shared sentence vocabulary → heavy cross-doc
    // repetition, the operator's worst case
    val sentence = Gen.oneOf("alpha beta", "gamma", "delta eps", "zeta",
      "eta theta", "iota")
    val doc = Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, sentence))
    val docs = sample(doc, 80, 23L).zipWithIndex
      .map { case (ss, i) => (i.toLong, ss.mkString(". ")) }
    val df = docs.toDF("doc_id", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Quality.dedupLinesGlobal(d, "doc_id", "text")
        .orderBy("doc_id")
        .as[(Long, Long, Long, String)].collect().toSeq
    val a = run(df)
    val b = run(df.repartition(13))
    assert(a === b, "result changed under repartition")
    // sequential reference: first global (doc, pos) occurrence wins
    val seen = scala.collection.mutable.Set[String]()
    val expected = docs.map { case (id, text) =>
      val lines = text.split(java.util.regex.Pattern.quote(". "), -1)
      val kept = lines.filter(l => seen.add(l))
      (id, lines.length.toLong, kept.length.toLong, kept.mkString(". "))
    }
    assert(a === expected)
  }

  test("Postings pool equals a from-scratch recompute of tf/df/dl") {
    graft.operators.FramePool.release()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val ix = graft.operators.Postings.forCorpus(docs, "doc_id", "text")
    val fresh = docs
      .select(col("doc_id").as("doc"), explode(split(col("text"), " ")).as("term"))
      .groupBy("term", "doc").agg(count(lit(1)).as("tf"))
    assert(ix.tf.orderBy("term", "doc").collect().toSeq ===
      fresh.orderBy("term", "doc").collect().toSeq)
    assert(ix.tt.head().getLong(0) ===
      fresh.agg(sum("tf")).head().getLong(0))
    graft.operators.FramePool.release()
  }

  test("mergeTermStats is split-invariant: any disjoint batching merges to the direct stats") {
    graft.operators.FramePool.release()
    val word3 = Gen.oneOf("ash", "birch", "cedar", "dale", "elm", "fern")
    val doc = Gen.choose(1, 10).flatMap(n => Gen.listOfN(n, word3))
    val docs = sample(doc, 60, 41L).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
    val df = docs.toDF("doc_id", "text")
    val direct = graft.operators.InvertedIndex
      .termStats(df, "doc_id", "text", minDf = 2L, pooled = false)
      .orderBy("term").collect().toSeq
    // three different disjoint batchings, including a 3-way split
    val splits = Seq(Seq(20L), Seq(45L), Seq(15L, 40L))
    splits.foreach { cuts =>
      val bounds = (Long.MinValue +: cuts.sorted) :+ Long.MaxValue
      val parts = bounds.sliding(2).map { case Seq(lo, hi) =>
        graft.operators.InvertedIndex.termStats(
          df.filter(col("doc_id") >= lo && col("doc_id") < hi),
          "doc_id", "text", minDf = 1L, pooled = false)
      }.toSeq
      val merged = graft.operators.InvertedIndex
        .mergeTermStats(parts, minDf = 2L)
        .orderBy("term").collect().toSeq
      assert(merged === direct, s"split at $cuts diverged")
    }
  }

  test("graft_dot equals an exact Scala left-fold on random vectors") {
    GraftFunctions.ensureRegistered(spark)
    val vec: Gen[Array[Double]] =
      Gen.listOfN(24, Gen.choose(-10.0, 10.0)).map(_.toArray)
    val pairs = sample(Gen.zip(vec, vec), 150, 17L)
    val out = pairs.toDF("a", "b")
      .select(col("a"), col("b"), GraftFunctions.dotNative(col("a"), col("b")).as("d"))
      .as[(Array[Double], Array[Double], Double)].collect()
    out.foreach { case (a, b, d) =>
      var s = 0.0
      var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      assert(d === s, "graft_dot diverged from sequential fold")
    }
  }
}
