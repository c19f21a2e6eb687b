package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Dedup operators: exact keep-min, MinHash LSH recall on planted
  * near-duplicates, SimHash proximity. */
class DedupSpec extends SparkSpec {

  import spark.implicits._

  private val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
    "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron")

  /** Driver-side union-find: (doc_id, component minimum) for every
    * endpoint of `pairs` — the independent reference the connected-
    * components tests compare [[Dedup.dupClusters]] against. Each merge
    * hangs the larger root under the smaller, so a root is always its
    * component's minimum. */
  private def unionFind(pairs: Seq[(Long, Long)]): Set[(Long, Long)] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toList.map(x => x -> find(x)).toSet
  }

  /** Deterministic random-ish doc from a seed. */
  private def doc(seed: Int, nTokens: Int = 40): String = {
    val rng = new scala.util.Random(seed)
    Seq.fill(nTokens)(vocab(rng.nextInt(vocab.size))).mkString(" ")
  }

  test("exact dedup keeps min id and counts duplicates") {
    val docs = Seq((1L, "x"), (2L, "y"), (3L, "x"), (4L, "x")).toDF("doc_id", "text")
    val out = Dedup.exact(docs, "doc_id", "text").orderBy("keep_id").collect()
    assert(out.length === 2)
    assert(out(0).getLong(1) === 1L && out(0).getLong(2) === 3L) // "x": keep 1, 3 copies
    assert(out(1).getLong(1) === 2L && out(1).getLong(2) === 1L)
  }

  test("LSH finds planted near-duplicates and scores them high") {
    // 30 random docs + 5 planted near-dup pairs (one token changed)
    val base = (0 until 30).map(i => (i.toLong, doc(i)))
    val nearDups = (0 until 5).map { i =>
      val orig = doc(i)
      val toks = orig.split(" ")
      toks(toks.length / 2) = "CHANGED"
      ((100 + i).toLong, toks.mkString(" "))
    }
    val docs = (base ++ nearDups).toDF("doc_id", "text")
    val pairs = Dedup.lshPairs(docs, "doc_id", "text",
      numBands = 4, minJaccard = 0.5).collect()
    val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 5).foreach { i =>
      assert(found.contains((i.toLong, (100 + i).toLong)),
        s"planted pair ($i, ${100 + i}) not found; got ${found.mkString(",")}")
    }
    // every reported pair is genuinely similar
    pairs.foreach(r => assert(r.getDouble(2) >= 0.5))
  }

  test("LSH reports no high-jaccard pairs among unrelated docs") {
    val docs = (0 until 30).map(i => (i.toLong, doc(i, 60))).toDF("doc_id", "text")
    val pairs = Dedup.lshPairs(docs, "doc_id", "text",
      numBands = 4, minJaccard = 0.8).collect()
    assert(pairs.isEmpty, s"unexpected pairs: ${pairs.mkString(",")}")
  }

  test("dupClusters labels connected components with the min doc_id") {
    import spark.implicits._
    // components: {1,2,3} (chain), {10,11}, and 20-20 self-free singleton pair graph
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
      .toDF("a_id", "b_id")
    val out = Dedup.dupClusters(pairs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq === Seq(
      (1L, 1L), (2L, 1L), (3L, 1L),
      (10L, 10L), (11L, 10L),
      (20L, 20L), (21L, 20L)))
  }

  test("dupClusters converges on a long chain (diameter > 2)") {
    import spark.implicits._
    val chain = (0L until 12L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("a_id", "b_id")
    val out = Dedup.dupClusters(chain).collect()
    assert(out.length === 12)
    out.foreach(r => assert(r.getLong(1) === 0L))
  }

  test("dupClusters equals a union-find reference") {
    import spark.implicits._
    // a dense and a sparse random graph (many small components)
    Seq((97, 300, 80), (31, 60, 150)).foreach { case (seed, n, nodes) =>
      val rnd = new scala.util.Random(seed)
      val pairs = (1 to n).map { _ =>
        val a = rnd.nextInt(nodes).toLong; val b = rnd.nextInt(nodes).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct
      val got = Dedup.dupClusters(pairs.toDF("a_id", "b_id"))
        .as[(Long, Long)].collect().toSet
      assert(got === unionFind(pairs), s"seed $seed")
    }
  }

  test("dupClusters keeps a self-pair's doc as its own cluster") {
    import spark.implicits._
    // 5 and 9 appear only in self-pairs; 2's self-pair rides along with
    // its real edge; (8, 7) arrives in descending orientation
    val pairs = Seq((1L, 2L), (2L, 2L), (5L, 5L), (9L, 9L), (9L, 9L), (8L, 7L))
    val got = Dedup.dupClusters(pairs.toDF("a_id", "b_id"))
      .as[(Long, Long)].collect()
    assert(got.length === 6, "one row per doc")
    assert(got.toSet === Set((1L, 1L), (2L, 1L), (5L, 5L), (9L, 9L),
      (7L, 7L), (8L, 7L)))
    assert(got.toSet === unionFind(pairs))
  }

  test("dupClusters converges in O(log n) rounds on a diameter-60 chain") {
    import spark.implicits._
    // one round per unit of diameter would need 60; star contraction
    // finishes well inside its round cap
    val chain = (0L until 60L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("a_id", "b_id")
    val out = Dedup.dupClusters(chain).as[(Long, Long)].collect()
    assert(out.length === 60)
    assert(out.forall(_._2 === 0L))
  }

  test("percolationClusters equals per-threshold dupClusters, random weighted graphs") {
    import spark.implicits._
    // random jac weights exercise all three shortcut tiers: levels that
    // admit new edges (contracted CC), levels whose edge set is unchanged
    // (count-equal reuse), and an empty strictest level (90 > max jac)
    val rnd = new scala.util.Random(173)
    val weighted = (1 to 200).map { _ =>
      val a = rnd.nextInt(60).toLong; val b = rnd.nextInt(60).toLong
      (math.min(a, b), math.max(a, b), rnd.nextInt(80) / 100.0)
    }.filter(p => p._1 != p._2).distinctBy(p => (p._1, p._2))
    val pairs = weighted.toDF("a_id", "b_id", "jac")
    val sweep = Dedup.percolationClusters(pairs, Seq(90, 70, 45, 45, 20, 5))
    assert(sweep.map(_._1) === Seq(90, 70, 45, 20, 5))
    sweep.foreach { case (pct, clu) =>
      val direct = unionFind(weighted.collect {
        case (a, b, jac) if jac >= pct / 100.0 => (a, b)
      })
      val got = clu.as[(Long, Long)].collect().toSet
      assert(got === direct, s"threshold $pct")
    }
    graft.operators.OperatorCaches.release()
  }

  test("lshPairsAgainst pairs only across sides") {
    import spark.implicits._
    val mk = (id: Long, words: String) => (id, words)
    val nw = Seq(
      mk(100L, "the quick brown fox jumps over the lazy dog again today"),
      mk(101L, "completely unrelated content with different words entirely here")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      mk(1L, "the quick brown fox jumps over the lazy dog again tomorrow"),
      mk(2L, "the quick brown fox jumps over the lazy dog again today"),
      mk(3L, "another separate corpus document with its own vocabulary")
    ).toDF("doc_id", "text")
    val out = Dedup.lshPairsAgainst(nw, corpus, "doc_id", "text",
      minJaccard = 0.3)
      .orderBy("new_id", "corpus_id")
      .as[(Long, Long, Double)].collect()
    // 100 matches corpus 1 and 2 (near/exact dup); 101 matches nothing;
    // corpus 1–2 (near-dups of each other) are NOT paired
    assert(out.map(p => (p._1, p._2)).toSeq === Seq((100L, 1L), (100L, 2L)))
    assert(out.forall(_._3 >= 0.3))
  }

  test("exactNormalized collapses case/punctuation/whitespace variants") {
    val docs = Seq(
      (1L, "Hello,  World!"),
      (2L, "hello world"),
      (3L, "HELLO -- WORLD"),
      (4L, "goodbye world")).toDF("doc_id", "text")
    val out = Dedup.exactNormalized(docs, "doc_id", "text")
      .orderBy("keep_id").collect()
    assert(out.length === 2)
    assert(out(0).getLong(1) === 1L && out(0).getLong(2) === 3L)
    assert(out(1).getLong(1) === 4L && out(1).getLong(2) === 1L)
  }

  test("dupClusters on an empty pair frame returns an empty result (no NPE)") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    assert(Dedup.dupClusters(empty).count() === 0)
  }

  test("applyClusters keeps canonical members and never-paired rows") {
    import spark.implicits._
    val docs = (1L to 6L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a_id", "b_id")
    val kept = Dedup.applyClusters(docs, "doc_id", Dedup.dupClusters(pairs))
      .select("doc_id").as[Long].collect().sorted
    // clusters {1,2,3} keep 1, {5,6} keep 5; 4 was never paired
    assert(kept.toSeq === Seq(1L, 4L, 5L))
  }

  test("simhash of a near-duplicate stays within small hamming distance") {
    val a = doc(7, 50)
    val b = { val t = a.split(" "); t(10) = "CHANGED"; t.mkString(" ") }
    val c = doc(99, 50)
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val codes = Dedup.simhashCodes(df, "doc_id", "text", 16)
      .orderBy("doc_id").select("simhash16").as[Long].collect()
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(codes(0), codes(1)) <= 4,
      s"near-dup hamming ${ham(codes(0), codes(1))}")
  }

  test("sortedNeighborPairs finds adjacent near-dups and is partitioning-invariant") {
    import spark.implicits._
    // Near-identical texts (shared prefix) sort adjacent regardless of id;
    // the unrelated doc sits far away in sort order.
    val docs = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (99L, "alpha beta gamma delta epsilon zeta eta iota"),
      (50L, "zz completely unrelated words over here today")
    ).toDF("doc_id", "text")
    val out = Dedup.sortedNeighborPairs(docs, "doc_id", "text",
        window = 2, minJaccard = 0.3)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSeq
    // a_id = lower RANK (sort order), not lower id: "…eta iota" < "…eta theta"
    assert(out === Seq((99L, 10L)))
    // rank is a total order → result is invariant to input partitioning
    val re = withShufflePartitions(3) {
      Dedup.sortedNeighborPairs(docs.repartition(7), "doc_id", "text",
          window = 2, minJaccard = 0.3)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSeq
    }
    assert(re === out)
    graft.operators.OperatorCaches.release()
  }

  test("editDistancePairs finds all lev-1 pairs (subs AND inserts), no false positives") {
    import spark.implicits._
    val names = Seq(
      (1L, "alpha-001"), (2L, "alpha-002"),  // 1 substitution
      (3L, "alpha-101"),                     // 1 substitution from 1
      (6L, "blpha-001"),                     // 1 substitution from 1 (first seg)
      (4L, "bravo-001"),                     // dist 4 from the alphas
      (5L, "alpha-0012")                     // 1 INSERTION from 1 and 2 — cross-length legs
    ).toDF("id", "name")
    val out = Dedup.editDistancePairs(names, "id", "name")
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    // 2↔3 differ by TWO substitutions; 4 matches nothing; 5 is one insert
    // from both 1 (append '2') and 2 (insert '1')
    assert(out === Set((1L, 2L), (1L, 3L), (1L, 6L), (1L, 5L), (2L, 5L)))
  }

  test("editDistancePairs maxDist=2 equals brute force incl. insert/delete pairs") {
    import spark.implicits._
    val raw = Seq("Supplier#1", "Supplier#12", "Supplier#13", "Supplier#120",
      "Supplier#124", "Supplier#9", "Vendor#12", "Supplier#9124",
      "Supplxer#12", "Suppler#12")
    val names = raw.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "name")
    val got = Dedup.editDistancePairs(names, "id", "name", maxDist = 2)
      .select("a_id", "b_id", "dist").as[(Long, Long, Int)].collect().toSet
    // brute-force truth over all pairs (no caps hit at this size)
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1, b.length + 1)((i, j) => i + j)
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    val want = (for {
      i <- raw.indices; j <- raw.indices if i < j
      d = lev(raw(i), raw(j)) if d <= 2
    } yield (i.toLong, j.toLong, d)).toSet
    assert(want.exists { case (_, _, d) => d > 0 } &&
      want.exists { case (a, b, _) => raw(a.toInt).length != raw(b.toInt).length })
    assert(got === want)
    graft.operators.OperatorCaches.release()
  }

  test("editDistancePairs caps hot index buckets; recall rides the selective segment") {
    import spark.implicits._
    // constant first half ("AAAA-") would bucket the whole table in slot 0;
    // the cap drops that index bucket, and pairs differing in one digit also
    // disagree on the second segment — the documented trade-off: no pairs
    // survive a fully-degenerate key
    val names = (0 until 30).map(i => (i.toLong, f"AAAA-$i%04d")).toDF("id", "name")
    val out = Dedup.editDistancePairs(names, "id", "name", maxBucketSize = 10)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(out.isEmpty)
    // with the default (uncapped at this size) the same table yields its
    // true lev-1 pairs through the slot-0 bucket — cap is the only delta
    val full = Dedup.editDistancePairs(names, "id", "name")
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(full.nonEmpty && full.forall { case (a, b) =>
      f"AAAA-$a%04d".zip(f"AAAA-$b%04d").count { case (x, y) => x != y } == 1 })
    graft.operators.OperatorCaches.release()
  }

  test("minhash signature agreement rate tracks jaccard (sketch property)") {
    // identical docs agree on all signatures
    val df = Seq((1L, doc(5)), (2L, doc(5))).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(
      Dedup.shingleSets(df, "doc_id", "text"), "doc_id", 8).orderBy("doc_id").collect()
    (1 to 8).foreach(j => assert(sigs(0).getLong(j) === sigs(1).getLong(j)))
  }

  test("lshRecall: truth ⊇ hits, flags agree with lshPairs, identical twins are found") {
    // two identical docs MUST be recalled (all signatures agree → every
    // band collides); unrelated fillers generate no truth rows at 0.1
    val docs = Seq(
      (1L, doc(7)),
      (2L, doc(7)),
      (3L, "p q r s t u v w x y z p2 q2 r2 s2"),
      (4L, "m n o m2 n2 o2 m3 n3 o3 m4 n4 o4")
    ).toDF("doc_id", "text")
    val out = Dedup.lshRecall(docs, "doc_id", "text").collect()
    val rows = out.map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    // every reported row is a TRUE pair (ground truth is jac-filtered)
    assert(rows.forall(_._3 >= 0.1))
    assert(rows.map(t => (t._1, t._2)).contains((1L, 2L)))
    assert(rows.find(t => t._1 == 1L && t._2 == 2L).get._4 === true)
    // hit flags must agree with the production pairing, pair by pair
    val produced = Dedup.lshPairs(docs, "doc_id", "text")
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    rows.foreach { case (a, b, _, hit) =>
      assert(hit === produced.contains((a, b)),
        s"flag for ($a,$b) disagrees with lshPairs")
    }
    graft.operators.OperatorCaches.release()
  }

  test("prefixFilterPairs is lossless vs brute force, boundary pair included") {
    import org.apache.spark.sql.functions.{col, count, explode, lit, size}
    // docs 1/2 share exactly J = 2/4 = 1/2 — the >= boundary;
    // 3 is a near-twin of 1 (J > 1/2); 4 is unrelated; 5 is a distant
    // relative of 1 (J < 1/2, must be excluded)
    val docs = Seq(
      (1L, "a b c d e"),              // shingles {abc,bcd,cde}
      (2L, "b c d e f"),              // {bcd,cde,def}: inter 2, uni 4
      (3L, "a b c d e f"),            // {abc,bcd,cde,def}: vs 1 → 3/4
      (4L, "x y z w v"),
      (5L, "a b c q r s t u")         // {abc,...}: vs 1 → 1/8
    ).toDF("doc_id", "text")
    val got = Dedup.prefixFilterPairs(docs, "doc_id", "text", 1, 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    // brute force over the same shingle sets
    val sets = Dedup.shingleSets(docs, "doc_id", "text")
    val posting = sets.select(col("doc_id"), explode(col("hset")).as("h"))
    val ref = posting.as("a").join(posting.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("inter"))
      .join(sets.select(col("doc_id").as("a_id"),
        size(col("hset")).cast("long").as("na")), "a_id")
      .join(sets.select(col("doc_id").as("b_id"),
        size(col("hset")).cast("long").as("nb")), "b_id")
      .select(col("a_id"), col("b_id"), col("inter"),
        (col("na") + col("nb") - col("inter")).as("uni"))
      .filter(col("inter") * 2 >= col("uni"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    assert(got === ref)
    assert(got((1L, 2L)) === ((2L, 4L)), "the exactly-at-threshold pair")
    assert(got.contains((1L, 3L)) && !got.contains((1L, 5L)))
    graft.operators.OperatorCaches.release()
    graft.operators.FramePool.release()
  }

  test("prefixFilterPairs equals brute force on fixture docs at t=2/3") {
    import org.apache.spark.sql.functions.{col, count, explode, lit, size}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val got = Dedup.prefixFilterPairs(docs, "doc_id", "text", 2, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sets = Dedup.shingleSets(docs, "doc_id", "text")
    val posting = sets.select(col("doc_id"), explode(col("hset")).as("h"))
    val ref = posting.as("a").join(posting.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("inter"))
      .join(sets.select(col("doc_id").as("a_id"),
        size(col("hset")).cast("long").as("na")), "a_id")
      .join(sets.select(col("doc_id").as("b_id"),
        size(col("hset")).cast("long").as("nb")), "b_id")
      .filter(col("inter") * 3 >=
        (col("na") + col("nb") - col("inter")) * 2)
      .select(col("a_id"), col("b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === ref)
    assert(got.nonEmpty, "no qualifying fixture pairs — vacuous")
    graft.operators.OperatorCaches.release()
    graft.operators.FramePool.release()
  }

  test("incrementalClusters folds pair batches to one-shot CC labels") {
    // random multi-component graph arriving in 3 batches: folding batch
    // by batch (contract + CC on new pairs only) must reproduce the
    // components of every pair at once — including batches that
    // MERGE clusters formed by earlier batches — and re-folding an
    // already-folded batch must be an identity (the replay-safety claim)
    val rnd = new scala.util.Random(7)
    val all = Seq.fill(120)(
      (rnd.nextInt(60).toLong + 1, rnd.nextInt(60).toLong + 1))
      .filter { case (a, b) => a != b }
    val batches = all.grouped(40).toSeq
    var labels = Option.empty[org.apache.spark.sql.DataFrame]
    batches.foreach { b =>
      labels = Some(Dedup.incrementalClusters(labels, b.toDF("a_id", "b_id"))
        .localCheckpoint(true)) // the sink's parquet materialization stand-in
    }
    val got = labels.get.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === unionFind(all))
    assert(got.nonEmpty)
    val refolded = Dedup.incrementalClusters(labels,
      batches.last.toDF("a_id", "b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(refolded === got)
    graft.operators.OperatorCaches.release()
  }
}
