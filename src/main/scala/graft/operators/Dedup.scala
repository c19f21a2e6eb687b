package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Deduplication operators over a (idCol, textCol) document table.
  *
  * Scale shapes (all shuffle-by-derived-key, never O(n²)):
  *  - exact: groupBy md5(content) — fixed-width shuffle key
  *  - MinHash LSH: shingle-hash once → signatures → explode (band, value) →
  *    per-band equi-join → candidate pairs → exact Jaccard on survivors
  *  - SimHash: one 64/16-bit code per doc; near-dup pairing happens on
  *    code-prefix buckets at scale
  */
object Dedup {

  /** doc_id + distinct 60-bit shingle-hash set. The hashing runs through
    * the native graft_shingle_hashes kernel (one JVM loop + one reused
    * MessageDigest per row — bit-identical to the HOF formulation, which
    * remains in TextFunctions as the cross-checked reference); distinct
    * via the codegen'd array_distinct over the long array. */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame = {
    docs
      .filter(size(split(col(textCol), " ")) >= k)
      .select(col(idCol), split(col(textCol), " ").as("toks"))
      .select(col(idCol), array_distinct(
        graft.plans.GraftFunctions.shingleHashesNative(col("toks"), k)).as("hset"))
  }

  /** MinHash signatures m0..m{n-1} from the shingle-hash sets. Runs
    * through the native graft_minhash kernel (one JVM loop per row —
    * bit-identical to the HOF formulation
    * `minhashFromHashes(transform(hset, _ % P), j)`, which remains in
    * TextFunctions as the cross-checked reference); the signature array is
    * materialized first, then split into scalar columns by codegen'd
    * element_at. */
  def minhashSignatures(sets: DataFrame, idCol: String, numSigs: Int): DataFrame = {
    require(numSigs <= MinhashA.length,
      s"only ${MinhashA.length} hash-family parameter pairs are defined (got $numSigs)")
    sets
      .select(col(idCol),
        graft.plans.GraftFunctions.minhashNative(col("hset"), numSigs).as("__sig"))
      .select(col(idCol) +:
        (0 until numSigs).map(j => element_at(col("__sig"), j + 1).as(s"m$j")): _*)
  }

  /** Default cap on LSH bucket size: buckets larger than this are dropped
    * before the self-join. A hot band value (e.g. a boilerplate shingle
    * pattern shared by millions of docs) would otherwise make the
    * within-bucket join quadratic in the bucket; near-dup pairs inside a
    * dropped bucket are still found through their other b-1 bands. */
  val DefaultMaxBucketSize: Long = 1000L

  /** LSH candidate pairs (a_id < b_id) sharing any of `numBands` band keys,
    * with exact Jaccard computed on the candidates and filtered.
    *
    * Banding is b×r: each of the `numBands` band keys concatenates
    * `rowsPerBand` consecutive MinHash values (numSigs = b·r), so a bucket
    * collision requires r simultaneous signature matches — collision
    * probability s^r per band for true Jaccard s, keeping buckets sparse at
    * scale (r=1 single-hash buckets collide on every moderately common
    * shingle). Oversized buckets are dropped ([[DefaultMaxBucketSize]]).
    *
    * The (id, hset) projection — one md5 per shingle, the dominant cost —
    * is persisted: it feeds the signatures AND both sides of the final
    * exact-Jaccard join, and would otherwise be recomputed three times.
    * (At cluster scale prefer checkpointing to break the lineage too.)
    *
    * Cache lifecycle: the persisted intermediates (here and in
    * [[simhashPairs]] / Similarity.embeddingNearDupPairs) are registered
    * with [[OperatorCaches]] — call `OperatorCaches.release()` after
    * materializing the result to drop them (long-lived sessions running
    * unrelated corpora would otherwise accumulate cache entries). */
  /** The ONE source of the b×r band-key layout on the Spark side
    * (mirrored by the oracle generator in DedupQueries): each band key
    * concatenates `rowsPerBand` consecutive signature values with "_".
    * Returns the exploded (id, band, mv) frame from a signature frame. */
  private def bandFrame(sigs: DataFrame, idCol: String,
                        numBands: Int, rowsPerBand: Int): DataFrame =
    sigs.select(col(idCol), explode(array(
      (0 until numBands).map(j => struct(lit(j).as("band"),
        concat_ws("_",
          (0 until rowsPerBand).map(r => col(s"m${j * rowsPerBand + r}")): _*).as("mv"))): _*))
      .as("bv"))
      .select(col(idCol), col("bv.band").as("band"), col("bv.mv").as("mv"))

  /** Shingle-set frame for `docs`, POOLED across queries
    * ([[FramePool]], same plan-hash keying as [[Postings]]): the md5
    * shingle signatures are an artifact a dedup pipeline materializes
    * once per corpus and reuses for pairing, clustering, SNM, and
    * decontamination — five queries were each recomputing them. */
  private[graft] def pooledShingleSets(docs: DataFrame, idCol: String,
                                       textCol: String, k: Int): DataFrame =
    FramePool.frames(
      ("shingles", corpusKey(docs), idCol, textCol, k)) {
      Seq(idFilterParent(docs, idCol) match {
        // build the side by FILTERING the parent corpus's pooled frame
        // (per-row work commutes with an id filter) — the side frame is
        // still pooled itself, so its many downstream references scan a
        // side-sized cache, not the full parent per reference
        case Some((parent, pred)) =>
          pooledShingleSets(parent, idCol, textCol, k).filter(pred)
        case None => shingleSets(docs, idCol, textCol, k)
      })
    }.head

  /** When `docs` is a deterministic row-filter ON THE ID COLUMN over a
    * parent corpus — the `doc_id % 10` split shape every incremental
    * append/delete query uses — the per-row shingle/minhash/band work
    * COMMUTES with the filter, so a side's frames are the PARENT corpus's
    * pooled frames filtered by the same predicate. A 90/10 split's two
    * sides then share ONE full-corpus build instead of paying two
    * disjoint scans + md5 passes (and in a registry run the parent pool
    * is already warm from the batch dedup family). Guards: the predicate
    * must be deterministic, reference ONLY idCol (it must be applicable
    * to the derived frames, which carry idCol but not the text), and
    * contain no subquery; the filter is re-bound by NAME via its SQL
    * form, which is unambiguous because every derived frame has exactly
    * one column named idCol. Anything else falls back to a per-side
    * build. Recursion handles a filter-of-a-filter. */
  private def idFilterParent(docs: DataFrame,
                             idCol: String): Option[(DataFrame, Column)] =
    docs.queryExecution.analyzed match {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.condition.deterministic && f.condition.references.nonEmpty &&
            f.condition.references.forall(_.name == idCol) &&
            f.condition.find(_.isInstanceOf[
              org.apache.spark.sql.catalyst.expressions.SubqueryExpression])
              .isEmpty =>
        scala.util.Try {
          val parent = org.apache.spark.sql.GraftDatasetBridge
            .ofRows(docs.sparkSession, f.child)
          val pred = expr(f.condition.sql)
          // resolution probe: the predicate will be applied to DERIVED
          // frames that carry idCol but not the text column — force
          // analysis against an idCol-only projection here so a
          // condition whose SQL form cannot re-resolve by name falls
          // back to the per-side build instead of throwing at query
          // time (the Try previously guarded only parsing, not binding)
          parent.select(col(idCol)).filter(pred).queryExecution.analyzed
          (parent, pred)
        }.toOption
      case _ => None
    }

  /** Corpus identity for pool keys: the canonicalized analyzed plan
    * OBJECT — structural equality (Spark's `sameResult` comparison),
    * which for in-memory relations includes the data, where the plan's
    * toString (schema only) or a 32-bit semanticHash could collide. */
  private def corpusKey(docs: DataFrame) =
    docs.queryExecution.analyzed.canonicalized

  /** Pooled (shingle-set frame, band frame) for one side of an LSH
    * pairing — the shared front half of [[lshPairs]] and
    * [[lshPairsAgainst]]. Both frames are multiply referenced downstream
    * (signatures feed the bands; sets feed the exact-Jaccard joins) AND
    * shared across the dedup query family (pairs, clusters-by-two-
    * algorithms, dedup-apply, cluster sizes all start here). */
  private def lshSides(docs: DataFrame, idCol: String, textCol: String,
                       k: Int, numBands: Int, rowsPerBand: Int): (DataFrame, DataFrame) =
  {
    val sets = pooledShingleSets(docs, idCol, textCol, k)
    val bands = FramePool.frames(
      ("lshbands", corpusKey(docs), idCol, textCol, k, numBands, rowsPerBand)) {
      Seq(idFilterParent(docs, idCol) match {
        // band construction commutes with an id filter too — derive the
        // side's band frame from the parent's pooled bands (one filtered
        // cache scan) instead of re-running minhash over the side
        case Some((parent, pred)) =>
          lshSides(parent, idCol, textCol, k, numBands, rowsPerBand)
            ._2.filter(pred)
        case None =>
          bandFrame(minhashSignatures(sets, idCol, numBands * rowsPerBand),
            idCol, numBands, rowsPerBand)
      })
    }.head
    (sets, bands)
  }

  /** [[lshPairs]] pooled across queries ([[FramePool]], keyed by the
    * corpus plan + every banding parameter): the CONFIRMED near-dup pair
    * frame is the first half of the [[DupGraph]] artifact — the thing a
    * curation deployment detects once and serves to every consumer — and
    * a dozen registry queries (pairing report, clusters by two CC
    * algorithms, dedup-apply, canonical select, label spread, leakage
    * audits, modularity, cluster stars) were each re-running the
    * candidate self-join + exact-Jaccard confirm over the same pooled
    * side frames. Pair mass is bounded by the bucket caps, so the pooled
    * frame is small. Streaming per-batch callers must keep using
    * [[lshPairs]] directly (fresh batch plans would pool a key per
    * batch). */
  def pooledLshPairs(docs: DataFrame, idCol: String, textCol: String,
                     numBands: Int = 4, minJaccard: Double = 0.1, k: Int = 3,
                     rowsPerBand: Int = 2,
                     maxBucketSize: Long = DefaultMaxBucketSize): DataFrame =
    FramePool.frames(
      ("lshpairs", corpusKey(docs), idCol, textCol, numBands, minJaccard, k,
        rowsPerBand, maxBucketSize)) {
      Seq(lshPairs(docs, idCol, textCol, numBands, minJaccard, k,
        rowsPerBand, maxBucketSize))
    }.head

  def lshPairs(docs: DataFrame, idCol: String, textCol: String,
               numBands: Int = 4, minJaccard: Double = 0.1, k: Int = 3,
               rowsPerBand: Int = 2,
               maxBucketSize: Long = DefaultMaxBucketSize): DataFrame = {
    // sets and bands are persisted inside lshSides: bands is referenced
    // four times (bucket count, cap join, both self-join sides) and sets
    // three (signatures + both exact-Jaccard joins).
    val (sets, bands) = lshSides(docs, idCol, textCol, k, numBands, rowsPerBand)
    val smallBuckets = bands.groupBy(col("band"), col("mv"))
      .agg(count(lit(1)).as("bkt_n"))
      .filter(col("bkt_n") <= maxBucketSize)
      .select(col("band"), col("mv"))
    val capped = bands.join(smallBuckets, Seq("band", "mv"))
    val cand = capped.as("a").join(capped.as("b"),
        col("a.band") === col("b.band") && col("a.mv") === col("b.mv") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("a_id"), col(s"b.$idCol").as("b_id"))
      .distinct()
    cand
      .join(sets.select(col(idCol).as("a_id"), col("hset").as("a_set")), "a_id")
      .join(sets.select(col(idCol).as("b_id"), col("hset").as("b_set")), "b_id")
      .select(col("a_id"), col("b_id"), jaccard(col("a_set"), col("b_set")).as("jac"))
      .filter(col("jac") >= minJaccard)
  }

  /** LSH recall measurement — the index-acceptance metric for the MinHash
    * banding (the dedup twin of q140's ANN recall@k): against exact
    * all-pairs Jaccard ground truth, which true near-dup pairs does the
    * b×r banding actually surface? Returns one row per TRUE pair
    * (jac ≥ minJaccard): (a_id, b_id, jac, lsh_hit) — recall is the hit
    * fraction, and per-pair rows (not one aggregate) keep the whole
    * measurement hash-checkable. Precision needs no measuring: [[lshPairs]]
    * exact-confirms candidates, so every emitted pair is true by
    * construction.
    *
    * Ground truth WITHOUT a nested-loop all-pairs pass: a true pair at
    * jac ≥ minJaccard > 0 shares ≥ 1 shingle, so the exact-Jaccard truth
    * set is recoverable from the shingle POSTING self-equi-join —
    * per-pair intersection counts from one (hash-keyed, map-side-
    * combinable) aggregation, |∪| = |A| + |B| − |∩| from the per-doc set
    * sizes. Work is Σ_h m_h² over shingle co-occurrence, not m²/2 over
    * the sample (the 18 s → sub-second difference at sf0.1), and the
    * join is shuffle-partitionable by shingle at any sample size.
    *
    * `docs` should be a bounded FIXED-SIZE evaluation sample (the
    * deterministic md5-rank top-k of [[Transforms.hashTopK]] keeps it
    * reproducible AND constant-size — a rate-bounded sample's pair set
    * grows quadratically with the corpus, the scale-killer hashTopK's
    * doctrine exists to prevent): a corpus-wide truth pass pays the
    * full co-occurrence mass that banding exists to avoid — measuring
    * recall on a sample is the harness's standard privilege (q140's
    * brute-force oracle, same deal). The banding under test runs
    * through the same pooled shingle/band frames as production
    * [[lshPairs]].
    */
  def lshRecall(docs: DataFrame, idCol: String, textCol: String,
                numBands: Int = 4, minJaccard: Double = 0.1, k: Int = 3,
                rowsPerBand: Int = 2,
                maxBucketSize: Long = DefaultMaxBucketSize): DataFrame = {
    val sets = pooledShingleSets(docs, idCol, textCol, k)
    val sizes = sets.select(col(idCol), size(col("hset")).cast("long").as("n"))
    // hset is distinct (shingleSets) → the co-occurrence count IS |∩|
    val posting = sets.select(col(idCol), explode(col("hset")).as("h"))
    val inter = posting.as("a").join(posting.as("b"),
        col("a.h") === col("b.h") && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("a_id"), col(s"b.$idCol").as("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("inter"))
    val truth = inter
      .join(sizes.select(col(idCol).as("a_id"), col("n").as("na")), "a_id")
      .join(sizes.select(col(idCol).as("b_id"), col("n").as("nb")), "b_id")
      .select(col("a_id"), col("b_id"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double")).as("jac"))
      .filter(col("jac") >= minJaccard)
    val hits = lshPairs(docs, idCol, textCol, numBands, minJaccard, k,
      rowsPerBand, maxBucketSize)
      .select(col("a_id"), col("b_id"), lit(true).as("lsh_hit"))
    truth.join(hits, Seq("a_id", "b_id"), "left")
      .select(col("a_id"), col("b_id"), col("jac"),
        coalesce(col("lsh_hit"), lit(false)).as("lsh_hit"))
  }

  /** EXACT-threshold Jaccard similarity self-join via PREFIX FILTERING
    * (the AllPairs/PPJoin family, Bayardo et al. / Chaudhuri et al.) —
    * the LOSSLESS counterpart to [[lshPairs]]: every pair with
    * J ≥ num/den is returned, none missed, no banding probability. The
    * pruning argument: order each doc's shingles by ascending global
    * document frequency (rarest first, hash tiebreak); if J(x,y) ≥ t
    * then |x∩y| ≥ t·|x∪y| ≥ t·|x|, while the tokens of x OUTSIDE its
    * first |x| − ⌈t·|x|⌉ + 1 (the PREFIX) number only ⌈t·|x|⌉ − 1
    * < t·|x| — so at least one SHARED token sits inside x's prefix,
    * and probing prefix-tokens against the full posting list finds
    * every qualifying pair from the probe side alone. Work is
    * Σ_token prefix(t)·posting(t) instead of Σ posting(t)²; the
    * rarity order is what makes it collapse — hot boilerplate
    * shingles almost never make a prefix. A length filter
    * (den·min ≥ num·max, since J ≤ min/max) prunes candidates before
    * the exact verify.
    *
    * The threshold is a RATIONAL num/den so prefix lengths, the
    * length filter, and the final test (den·|∩| ≥ num·|∪|) are all
    * exact integers — no floating point anywhere, which is what lets
    * q239's oracle compute the ground truth BRUTE-FORCE in DuckDB and
    * hash-compare: result-set equality IS the losslessness proof.
    * Returns (a_id, b_id, inter, uni), a_id < b_id.
    *
    * Operational rule at scale: the EXACT join's output is quadratic
    * in duplicate-GROUP size by semantics (a group of g identical docs
    * is g(g−1)/2 qualifying pairs — no algorithm can return less and
    * stay exact; the 10×-twin probe measured ~1000× output growth at
    * 10.4× wall). On a heavily duplicated corpus run exact dedup
    * ([[exact]]/q30) first, then the threshold join on survivors. */
  def prefixFilterPairs(docs: DataFrame, idCol: String, textCol: String,
                        jacNum: Int, jacDen: Int, k: Int = 3): DataFrame = {
    require(jacNum >= 1 && jacNum <= jacDen,
      s"threshold must be a rational in (0, 1] (got $jacNum/$jacDen)")
    val sets = pooledShingleSets(docs, idCol, textCol, k)
    val sizes = sets.select(col(idCol), size(col("hset")).cast("long").as("n"))
    // NOT persisted: re-exploding the pooled set arrays per consumer is
    // cheaper than writing + rescanning the exploded rows (A/B'd at
    // sf0.1 — the cached exploded form is wider than the arrays it came
    // from, and the pooled sets frame it explodes is already cached)
    val posting = sets.select(col(idCol), explode(col("hset")).as("h"))
    val dfreq = posting.groupBy(col("h")).agg(count(lit(1)).as("df"))
    // per-doc rarity rank — the window partitions by doc, bounded by
    // the doc's own shingle count
    val ranked = posting.join(dfreq, Seq("h"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
          .orderBy(asc("df"), asc("h"))))
    val prefix = ranked
      .join(sizes, Seq(idCol))
      // L = n − ⌈t·n⌉ + 1 in exact integers (DIV, not /: Spark's / on
      // longs is double division)
      .filter(col("rnk") <=
        col("n") - expr(s"(n * $jacNum + ${jacDen - 1}) DIV $jacDen")
          + lit(1L))
      .select(col(idCol), col("h"))
    val cand = prefix.as("a").join(posting.as("b"),
        col("a.h") === col("b.h") && col(s"a.$idCol") =!= col(s"b.$idCol"))
      .select(least(col(s"a.$idCol"), col(s"b.$idCol")).as("a_id"),
        greatest(col(s"a.$idCol"), col(s"b.$idCol")).as("b_id"))
      .distinct()
      .join(sizes.select(col(idCol).as("a_id"), col("n").as("na")), "a_id")
      .join(sizes.select(col(idCol).as("b_id"), col("n").as("nb")), "b_id")
      .filter(least(col("na"), col("nb")) * jacDen >=
        greatest(col("na"), col("nb")) * jacNum)
    cand
      .join(sets.select(col(idCol).as("a_id"), col("hset").as("a_set")), "a_id")
      .join(sets.select(col(idCol).as("b_id"), col("hset").as("b_set")), "b_id")
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("a_set"), col("b_set"))).cast("long")
          .as("inter"),
        size(array_union(col("a_set"), col("b_set"))).cast("long")
          .as("uni"))
      .filter(col("inter") * jacDen >= col("uni") * jacNum)
  }

  /** Asymmetric containment pairs: C(A→B) = |S(A)∩S(B)| / |S(A)| over the
    * k-gram shingle sets — the subset/quotation detector Jaccard cannot
    * give. A short document pasted into a long one has low Jaccard (the
    * union is large) but containment ≈ 1 in the short→long direction, so
    * this is the operator that catches boilerplate inclusion, quoted
    * replies, and chunk-of-a-larger-doc duplication in a training corpus.
    *
    * Same posting-intersection shape as [[lshRecall]]'s truth join — any
    * pair with containment > 0 shares a shingle, so |∩| comes from ONE
    * hash-keyed aggregation over the shingle-posting self-equi-join; no
    * all-pairs pass exists anywhere. Because containment is directional,
    * the join keeps BOTH orientations of each co-occurring pair
    * (`a.id =!= b.id`, not `<`) and the filter applies to the A-side size
    * only. Hot shingles are capped at `maxPostingSize` docs before the
    * self-join (the [[lshPairs]] bucket-cap move, mirrored verbatim in the
    * oracle): a stop-shingle shared by everything would otherwise
    * contribute m² join work while carrying no discrimination signal.
    *
    * At 100 TB: the self-join is shuffle-partitioned by shingle hash and
    * the cap bounds every bucket's contribution at maxPostingSize²; the
    * per-pair aggregate is map-side combinable on (a_id, b_id). Output
    * volume is governed by true overlap, never by n². */
  /** [[containmentPairs]] pooled across queries ([[FramePool]], keyed by
    * the corpus plan + parameters): the confirmed containment-pair frame
    * is the artifact a curation pipeline materializes once per corpus and
    * then reads for the drop decision, the acceptance card, and the
    * quality-gate chain — the refinery composite (q243) and the
    * classifier-gate acceptance (q280) were each re-running the posting
    * self-join over the SAME cleaned corpus. Pool size is governed by
    * true overlap (the operator's own output bound), so the pooled frame
    * is pair-mass-sized, never corpus². Per-batch streaming callers must
    * keep using [[containmentPairs]] directly — a fresh in-memory batch
    * frame canonicalizes to a fresh key every batch and would only
    * pollute the pool. */
  def pooledContainmentPairs(docs: DataFrame, idCol: String, textCol: String,
                             k: Int = 3, minContainment: Double = 0.5,
                             maxPostingSize: Long = DefaultMaxBucketSize): DataFrame =
    FramePool.frames(
      ("containment", corpusKey(docs), idCol, textCol, k, minContainment,
        maxPostingSize)) {
      Seq(containmentPairs(docs, idCol, textCol, k, minContainment,
        maxPostingSize))
    }.head

  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       k: Int = 3, minContainment: Double = 0.5,
                       maxPostingSize: Long = DefaultMaxBucketSize): DataFrame = {
    val sets = pooledShingleSets(docs, idCol, textCol, k)
    val sizes = sets.select(col(idCol), size(col("hset")).cast("long").as("n"))
    val posting = sets.select(col(idCol), explode(col("hset")).as("h"))
    val smallPostings = posting.groupBy("h")
      .agg(count(lit(1)).as("pn"))
      .filter(col("pn") <= maxPostingSize)
      .select("h")
    val capped = posting.join(smallPostings, Seq("h"))
    val inter = capped.as("a").join(capped.as("b"),
        col("a.h") === col("b.h") && col(s"a.$idCol") =!= col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("a_id"), col(s"b.$idCol").as("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col(idCol).as("a_id"), col("n").as("na")), "a_id")
      .join(sizes.select(col(idCol).as("b_id"), col("n").as("nb")), "b_id")
      .select(col("a_id"), col("b_id"), col("na"), col("nb"), col("inter"),
        (col("inter").cast("double") / col("na").cast("double"))
          .as("containment"))
      .filter(col("containment") >= minContainment)
  }

  /** Sorted-neighborhood near-dup pairs: the classic windowed-blocking
    * alternative to LSH (Hernández/Stolfo SNM). Documents are ranked in a
    * TOTAL order by a bounded normalized sort key — the [[normalizeText]]
    * form of the first `4·keyLen` RAW chars, truncated to `keyLen` (the
    * raw-prefix bound keeps key extraction O(1) per row; a prefix that is
    * >75% strippable punctuation yields a shorter key, an accepted
    * blocking trade-off), ties broken by id. Every pair within `window`
    * positions is a candidate; candidates are confirmed by exact Jaccard
    * over the k-gram shingle sets. Near-identical texts sort adjacent, so
    * the window catches them with O(n·window) candidates — no similarity
    * metric needed to block, which makes SNM the cheap complement to LSH
    * when duplicates share prefixes (crawl snapshots, versioned docs).
    *
    * Scale shape: the global rank is [[PrefixSum.rank]] — range-
    * repartition on the (bounded-width!) sort key, in-partition sort, plus
    * a P-entry offset map from the driver (partition COUNTS cross the
    * driver, never rows). The windowed self-join is an equi-join on
    * ⌊rank/window⌋ block keys (each left row emits its own and the next
    * block key, so cross-block neighbors meet); every block holds ≤ window
    * rows, so no bucket is ever hot. Both
    * shuffles move only (id, 64-char key) — the text stays columnar at
    * the scan.
    */
  def sortedNeighborPairs(docs: DataFrame, idCol: String, textCol: String,
                          window: Int = 6, minJaccard: Double = 0.1,
                          k: Int = 3, keyLen: Int = 64): DataFrame = {
    require(window >= 2, s"window must be >= 2 (got $window)")
    val sets = pooledShingleSets(docs, idCol, textCol, k)
    // The sort key normalizes only a bounded RAW prefix (4×keyLen chars —
    // headroom for punctuation the normalizer strips) before truncating to
    // keyLen: O(1) regex work per row instead of O(doc length), which is
    // what keeps key extraction flat when documents are 100 KB, and keeps
    // the double evaluation under the range exchange (sampling pass +
    // shuffle pass) free.
    val keyed = docs.select(col(idCol),
      substring(graft.plans.GraftFunctions.normalizeNative(
        substring(col(textCol), 1, keyLen * 4)), 1, keyLen).as("__sk"))
    // (sk, id) is a total order (ids unique), so the global rank below is
    // well-defined and partitioning-invariant.
    val (ranked, _) = PrefixSum.rank(keyed, Seq(col("__sk"), col(idCol)), "__rn")
    val blk = (rn: Column) => floor(rn / lit(window)).cast("long")
    val left = ranked.select(col(idCol).as("a_id"), col("__rn").as("a_rn"),
        explode(array(blk(col("__rn")), blk(col("__rn")) + 1)).as("__blk"))
    val right = ranked.select(col(idCol).as("b_id"), col("__rn").as("b_rn"),
      blk(col("__rn")).as("__blk"))
    val cand = left.join(right, "__blk")
      .filter(col("b_rn") > col("a_rn") &&
        col("b_rn") - col("a_rn") < window)
      .select(col("a_id"), col("b_id"))
    cand
      .join(sets.select(col(idCol).as("a_id"), col("hset").as("a_set")), "a_id")
      .join(sets.select(col(idCol).as("b_id"), col("hset").as("b_set")), "b_id")
      .select(col("a_id"), col("b_id"), jaccard(col("a_set"), col("b_set")).as("jac"))
      .filter(col("jac") >= minJaccard)
  }

  /** Edit-distance (full Levenshtein ≤ `maxDist`, substitutions AND
    * insert/delete) pairs for entity resolution — matching names/titles/
    * IDs that differ by typos. PassJoin-style pigeonhole blocking
    * (Li/Deng/Feng, "PassJoin: A Partition-based Method for Similarity
    * Joins", simplified):
    *
    *  - INDEX side: every string t of length L is split into
    *    `maxDist + 1` near-equal segments (slot i covers
    *    [⌊i·L/k⌋+1, ⌊(i+1)·L/k⌋], k = maxDist+1 — the same boundaries
    *    for every engine, pure integer arithmetic).
    *  - PROBE side: every string s generates, for each candidate target
    *    length L2 ∈ [len(s)−maxDist, len(s)+maxDist] and slot i, the
    *    substrings of s with slot i's TARGET-length geometry at start
    *    positions shifted by up to ±maxDist from the target start.
    *
    * Recall lemma: if lev(s,t) = e ≤ maxDist, an optimal alignment's e
    * edits touch at most e < k of t's k segments, so some segment of t
    * appears verbatim in s, displaced by at most the net
    * insertions−deletions before it (≤ e). That segment is one of s's
    * probes for (L2 = len(t), its slot), so the equi-join on
    * (slot, substring, target-length) finds every true pair; the
    * codegen'd `levenshtein` confirm then filters candidates exactly.
    * Strings shorter than `maxDist + 1` characters are excluded (some
    * segments would be empty and the pigeonhole argument needs k
    * non-empty pieces); at entity-name lengths that excludes nothing.
    *
    * Hot-bucket cap: index buckets larger than `maxBucketSize` are
    * dropped before the join — a low-entropy segment shared by
    * everything (a constant prefix like "Supplier#") would otherwise
    * make the join quadratic in the table, exactly [[lshPairs]]' hazard
    * and the same cap discipline; a pair whose every agreeing segment
    * sits in a dropped bucket is lost (documented trade-off). The probe
    * side is NOT capped — same asymmetry as [[lshPairsAgainst]]'s
    * corpus-side-only cap — so the join output is bounded by
    * probeEntries × maxBucketSize, with probeEntries ≤
    * (2·maxDist+1)²·(maxDist+1) rows per input string. */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
                        maxDist: Int = 1,
                        maxBucketSize: Long = DefaultMaxBucketSize): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1 (got $maxDist)")
    val k = maxDist + 1
    // ⌊i·L/k⌋ + 1 — 1-based segment start for slot i under length L.
    // Values are small ints: the double division is exact, cast = floor.
    def segStart(l: Column, i: Column): Column = (i * l / k).cast("int") + 1
    def segLen(l: Column, i: Column): Column = segStart(l, i + 1) - segStart(l, i)
    // base feeds the index explode, the probe explode, and both confirm
    // joins — persist (tracked) so the source is scanned once.
    val base = OperatorCaches.persistTracked(
      df.select(col(idCol), col(strCol), length(col(strCol)).as("__len"))
        .filter(col("__len") >= k))
    val idx = base
      .select(col(idCol), col(strCol), col("__len"),
        explode(sequence(lit(0), lit(k - 1))).as("__slot"))
      .select(col(idCol), col("__len"), col("__slot"),
        col(strCol).substr(segStart(col("__len"), col("__slot")),
          segLen(col("__len"), col("__slot"))).as("__seg"))
    val smallBuckets = idx.groupBy(col("__slot"), col("__seg"), col("__len"))
      .agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") <= maxBucketSize)
      .select(col("__slot"), col("__seg"), col("__len"))
    val cappedIdx = idx.join(smallBuckets, Seq("__slot", "__seg", "__len"))
    val probe = base
      .withColumn("__l2", explode(sequence(col("__len") - maxDist, col("__len") + maxDist)))
      .filter(col("__l2") >= k)
      .withColumn("__slot", explode(sequence(lit(0), lit(k - 1))))
      .withColumn("__s2", segStart(col("__l2"), col("__slot")))
      .withColumn("__slen", segLen(col("__l2"), col("__slot")))
      .withColumn("__jlo", greatest(lit(1), col("__s2") - maxDist))
      .withColumn("__jhi", least(col("__len") - col("__slen") + 1, col("__s2") + maxDist))
      .filter(col("__jlo") <= col("__jhi"))
      .withColumn("__j", explode(sequence(col("__jlo"), col("__jhi"))))
      .select(col(idCol), col("__l2"), col("__slot"),
        col(strCol).substr(col("__j"), col("__slen")).as("__sub"))
      .distinct()
    val cand = probe.as("p").join(cappedIdx.as("t"),
        col("p.__slot") === col("t.__slot") && col("p.__sub") === col("t.__seg") &&
          col("p.__l2") === col("t.__len") &&
          col(s"p.$idCol") =!= col(s"t.$idCol"))
      .select(least(col(s"p.$idCol"), col(s"t.$idCol")).as("a_id"),
        greatest(col(s"p.$idCol"), col(s"t.$idCol")).as("b_id"))
      .distinct()
    cand
      .join(base.select(col(idCol).as("a_id"), col(strCol).as("__sa")), "a_id")
      .join(base.select(col(idCol).as("b_id"), col(strCol).as("__sb")), "b_id")
      .select(col("a_id"), col("b_id"),
        levenshtein(col("__sa"), col("__sb")).as("dist"))
      .filter(col("dist") <= maxDist)
  }

  /** Rounds after which [[dupClusters]] gives up: star contraction needs
    * O(log n) rounds, so 30 covers any graph that fits a cluster. */
  private val MaxStarRounds = 30

  /** Duplicate clusters from near-dup pairs: connected components by
    * alternating large-star/small-star rounds (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014). Input is any
    * (a_id, b_id) pair frame (e.g. [[lshPairs]] output); result is
    * (doc_id, cluster_id) for every doc appearing in at least one pair,
    * cluster_id = the smallest doc_id in the component — the canonical
    * survivor a dedup pipeline keeps. A doc whose only pair is the
    * self-pair (x, x) gets (x, x).
    *
    * Per round: large-star hangs every LARGER neighbor of u onto
    * min(Γ(u) ∪ u); small-star hangs the smaller neighbors and u itself
    * onto the minimum of the smaller neighborhood. Both are one
    * groupBy(node) + one join keyed by node (the scale-safe shape), and
    * the loop converges in O(log n) rounds on any graph shape, where
    * min-label propagation needs one round per unit of component
    * diameter. The driver only coordinates the loop and reads a 1-row
    * convergence probe per round: the undirected edge set stops changing
    * (count + orientation-canonical checksum). Each round's edge sets are
    * localCheckpoint'ed: iterative DataFrames otherwise accumulate one
    * join per round into a single ever-growing plan, which blows up
    * analysis/codegen memory long before data size matters (on a
    * cluster, prefer reliable `checkpoint()` with a checkpoint dir —
    * same lineage-truncation role, executor-failure safe). A graph still
    * changing after [[MaxStarRounds]] rounds throws rather than ship
    * non-minimal cluster labels.
    */
  def dupClusters(pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // Checkpoints are LAZY: each round's fingerprint probe is the ONE
    // action that materializes that round's checkpointed edge frames —
    // eager checkpoints cost a separate materialization job per frame,
    // and on contracted/near-converged graphs the loop is pure per-job
    // overhead. Both orientations come from ONE pass over `pairs` (a
    // union of two selects would evaluate the pair pipeline, potentially
    // a full LSH run, twice); self-pairs stay in `input` for the result.
    val input = pairs
      .select(explode(array(
        struct(col("a_id").as("u"), col("b_id").as("v")),
        struct(col("b_id").as("u"), col("a_id").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .distinct()
      .localCheckpoint(eager = false)
    var edges = input.filter(col("u") =!= col("v"))

    // orientation-canonical fingerprint of the undirected edge set:
    // (count, Σ md5_60(min‖max)) — decimal sum, overflow-safe
    def fingerprint(e: DataFrame): (Long, java.math.BigDecimal) = {
      val r = e.agg(
        count(lit(1)),
        coalesce(sum(conv(substring(md5(concat_ws("_",
          least(col("u"), col("v")), greatest(col("u"), col("v")))), 1, 15), 16, 10)
          .cast(DecimalType(38, 0))), lit(java.math.BigDecimal.ZERO))).head()
      (r.getLong(0), r.getDecimal(1))
    }

    var fp = fingerprint(edges)
    var converged = fp._1 == 0L
    var round = 0
    while (!converged && round < MaxStarRounds) {
      // large-star: m(u) = min over full neighborhood ∪ self; (v, m) for
      // v > u. Every output edge points down (m ≤ u < v), so these rows
      // are already each node's SMALLER neighborhood, the only half
      // small-star reads.
      val mLarge = edges.groupBy(col("u"))
        .agg(min(col("v")).as("__mv"))
        .select(col("u"), least(col("__mv"), col("u")).as("m"))
      val smaller = edges.filter(col("v") > col("u"))
        .join(mLarge, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
        .localCheckpoint(eager = false)
      // small-star: m(u) = min over SMALLER neighborhood ∪ self;
      // (v, m) for smaller v, plus (u, m), in both orientations
      val mSmall = smaller.groupBy(col("u")).agg(min(col("v")).as("m"))
      val afterSmall = smaller.join(mSmall, "u")
        .select(explode(array(
          struct(col("v").as("u"), col("m").as("v")),
          struct(col("u"), col("m").as("v")),
          struct(col("m").as("u"), col("v")),
          struct(col("m").as("u"), col("u").as("v")))).as("p"))
        .select(col("p.u").as("u"), col("p.v").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint(eager = false)
      val fpNew = fingerprint(afterSmall)
      converged = fpNew == fp
      fp = fpNew
      edges = afterSmall
      round += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"dupClusters did not converge within $MaxStarRounds large-star/small-star " +
          "rounds — pathological input; no non-minimal cluster labels are shipped")
    // a doc whose only pair is a self-pair has no edge left in `edges`:
    // its (x, x) row labels it x, and on a doc with edges the row changes
    // nothing, since least(min(v), u) already counts u
    edges.unionByName(input.filter(col("u") === col("v")))
      .groupBy(col("u"))
      .agg(min(col("v")).as("__mv"))
      .select(col("u").as("doc_id"),
        least(col("__mv"), col("u")).as("cluster_id"))
  }

  /** [[dupClusters]] pooled across queries ([[FramePool]], keyed by the
    * pairs frame's canonicalized plan): cluster assignments are the
    * artifact a dedup pipeline materializes once and then reads for
    * pairing reports, corpus application, size audits and the
    * [[DupGraph]] artifact — every one of those queries over the same
    * pairs shares the one entry. */
  def pooledDupClusters(pairs: DataFrame): DataFrame =
    FramePool.frames(("dupclusters", pairs.queryExecution.analyzed.canonicalized)) {
      Seq(dupClusters(pairs))
    }.head

  /** Connected components at EVERY threshold of a descending sweep, each
    * incrementally from the previous — the percolation structure made
    * explicit: clusters at a looser threshold are unions of the clusters
    * at a stricter one (edge sets are nested), so full CC runs ONCE, at
    * the strictest threshold, and each looser threshold contracts the
    * previous clusters to supernodes (their min-id labels) and runs CC
    * only on the contracted graph — edges whose endpoints already share
    * a stricter-threshold label drop out before the loop ever iterates.
    * 1 full + (T−1) cheap incremental runs instead of T full ones.
    *
    * `pairs` must carry (a_id, b_id, jac) and is persisted here (tracked
    * — [[OperatorCaches.release]] drops it): the sweep reads it once per
    * threshold, and without the persist each threshold would re-run the
    * whole upstream pairing pipeline. Returns (thresholdPct →
    * (doc_id, cluster_id)) for each input threshold, cluster_id = the
    * component-minimum doc id — identical labels to running
    * [[dupClusters]] from scratch per threshold (min of mins is the
    * global min), property-tested in DedupSpec. Each level's label frame
    * is localCheckpoint'ed by [[dupClusters]]'s own discipline; the
    * composition joins below are label-keyed shuffles, never corpus-wide
    * windows. */
  def percolationClusters(pairs: DataFrame,
                          thresholdsPct: Seq[Int]): Seq[(Int, DataFrame)] = {
    val p = OperatorCaches.persistTracked(
      pairs.select(col("a_id"), col("b_id"), col("jac")))
    val desc = thresholdsPct.distinct.sorted.reverse
    // Per-threshold pair counts in ONE pass (conditional sums, one-row
    // aggregate): thresholds are nested filters over the same frame, so
    // EQUAL counts at adjacent levels mean IDENTICAL edge sets — the
    // level's cluster frame is the stricter level's, reused with zero
    // further work. This is the cheapest tier of the monotone shortcut
    // ladder (count-equal → frame reuse; contracted-empty → frame reuse;
    // else → contracted CC), and on corpora whose pair mass sits above
    // the ladder (near-exact duplicates) it collapses the sweep to one
    // CC run plus one count.
    val cntCols = desc.map(pct =>
      coalesce(sum(when(col("jac") >= pct / 100.0, 1L)), lit(0L)).as(s"c$pct"))
    val cntRow = p.agg(cntCols.head, cntCols.tail: _*).head()
    val cnt: Map[Int, Long] =
      desc.zipWithIndex.map { case (pct, i) => pct -> cntRow.getLong(i) }.toMap
    var prev: Option[DataFrame] = None // (doc_id, cluster_id) one level up
    var prevPct = -1
    desc.map { pct =>
      val e = p.filter(col("jac") >= pct / 100.0).select(col("a_id"), col("b_id"))
      val clu = prev match {
        case Some(up) if cnt(pct) == cnt(prevPct) => up
        case None => dupClusters(e)
        case Some(up) =>
          // nodes at this level = every endpoint of e. An unchanged
          // labeling is the common case once the threshold ladder out-runs
          // the corpus's similarity floor. Merged labels are lazy: the
          // caller's first aggregation (or the next level's mapping join)
          // materializes them.
          val nodes = e.select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
            .distinct()
          contractMerge(up, e, nodes).fold(up)(_.localCheckpoint(eager = false))
      }
      prev = Some(clu)
      prevPct = pct
      pct -> clu
    }
  }

  /** INCREMENTAL connected components: fold a batch of NEW pairs into an
    * existing (doc_id, cluster_id) labeling without re-running CC over
    * every pair ever seen — the [[percolationClusters]] contraction
    * applied to streaming arrivals instead of threshold levels. Existing
    * clusters contract to supernodes (their min-id labels); CC runs only
    * on the new pairs MAPPED through those labels (an endpoint without a
    * label maps to itself); the merged supernode labels then compose
    * back over (previous nodes ∪ new endpoints). Per batch the CC input
    * is |new pairs| edges over supernodes, never the accumulated graph.
    *
    * Labels are identical to `dupClusters(all pairs so far)` — the
    * min-of-mins argument: each supernode's label is already its
    * component minimum, so the contracted CC's component minimum is the
    * global one (property-tested in DedupSpec over random pair batches).
    * Replay-safe by construction: re-folding an already-folded batch
    * maps every edge to endpoints that share a label, the contracted
    * graph is empty, and the labeling returns unchanged. */
  def incrementalClusters(prev: Option[DataFrame],
                          newPairs: DataFrame): DataFrame = {
    val e = newPairs.select(col("a_id"), col("b_id"))
    prev match {
      case None => dupClusters(e)
      case Some(up) =>
        val nodes = up.select(col("doc_id"))
          .union(e.select(explode(array(col("a_id"), col("b_id")))
            .as("doc_id")))
          .distinct()
        contractMerge(up, e, nodes).getOrElse(up)
    }
  }

  /** The contraction step shared by [[percolationClusters]] and
    * [[incrementalClusters]]: map each endpoint of `e` through the
    * labeling `up` (an unlabeled endpoint maps to itself), drop edges
    * within one label, run [[dupClusters]] on the contracted graph, and
    * compose the merged labels back over `nodes`.
    *
    * None when the contracted graph is empty: every edge then has both
    * endpoints labeled AND sharing a label (an unlabeled endpoint maps to
    * itself, so any edge touching one survives contraction), so node set
    * and components are UNCHANGED and the caller reuses `up` outright —
    * one count instead of a CC run plus three composition joins. */
  private def contractMerge(up: DataFrame, e: DataFrame,
                            nodes: DataFrame): Option[DataFrame] = {
    val lab = up.select(col("doc_id"), col("cluster_id").as("lab"))
    val mapped = e
      .join(lab.select(col("doc_id").as("a_id"), col("lab").as("la")),
        Seq("a_id"), "left")
      .join(lab.select(col("doc_id").as("b_id"), col("lab").as("lb")),
        Seq("b_id"), "left")
      .select(coalesce(col("la"), col("a_id")).as("sa"),
        coalesce(col("lb"), col("b_id")).as("sb"))
    val contracted = OperatorCaches.persistTracked(
      mapped.filter(col("sa") =!= col("sb"))
        .select(col("sa").as("a_id"), col("sb").as("b_id")))
    Option.when(!contracted.isEmpty) {
      val merged = dupClusters(contracted) // supernode → merged label
        .select(col("doc_id").as("sn"), col("cluster_id").as("mlab"))
      // label = the merge of its supernode when the contracted CC touched
      // it, else the supernode label itself
      nodes
        .join(lab, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("lab"), col("doc_id")).as("sn"))
        .join(merged, Seq("sn"), "left")
        .select(col("doc_id"),
          coalesce(col("mlab"), col("sn")).as("cluster_id"))
    }
  }

  /** Incremental (bipartite) LSH dedup: candidate pairs between NEW
    * documents and an EXISTING corpus — never new×new or corpus×corpus.
    * The shape of a production ingest step: dedup today's crawl against
    * the accumulated corpus without re-pairing the corpus with itself.
    * Same b×r banding, bucket cap (applied on the corpus side, whose
    * buckets carry the scale risk), and exact-Jaccard rescoring as
    * [[lshPairs]]; output (new_id, corpus_id, jac). Both frames must
    * share the (idCol, textCol) shape; ids may overlap (they are
    * namespaced by side, not compared). */
  def lshPairsAgainst(newDocs: DataFrame, corpus: DataFrame,
                      idCol: String, textCol: String,
                      numBands: Int = 4, minJaccard: Double = 0.1, k: Int = 3,
                      rowsPerBand: Int = 2,
                      maxBucketSize: Long = DefaultMaxBucketSize): DataFrame = {
    val (newSets, newBands) = lshSides(newDocs, idCol, textCol, k, numBands, rowsPerBand)
    val (corpusSets, corpusBands) = lshSides(corpus, idCol, textCol, k, numBands, rowsPerBand)
    val smallBuckets = corpusBands.groupBy(col("band"), col("mv"))
      .agg(count(lit(1)).as("bkt_n"))
      .filter(col("bkt_n") <= maxBucketSize)
      .select(col("band"), col("mv"))
    val cand = newBands.as("a")
      .join(corpusBands.join(smallBuckets, Seq("band", "mv")).as("b"),
        col("a.band") === col("b.band") && col("a.mv") === col("b.mv"))
      .select(col(s"a.$idCol").as("new_id"), col(s"b.$idCol").as("corpus_id"))
      .distinct()
    cand
      .join(newSets.select(col(idCol).as("new_id"), col("hset").as("a_set")), "new_id")
      .join(corpusSets.select(col(idCol).as("corpus_id"), col("hset").as("b_set")), "corpus_id")
      .select(col("new_id"), col("corpus_id"),
        jaccard(col("a_set"), col("b_set")).as("jac"))
      .filter(col("jac") >= minJaccard)
  }

  /** Bipartite containment probe: C(new→corpus) = |S(new)∩S(corpus)| /
    * |S(new)| for every (new doc, corpus doc) pair sharing a shingle —
    * the incremental form of [[containmentPairs]], used by the streaming
    * ingest filter to drop arriving documents that are subsets/quotes of
    * content the corpus already holds (an arriving CHUNK of an existing
    * page has low Jaccard against it but containment ≈ 1).
    *
    * New-side postings equi-join the corpus postings on the shingle
    * hash — new×corpus pairs sharing content, never corpus×corpus. The
    * hot-shingle cap applies to the CORPUS side (the growing one); the
    * new side is a bounded micro-batch. Both inputs share the
    * (idCol, textCol) shape; ids are namespaced by side.
    *
    * Output carries BOTH sides' shingle-set sizes (`n_new`, `n_corpus`)
    * so callers can apply the batch [[containmentPairs]] family's
    * size-aware keep rule: a pair at containment ≥ 0.8 where the
    * ARRIVAL is the larger side (n_new > n_corpus) is a richer superset
    * of held content — dropping it would keep the poorer incumbent,
    * the opposite of the batch rule that only drops a doc whose
    * container is at least as large. */
  def containmentAgainst(newDocs: DataFrame, corpus: DataFrame,
                         idCol: String, textCol: String, k: Int = 3,
                         minContainment: Double = 0.8,
                         maxPostingSize: Long = DefaultMaxBucketSize): DataFrame = {
    val newSets = shingleSets(newDocs, idCol, textCol, k)
    val corpusSets = shingleSets(corpus, idCol, textCol, k)
    val np = newSets.select(col(idCol).as("new_id"), explode(col("hset")).as("h"))
    val nsz = newSets.select(col(idCol).as("new_id"),
      size(col("hset")).cast("long").as("n_new"))
    val csz = corpusSets.select(col(idCol).as("corpus_id"),
      size(col("hset")).cast("long").as("n_corpus"))
    val cpAll = corpusSets.select(col(idCol).as("corpus_id"),
      explode(col("hset")).as("h"))
    val small = cpAll.groupBy("h").agg(count(lit(1)).as("pn"))
      .filter(col("pn") <= maxPostingSize).select("h")
    val inter = np.join(cpAll.join(small, Seq("h")), "h")
      .groupBy("new_id", "corpus_id").agg(count(lit(1)).as("inter"))
    inter.join(nsz, "new_id").join(csz, "corpus_id")
      .select(col("new_id"), col("corpus_id"), col("n_new"), col("n_corpus"),
        col("inter"),
        (col("inter").cast("double") / col("n_new").cast("double"))
          .as("containment"))
      .filter(col("containment") >= minContainment)
  }

  /** Apply duplicate clusters to the corpus: keep only canonical rows
    * (cluster members whose id IS the cluster id, plus every row that was
    * never paired). A left-anti join against the non-canonical ids — the
    * terminal step of the near-dup pipeline: detect ([[lshPairs]]) →
    * cluster ([[dupClusters]]) → apply. */
  def applyClusters(docs: DataFrame, idCol: String, clusters: DataFrame): DataFrame = {
    val drop = clusters.filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /** Exact dedup: one surviving row (min id) per distinct content value. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(col(textCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))
      .select(md5(col(textCol)).as("text_md5"), col("keep_id"), col("dup_count"))

  /** Near-exact dedup by normalized content: case, punctuation, and
    * whitespace differences collapse before grouping — the standard first
    * dedup pass of a training-data pipeline, cheaper and stricter than
    * MinHash. Same groupBy-on-derived-key shuffle shape as [[exact]].
    * Normalization runs the native graft_normalize kernel (one byte pass;
    * bit-identical to TextFunctions.normalizeText's regex form, which the
    * oracle mirrors — parity in NativeSketchSpec). */
  def exactNormalized(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    docs.select(col(idCol),
        graft.plans.GraftFunctions.normalizeNative(col(textCol)).as("__norm"))
      .groupBy(col("__norm"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))
      .select(md5(col("__norm")).as("norm_md5"), col("keep_id"), col("dup_count"))
  }

  /** Per-doc SimHash codes, via the native graft_simhash kernel: one
    * tokenize + one md5 + one vote-accumulation pass per document inside
    * whole-stage codegen — bit-identical to the HOF reference
    * (`simhashFromHashes(tokenHashes(text), bits)`, which would walk the
    * hash array once per bit through interpreted lambdas; parity asserted
    * in NativeSketchSpec). */
  def simhashCodes(docs: DataFrame, idCol: String, textCol: String, bits: Int = 16): DataFrame = {
    docs.select(col(idCol),
      graft.plans.GraftFunctions.simhashNative(
        split(col(textCol), " "), bits).as(s"simhash$bits"))
  }

  /** SimHash near-dup pairs via block pigeonhole: split each `bits`-bit
    * code into `numBlocks` equal blocks; any two codes within hamming
    * distance `numBlocks - 1` must agree on at least one whole block, so
    * the per-(block, value) equi-join finds every such pair without an
    * all-pairs comparison. Exact hamming is then computed on candidates
    * and filtered to `maxHamming` (must be < numBlocks for guaranteed
    * recall). Oversized blocks are dropped, same discipline as
    * [[lshPairs]] — at 2^(bits/numBlocks) values per block the cap is the
    * guard against degenerate corpora where one code value dominates. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   bits: Int = 32, numBlocks: Int = 4, maxHamming: Int = 3,
                   maxBucketSize: Long = DefaultMaxBucketSize): DataFrame = {
    require(bits % numBlocks == 0, "bits must split evenly into blocks")
    require(maxHamming < numBlocks, "pigeonhole recall needs maxHamming < numBlocks")
    val blockBits = bits / numBlocks
    val mask = (1L << blockBits) - 1
    val codeName = s"simhash$bits"
    val codes = simhashCodes(docs, idCol, textCol, bits)
    // blocks is referenced four times (block count, cap join, both
    // self-join sides); persist so the `bits` interpreted bit-vote passes
    // behind simhashCodes run once per document, not four times.
    val blocks = OperatorCaches.persistTracked(
      codes.select(col(idCol), col(codeName).as("code"), explode(array(
        (0 until numBlocks).map(j => struct(lit(j).as("blk"),
          shiftright(col(codeName), j * blockBits).bitwiseAND(mask).as("bv"))): _*)).as("b"))
      .select(col(idCol), col("code"), col("b.blk").as("blk"), col("b.bv").as("bv")))
    val smallBlocks = blocks.groupBy(col("blk"), col("bv"))
      .agg(count(lit(1)).as("blk_n"))
      .filter(col("blk_n") <= maxBucketSize)
      .select(col("blk"), col("bv"))
    val capped = blocks.join(smallBlocks, Seq("blk", "bv"))
    capped.as("a").join(capped.as("b"),
        col("a.blk") === col("b.blk") && col("a.bv") === col("b.bv") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("a_id"), col(s"b.$idCol").as("b_id"),
        col("a.code").as("a_code"), col("b.code").as("b_code"))
      .distinct()
      .select(col("a_id"), col("b_id"), hamming(col("a_code"), col("b_code")).as("ham"))
      .filter(col("ham") <= maxHamming)
  }
}
