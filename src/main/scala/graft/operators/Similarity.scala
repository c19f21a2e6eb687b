package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.plans.GraftFunctions

/** Similarity-search operators over (idCol, vector array<double>) tables.
  *
  * Brute force is the exactness baseline: O(Q·N) with the query side
  * broadcast, one streaming pass over the corpus. The ANN variants replace
  * the cross join with an equi-join on a derived key (LSH bucket / IVF
  * cluster) — candidates shrink to one bucket and the shuffle partitions by
  * that key, which is what survives a 100× scale-up.
  */
object Similarity {

  /** Cosine via the codegen'd native dot expression (ArrayDotProduct) —
    * bit-identical to VectorFunctions.cosine (same sequential double
    * accumulation), minus the interpreted per-element lambda dispatch. */
  private def cosineNative(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    GraftFunctions.dotNative(a, b) /
      (sqrt(GraftFunctions.dotNative(a, a)) * sqrt(GraftFunctions.dotNative(b, b)))

  private def l2sqNative(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    GraftFunctions.dotNative(a, a) - lit(2.0) * GraftFunctions.dotNative(a, b) +
      GraftFunctions.dotNative(b, b)

  /** Exact cosine top-k neighbors for each query vector. */
  /** Dominant principal direction + Rayleigh variance share of an
    * embedding column — the anisotropy diagnostic behind q250 (the
    * "all-but-the-top" check: Mu & Viswanath 2018). EXACT integer
    * trajectory: components quantize to round(v·10⁶); mean-centering
    * rides an n-scaled grid (c = n·q − Σq, no division); the d×d
    * scatter matrix G = Σ c·cᵀ accumulates DECIMAL(38,0) products; and
    * `iterations` power-iteration rounds renormalize onto a 10⁴
    * max-abs grid by trunc-identical integer DIV. Returns one row per
    * dimension: (pos, sum_q raw component sum, pc1_fp4 iterated
    * direction, aniso_bp = ⌊λ·10⁴/trace⌋ — 10⁴/d is perfectly
    * isotropic, →10⁴ one rogue direction owns the space).
    *
    * Magnitude contract (loud at entry like kCenters): with |q| ≤
    * 2·10⁶, n vectors and d dims, the λ-numerator peaks ≈
    * d²·n²·qmax²·10⁸·10⁴ — under DECIMAL(38,0) headroom for n ≤ ~3·10⁴
    * at d=64; shrink the grids beyond that. Scale shape: ONE corpus
    * pass builds the component frame, one id-keyed self-join collapses
    * map-side into the persisted d²-row G; every later frame is
    * d²-sized — the iteration never re-touches the corpus. */
  def dominantDirection(vectors: DataFrame, idCol: String, vecCol: String,
                        iterations: Int = 3): DataFrame = {
    val (momF, sumF) = scatterMoments(vectors, idCol, vecCol)
    solveScatterFrames(vectors.sparkSession, momF, sumF, iterations)
  }

  /** ADDITIVE sufficient statistics for [[dominantDirection]] — the
    * property that makes the anisotropy diagnostic streamable: raw
    * second moments M(p1,p2) = Σ q_p1·q_p2 (d² rows, DECIMAL(38,0))
    * and per-dimension first moments (pos, sv = Σq, n) merge across
    * any partition of the corpus by plain addition, and the CENTERED
    * scatter reassembles exactly as G = n²·M − n·S₁·S₂ (the c = n·q − S
    * grid's algebra, expanded). One corpus pass + one id-keyed
    * self-join collapsing map-side into the d²-row frame. */
  def scatterMoments(vectors: DataFrame, idCol: String, vecCol: String)
      : (DataFrame, DataFrame) = {
    val (comp, n) = componentFrame(vectors, idCol, vecCol)
    scatterMomentsFromComp(comp, n)
  }

  /** Quantized component frame (vid, pos, q = round(v·10⁶)) shared by the
    * scatter/ABTT/silhouette/κ/drift family, with the 2·10⁶ unit-scale
    * magnitude contract enforced loudly at first build. POOLED per
    * corpus (FramePool keyed on the canonicalized (id, vec) projection
    * plan — the Dedup.corpusKey discipline): the embedding health card
    * (q263) runs three diagnostics over the same corpus, and before
    * pooling each paid its own posexplode + persist; now the whole
    * q250/q255–q263/q274 family pays ONE corpus explode per run. The
    * magnitude check and the corpus count ride the pool too (checked /
    * counted once per corpus — same-corpus callers can't disagree).
    * Returns (frame, corpus count). */
  def componentFrame(vectors: DataFrame, idCol: String, vecCol: String)
      : (DataFrame, Long) = {
    val narrowed = vectors.select(col(idCol), col(vecCol))
    val frames = FramePool.frames(
      ("compframe", narrowed.queryExecution.analyzed.canonicalized)) {
      val c = narrowed
        .select(col(idCol).as("vid"),
          posexplode(col(vecCol)).as(Seq("pos", "vv")))
        .select(col("vid"), col("pos"),
          round(col("vv").cast("double") * 1000000d).cast("long").as("q"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val maxAbsRow = c.agg(max(abs(col("q")))).head
      val maxAbs = if (maxAbsRow.isNullAt(0)) 0L else maxAbsRow.getLong(0)
      require(maxAbs <= 2000000L,
        s"dominantDirection: quantized component |q| = $maxAbs exceeds " +
          "the 2·10⁶ unit-scale bound; normalize the vectors first")
      Seq(c, narrowed.agg(count(lit(1)).as("n")))
    }
    (frames.head, frames(1).head().getLong(0))
  }

  /** The d²-row scatter moments are POOLED per component frame (round
    * 16): the comp⋈comp self-join is the single expensive pass of the
    * anisotropy family, and q250 (dominant direction), q255 (ABTT) and
    * the q263 health card were each re-running it over the SAME pooled
    * component frame. The moments are the family's additive sufficient
    * statistics — exactly the artifact a deployment materializes once —
    * and both output frames are tiny (d² and d rows), so pooling costs
    * nothing. Streaming batches are safe: the anisotropy sink releases
    * the pool per batch, so per-batch keys never accumulate. */
  private def scatterMomentsFromComp(comp: DataFrame, n: Long)
      : (DataFrame, DataFrame) = {
    val frames = FramePool.frames(
      ("scatter", comp.queryExecution.analyzed.canonicalized, n)) {
      val sums = comp.groupBy(col("pos"))
        .agg(sum(col("q")).as("sv")).withColumn("n", lit(n))
      val mom = comp.as("a").join(comp.as("b"), "vid")
        .groupBy(col("a.pos").as("p1"), col("b.pos").as("p2"))
        .agg(sum(expr("CAST(a.q AS DECIMAL(38,0)) * b.q")).as("m"))
      Seq(mom, sums)
    }
    (frames.head, frames(1))
  }

  /** "All-but-the-top" removal statistics (Mu & Viswanath 2018,
    * completing the q250 diagnostic with the paper's actual fix): how
    * much of each document's CENTERED mass lies along the corpus's
    * dominant principal direction — i.e. what the ABTT post-processing
    * step would strip from that embedding. Exact integer trajectory
    * shared with [[dominantDirection]]: components on the 10⁶ grid,
    * centering on the n-scaled grid (c = n·q − Σq), pc1 from the same
    * driver-side BigInt power iteration on the d²-row scatter, then one
    * more corpus pass computes per document coef_q = Σ c·pc1 (the
    * projection coefficient on the 10⁶·n·10⁴ grid) and removed_bp =
    * ⌊coef²·10⁴ / (‖pc1‖²·Σc²)⌋ — the Rayleigh share of THIS document
    * along pc1, in basis points (Cauchy–Schwarz caps it at 10⁴; a
    * document equal to the corpus mean reports 0 by convention).
    *
    * Magnitude audit at the fixture ceiling (n ≤ 3·10⁴, d = 64,
    * |q| ≤ 2·10⁶): |c| ≤ 2n·qmax = 1.2e11, coef ≤ d·|c|·10⁴ = 7.7e16
    * (< BIGINT ceiling 9.2e18 ✓), coef²·10⁴ ≤ 6e37 < 10³⁸ ✓,
    * ‖pc1‖²·Σc² ≤ 6.4e9 · d·c² ≤ 5.9e33 ✓. Scale shape: the scatter
    * solve never re-touches the corpus, pc1 + per-dimension sums
    * broadcast as d-row literals, and the projection is ONE map-side-
    * combined pass over the persisted component frame. */
  def abttRemoval(vectors: DataFrame, idCol: String, vecCol: String,
                  iterations: Int = 3): DataFrame = {
    val spark = vectors.sparkSession
    val (comp, n) = componentFrame(vectors, idCol, vecCol)
    val (momF, sumF) = scatterMomentsFromComp(comp, n)
    val pc = solveScatterFrames(spark, momF, sumF, iterations).collect()
    import spark.implicits._
    val pcF = broadcast(pc.map(r => (r.getLong(0).toInt, r.getLong(1),
        r.getLong(2))).toSeq.toDF("pos", "sv", "w"))
    val den = pc.map(r => BigInt(r.getLong(2)) * r.getLong(2)).sum
    require(den > 0 && den <= BigInt("9000000000000000000"),
      s"abttRemoval: pc1 norm² $den outside (0, 9e18]")
    // coef_q = Σ_pos cv·w accumulates in plain LONG and cv = n·q − sv
    // scales with corpus size: |coef_q| ≤ d·2n·qmax·|w| = d·n·4·10¹⁰ at
    // the documented |q| ≤ 2·10⁶, |w| ≤ 10⁴ grid — enforce the LONG
    // ceiling LOUDLY instead of letting it wrap silently at n ≈ 10⁶⁺
    // (the den/|q| guards' discipline). Past this, shard the corpus or
    // widen coef_q to DECIMAL(38,0).
    require(BigInt(n) * pc.length <= BigInt(200000000L),
      s"abttRemoval: n·d = ${BigInt(n) * pc.length} exceeds the 2e8 " +
        "LONG-safety ceiling for coef_q = sum(cv*w) " +
        "(d*n*4e10 must stay under 9.2e18)")
    comp.join(pcF, "pos")
      .select(col("vid"),
        (lit(n) * col("q") - col("sv")).as("cv"), col("w"))
      .groupBy(col("vid"))
      .agg(sum(col("cv") * col("w")).as("coef_q"),
        sum(expr("CAST(cv AS DECIMAL(38,0)) * cv")).as("sc2"))
      .select(col("vid").as(idCol), col("coef_q"),
        when(col("sc2") === 0, lit(0L)).otherwise(
          expr(s"CAST(CAST(coef_q AS DECIMAL(38,0)) * coef_q * 10000" +
            s" DIV (CAST('$den' AS DECIMAL(38,0)) * sc2) AS BIGINT)"))
          .as("removed_bp"))
  }

  /** Assemble the centered scatter from (possibly merged) moment
    * frames and walk the power iteration DRIVER-SIDE in exact BigInt
    * (same trunc-toward-zero division as the engines' DIV): the
    * scatter matrix is DIMENSION²-bounded regardless of corpus size,
    * and an in-plan iteration nests one eager BroadcastExchange per
    * renormalization inside every downstream plan, re-firing the whole
    * chain per materialization — measured ~10× this form's wall clock.
    * Only d² + d rows ever cross the wire. Shared verbatim by the
    * batch query (q250) and the streaming monitor's serving path. */
  def solveScatterFrames(spark: org.apache.spark.sql.SparkSession,
                         momF: DataFrame, sumF: DataFrame,
                         iterations: Int): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    import spark.implicits._
    val mom = momF.collect()
      .map(r => ((r.getInt(0), r.getInt(1)),
        BigInt(r.getDecimal(2).toBigInteger)))
      .toMap
    val sums = sumF.collect()
      .map(r => r.getInt(0) -> (BigInt(r.getLong(1)), r.getLong(2)))
      .toMap
    require(sums.nonEmpty, "dominantDirection: empty vector corpus")
    val n = sums.head._2._2
    val nB = BigInt(n)
    val dims = sums.keys.toSeq.sorted
    def g(p1: Int, p2: Int): BigInt =
      nB * nB * mom((p1, p2)) - nB * sums(p1)._1 * sums(p2)._1
    var v: Map[Int, BigInt] = dims.map(_ -> BigInt(10000)).toMap
    for (_ <- 1 to iterations) {
      val gw = dims.map(p1 => p1 ->
        dims.map(p2 => g(p1, p2) * v(p2)).sum).toMap
      val m = gw.values.map(_.abs).max
      require(m > 0, "dominantDirection: zero-variance corpus (all " +
        "vectors identical) — no principal direction exists")
      v = dims.map(p => p -> gw(p) * 10000 / m).toMap
    }
    val traceG = dims.map(p => g(p, p)).sum
    val gwF = dims.map(p1 => p1 ->
      dims.map(p2 => g(p1, p2) * v(p2)).sum).toMap
    val lamNum = dims.map(p => v(p) * gwF(p)).sum
    val lamDen = dims.map(p => v(p) * v(p)).sum
    val anisoBp = (lamNum * 10000 / (lamDen * traceG)).toLong
    dims.map(p => (p.toLong, sums(p)._1.toLong, v(p).toLong, anisoBp))
      .toDF("pos", "sum_q", "pc1_fp4", "aniso_bp")
  }

  /** Simplified silhouette (centroid form — Vendramin et al. 2010) of a
    * labeled embedding corpus, on SQUARED distances so the whole score is
    * exact integer arithmetic: per point, a² = squared distance to its own
    * label's centroid, b² = min squared distance to any other label's
    * centroid, score_bp = ⌊(b²−a²)·10⁴ / max(a²,b²)⌋ ∈ [−10⁴, 10⁴]
    * (a point sitting on both centroids scores 0 by convention). The
    * classic clustering-quality diagnostic for a curated corpus's label
    * assignment — scores near 10⁴ mean tight, well-separated clusters;
    * negative means the point is closer to a rival centroid.
    *
    * Exactness: components on the 10⁶ grid, centroids on the ×10³
    * subgrid via trunc-identical integer DIV (μ = ⌊Σq·10³/n_g⌋ — the
    * one division, deterministic in both engines), per-term squares
    * accumulated in DECIMAL(38,0). Magnitude audit at the unit-scale
    * ceiling (|q| ≤ 2·10⁶, d = 64): |q·10³ − μ| ≤ 4·10⁹, per-term
    * square ≤ 1.6e19 (hence the decimal cast BEFORE squaring), per-point
    * d² ≤ 1e21, (b²−a²)·10⁴ ≤ 1e25 — all inside DECIMAL(38,0).
    * Scale shape: centroids are |labels|·d rows (broadcast); the
    * point×centroid expansion is a map-side fan-out of |labels| per
    * component row, aggregated map-side by (id, label) — one corpus
    * pass, no self-join, no pairwise work. */
  def simplifiedSilhouette(vectors: DataFrame, idCol: String,
                           vecCol: String, labelCol: String): DataFrame = {
    val (labels, d2) = centroidDistances(vectors, idCol, vecCol, labelCol)
    val pts = d2.join(labels, "vid")
      .groupBy(col("vid"), col("lbl"))
      .agg(max(when(col("clbl") === col("lbl"), col("d2"))).as("a2"),
        min(when(col("clbl") =!= col("lbl"), col("d2"))).as("b2"))
      .select(col("lbl"),
        when(greatest(col("a2"), col("b2")) === 0, lit(0L))
          .otherwise(expr(
            "CAST((b2 - a2) * 10000 DIV greatest(a2, b2) AS BIGINT)"))
          .as("score_bp"))
    pts.groupBy(col("lbl").as(labelCol))
      .agg(count(lit(1)).as("n_pts"), sum("score_bp").as("sum_score_bp"))
      .select(col(labelCol), col("n_pts"), col("sum_score_bp"),
        expr("sum_score_bp DIV n_pts").as("mean_score_bp"))
  }

  /** Shared by [[simplifiedSilhouette]] and [[labelAgreement]]: the
    * exact point×centroid squared-distance frame. Centroids on the
    * ×10³ subgrid via trunc-identical integer DIV; per-term squares
    * accumulated in DECIMAL(38,0) (magnitude ceilings in the
    * simplifiedSilhouette scaladoc). Returns (labels = (vid, lbl),
    * d2 = (vid, clbl, d2)); loud on fewer than two labels. */
  private def centroidDistances(vectors: DataFrame, idCol: String,
      vecCol: String, labelCol: String): (DataFrame, DataFrame) = {
    // POOLED as a pair (labels, d2): silhouette and κ both start from
    // this exact frame, and the health card (q263) runs both — without
    // the pool each paid its own comp×|labels| fan-out, the dominant
    // cost of either diagnostic. d2 is n·|labels| rows of 3 columns
    // (MEMORY_AND_DISK; at 100 TB this is the frame worth persisting —
    // both consumers are one keyed aggregate away from it).
    val narrowed = vectors.select(col(idCol), col(vecCol), col(labelCol))
    val frames = FramePool.frames(
      ("centroid-d2", narrowed.queryExecution.analyzed.canonicalized)) {
      val labeled = vectors.filter(col(labelCol).isNotNull)
      val nLabels = labeled.select(labelCol).distinct().count()
      require(nLabels >= 2,
        s"centroidDistances: need >= 2 labels, got $nLabels")
      val labels = labeled.select(col(idCol).as("vid"),
        col(labelCol).as("lbl"))
      // the POOLED full-corpus component frame, restricted to labeled
      // rows by an id-join BEFORE the |labels| fan-out — shares one
      // posexplode with the scatter family instead of paying its own.
      // NOTE the widened check scope this inherits: componentFrame's
      // per-component magnitude require now sees UNLABELED rows too
      // (the full corpus), where the pre-pooled build only validated
      // labeled ones. The restriction join is on DISTINCT vids — an id
      // carrying two labels must not double its component rows here
      // (labelMomentsFromComp applies the (vid, lbl) pairing exactly
      // once, via its own labels join).
      val (comp0, _) = componentFrame(vectors, idCol, vecCol)
      val comp = comp0.join(labels.select(col("vid")).distinct(), "vid")
      val mu = centroidsFromMoments(labelMomentsFromComp(comp, labels))
      val d2 = comp.join(broadcast(mu), "pos")
        .select(col("vid"), col("clbl"),
          (col("q") * 1000L - col("mu")).as("dq"))
        .groupBy(col("vid"), col("clbl"))
        .agg(sum(expr("CAST(dq AS DECIMAL(38,0)) * dq")).as("d2"))
      Seq(labels, d2)
    }
    (frames.head, frames(1))
  }

  /** ADDITIVE label-centroid sufficient statistics — the property that
    * makes the q258/q260 centroid state streamable (the scatterMoments
    * discipline): per-(label, dimension) quantized component sums on
    * the ×10³ subgrid and member counts merge across any partition of
    * the corpus by plain addition; the centroid table reassembles from
    * the MERGED sums through the same trunc-identical DIV as the batch
    * operators (merging per-batch centroids instead would average
    * truncations — wrong). Rows: (clbl, pos, sq, ng). */
  def labelMoments(vectors: DataFrame, idCol: String, vecCol: String,
                   labelCol: String): DataFrame = {
    val labeled = vectors.filter(col(labelCol).isNotNull)
    // pooled full-corpus frame: the inner label join drops unlabeled
    // rows, so restricting the explode input would only duplicate it
    val (comp, _) = componentFrame(vectors, idCol, vecCol)
    labelMomentsFromComp(comp,
      labeled.select(col(idCol).as("vid"), col(labelCol).as("lbl")))
  }

  private def labelMomentsFromComp(comp: DataFrame,
      labels: DataFrame): DataFrame =
    comp.join(labels, "vid")
      .groupBy(col("lbl").as("clbl"), col("pos"))
      .agg(sum(col("q") * 1000L).as("sq"), count(lit(1)).as("ng"))

  /** Centroids on the ×10³ subgrid from (possibly merged) label
    * moments — the one division, trunc-identical in both engines. */
  def centroidsFromMoments(m: DataFrame): DataFrame =
    m.select(col("clbl"), col("pos"), expr("sq DIV ng").as("mu"))

  /** Per-(label, half, pos) component moments for the q274 drift report
    * — [[labelMoments]] with the deterministic id-parity HALF key added:
    * ADDITIVE sums + counts, so partials over any split of the corpus
    * merge by plain addition (the property the streaming monitor
    * rides). Rows: (clbl, half, pos, sq = Σ q·10³, ng). */
  def driftMoments(vectors: DataFrame, idCol: String, vecCol: String,
                   labelCol: String): DataFrame = {
    val labeled = vectors.filter(col(labelCol).isNotNull)
    // pooled full-corpus frame (see labelMoments)
    val (comp, _) = componentFrame(vectors, idCol, vecCol)
    comp.join(labeled.select(col(idCol).as("vid"),
        col(labelCol).as("lbl")), "vid")
      .groupBy(col("lbl").as("clbl"),
        pmod(col("vid"), lit(2L)).as("half"), col("pos"))
      .agg(sum(col("q") * 1000L).as("sq"), count(lit(1)).as("ng"))
  }

  /** Drift report from (possibly merged) drift moments: centroids on
    * the ×10³ subgrid by the ONE trunc-DIV (performed only at serve, so
    * merged partials ≡ full recompute — merging per-batch centroids
    * would average truncations), per-term squared shift in
    * DECIMAL(38,0), scaled back to the q² grid by DIV 10⁶ for a BIGINT
    * output surface. n0/n1 are the per-half vector counts (ng at
    * pos 0 — every vector owns every position). Labels missing a half
    * drop (inner join) — drift needs both sides. */
  def driftFromMoments(m: DataFrame): DataFrame = {
    val mu = m.select(col("clbl"), col("half"), col("pos"),
      expr("sq DIV ng").as("mu"), col("ng"))
    val m0 = mu.filter(col("half") === 0L)
      .select(col("clbl"), col("pos"), col("mu").as("mu0"),
        col("ng").as("ng0"))
    val m1 = mu.filter(col("half") === 1L)
      .select(col("clbl"), col("pos"), col("mu").as("mu1"),
        col("ng").as("ng1"))
    m0.join(m1, Seq("clbl", "pos"))
      .groupBy(col("clbl").as("label"))
      .agg(max(when(col("pos") === 0, col("ng0"))).as("n0"),
        max(when(col("pos") === 0, col("ng1"))).as("n1"),
        expr("CAST(sum(CAST(mu1 - mu0 AS DECIMAL(38,0)) * (mu1 - mu0))" +
          " DIV 1000000 AS BIGINT)").as("drift_q2"))
      .select(col("label"), col("n0"), col("n1"), col("drift_q2"))
  }

  /** Chance-corrected agreement (Cohen's κ) between the corpus's label
    * column and the NEAREST-CENTROID assignment those labels induce —
    * the label-quality audit for a curated corpus: κ near 10⁴ means the
    * labels carve the embedding space into self-consistent cells; κ
    * near 0 means the labels are no better than chance at predicting
    * geometry. Assignment ties break to the smallest label via the
    * explicit two-step (min distance, then min label among minima) so
    * both engines walk the identical trajectory. One output row:
    * (n_pts, n_agree, sum_rc = Σ_l row_l·col_l of the confusion
    * matrix, accuracy_bp = ⌊n_agree·10⁴/n⌋, kappa_bp =
    * ⌊(n·n_agree − Σrc)·10⁴ / (n² − Σrc)⌋; a degenerate corpus with
    * all mass in one confusion cell reports κ = accuracy by
    * convention). Exact integers end to end — products ride
    * DECIMAL(38,0), safe to n ≈ 3·10⁹ points. Scale shape: inherits
    * centroidDistances' one-pass fan-out; everything past the
    * |labels|²-row confusion matrix is constant-size. */
  def labelAgreement(vectors: DataFrame, idCol: String,
                     vecCol: String, labelCol: String): DataFrame = {
    val (labels, d2) = centroidDistances(vectors, idCol, vecCol, labelCol)
    val pmin = d2.groupBy(col("vid")).agg(min(col("d2")).as("md"))
    val pred = d2.join(pmin, "vid").filter(col("d2") === col("md"))
      .groupBy(col("vid")).agg(min(col("clbl")).as("plbl"))
    val conf = pred.join(labels, "vid")
      .groupBy(col("lbl"), col("plbl")).agg(count(lit(1)).as("c"))
    val tot = conf.agg(sum(col("c")).as("n_pts"),
      sum(when(col("lbl") === col("plbl"), col("c")).otherwise(0L))
        .as("n_agree"))
    val rows = conf.groupBy(col("lbl")).agg(sum(col("c")).as("r"))
    val cols = conf.groupBy(col("plbl")).agg(sum(col("c")).as("cc"))
    val rc = rows.join(cols, col("lbl") === col("plbl"))
      .agg(coalesce(sum(expr("CAST(r AS DECIMAL(38,0)) * cc")),
        lit(0).cast("decimal(38,0)")).as("rc"))
    tot.crossJoin(broadcast(rc))
      .select(col("n_pts"), col("n_agree"),
        col("rc").cast("long").as("sum_rc"),
        expr("n_agree * 10000 DIV n_pts").as("accuracy_bp"),
        expr("CASE WHEN CAST(n_pts AS DECIMAL(38,0)) * n_pts = rc" +
          " THEN n_agree * 10000 DIV n_pts" +
          " ELSE CAST((CAST(n_pts AS DECIMAL(38,0)) * n_agree - rc)" +
          " * 10000 DIV (CAST(n_pts AS DECIMAL(38,0)) * n_pts - rc)" +
          " AS BIGINT) END").as("kappa_bp"))
  }

  /** Greedy MMR (maximal marginal relevance) selection over a BOUNDED
    * candidate frame — the pure argmax walk behind q251, factored out
    * so the greedy semantics are unit-testable: round 1 picks max
    * relevance; round r picks argmax lamNum10·rel − (10−lamNum10)·
    * maxSimToSelected (λ on a ×10 integer grid), ties to id ASC.
    * `sims` must hold every ordered candidate pair. Returns
    * (rank, id, rel, maxsim, score) — all exact integers. */
  def mmrGreedy(cands: Seq[(Long, Long)], sims: Map[(Long, Long), Long],
                k: Int, lamNum10: Long = 7L)
      : Seq[(Long, Long, Long, Long, Long)] = {
    require(lamNum10 >= 0 && lamNum10 <= 10,
      s"lamNum10 in [0,10], got $lamNum10")
    var picks = Vector.empty[(Long, Long, Long, Long, Long)]
    var remaining = cands.toVector
    for (r <- 1 to math.min(k, cands.size)) {
      val best = remaining.map { case (id, rel0) =>
        val ms = if (picks.isEmpty) 0L
          else picks.map(p => sims((id, p._2))).max
        (id, rel0, ms, lamNum10 * rel0 - (10L - lamNum10) * ms)
      }.minBy(x => (-x._4, x._1))
      picks :+= ((r.toLong, best._1, best._2, best._3, best._4))
      remaining = remaining.filterNot(_._1 == best._1)
    }
    picks
  }

  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(desc("cos"), col("neighbor_id"))
    corpus.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        cosineNative(col("qv"), col("v")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Exact-cosine re-rank of a CANDIDATE pair stream — the second stage of
    * every two-stage ANN pipeline (coarse IVF/PQ/LSH recall → precise
    * order). `cands` carries (q_id, neighbor_id); the corpus joins by
    * neighbor_id (an equi-join that only moves candidate vectors — the
    * corpus at large never re-enters), queries broadcast, and the window
    * re-ranks per query. Keeping re-rank separate from recall is the point:
    * the expensive full-precision math runs on |cands| rows, not |corpus|.
    */
  def rerankExact(cands: DataFrame, corpus: DataFrame, queries: DataFrame,
                  k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(desc("cos"), col("neighbor_id"))
    cands.select(col("q_id"), col("neighbor_id"))
      .join(corpus.select(col("vec_id").as("neighbor_id"), col("v")), "neighbor_id")
      .join(broadcast(queries), "q_id")
      .select(col("q_id"), col("neighbor_id"),
        cosineNative(col("qv"), col("v")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** LSH ANN: bucket both sides with signed random projections, equi-join
    * on bucket, rank within bucket. */
  def lshTopK(corpus: DataFrame, numPlanes: Int, dim: Int, k: Int,
              queryPred: org.apache.spark.sql.Column): DataFrame = {
    val planes = gaussianPlanes(numPlanes, dim)
    val bucketed = corpus.withColumn("bucket", lshBucket(col("v"), planes))
    val q = bucketed.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("bucket"))
    val w = Window.partitionBy(col("q_id")).orderBy(desc("cos"), col("neighbor_id"))
    bucketed.join(q, "bucket")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("bucket"), col("vec_id").as("neighbor_id"),
        cosineNative(col("qv"), col("v")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Lloyd's k-means iterations — the IVF codebook trainer. Each
    * iteration: assign every vector to its nearest centroid (broadcast
    * centroids, one corpus pass — [[ivfAssign]]), then recompute each
    * centroid as the per-cluster positional mean (posexplode → one
    * groupBy(cluster, pos) shuffle — partial aggregation map-side, never
    * a vector collect). Centroids come back to the driver only as k tiny
    * rows per iteration; the corpus never does. Deterministic given the
    * initial centroids (positional means via AVG are stable in one
    * engine; cross-engine bit-parity is NOT claimed — verified by
    * convergence properties in SimilaritySpec, not a DuckDB oracle; see
    * [[kmeansStep]] for the fixed-point variant whose step IS
    * bit-reproducible and oracle-checked).
    * Empty clusters keep their previous centroid. */
  def kmeansIterate(corpus: DataFrame, init: DataFrame, iters: Int): DataFrame = {
    var c = init.select(col("c_id"), col("cv")).localCheckpoint()
    for (_ <- 1 to iters) {
      val assigned = ivfAssign(corpus, c)
      val means = assigned
        .select(col("cluster_id"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cluster_id"), col("pos"))
        .agg(avg(col("x")).as("m"))
        .groupBy(col("cluster_id"))
        .agg(transform(sort_array(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("mv"))
        .select(col("cluster_id").as("c_id"), col("mv"))
      c = c.join(means, Seq("c_id"), "left")
        .select(col("c_id"), coalesce(col("mv"), col("cv")).as("cv"))
        .localCheckpoint()
    }
    c
  }

  /** Mean squared distance of every vector to its assigned centroid —
    * the k-means objective, for convergence monitoring. */
  def distortion(corpus: DataFrame, centroids: DataFrame): Double =
    ivfAssign(corpus, centroids)
      .agg(avg(col("dist"))).head().getDouble(0)

  /** SRP-banded embedding near-dup pairs — the embedding twin of
    * [[Dedup.lshPairs]]'s b×r MinHash banding: `planes.length /
    * planesPerBand` bands, each hashing the vector to a 2^planesPerBand
    * bucket with signed random projections; a pair is a candidate iff it
    * shares any band's bucket AND every `blockCols` value; exact cosine is
    * computed on candidates only.
    *
    * Scale shape: buckets come from broadcast plane literals (no shuffle),
    * candidates from a (band, bucket, blocks) equi-join — shuffle by
    * derived key, never all-pairs. Recall is governed by bands ×
    * planesPerBand exactly like MinHash b×r.
    */
  /** The ONE source of the SRP band projection: (id, blocks…, band, bkt)
    * exploded per band, persisted (tracked) — join sides consume it
    * multiply in both the self-join and bipartite pairings. */
  private def srpBandProjection(e: DataFrame, idCol: String, vecCol: String,
      blockCols: Seq[String], planes: Seq[Array[Double]],
      planesPerBand: Int): DataFrame = {
    require(planes.length % planesPerBand == 0, "planes must split evenly into bands")
    val numBands = planes.length / planesPerBand
    graft.operators.OperatorCaches.persistTracked(e.select(
      (col(idCol) +: blockCols.map(col)) :+
        explode(array((0 until numBands).map(b => struct(lit(b).as("band"),
          lshBucket(col(vecCol),
            planes.slice(b * planesPerBand, (b + 1) * planesPerBand)).as("bkt"))): _*))
          .as("bb"): _*)
      .select((col(idCol) +: blockCols.map(col)) ++
        Seq(col("bb.band").as("band"), col("bb.bkt").as("bkt")): _*))
  }

  def embeddingNearDupPairs(e: DataFrame, idCol: String, vecCol: String,
      blockCols: Seq[String], planes: Seq[Array[Double]], planesPerBand: Int,
      minCos: Double): DataFrame = {
    val bands = srpBandProjection(e, idCol, vecCol, blockCols, planes, planesPerBand)
    val cond = (Seq(col("a.band") === col("b.band"), col("a.bkt") === col("b.bkt")) ++
      blockCols.map(c => col(s"a.$c") === col(s"b.$c")) :+
      (col(s"a.$idCol") < col(s"b.$idCol"))).reduce(_ && _)
    val cand = bands.as("a").join(bands.as("b"), cond)
      .select(Seq(col(s"a.$idCol").as("a_id"), col(s"b.$idCol").as("b_id")) ++
        blockCols.map(c => col(s"a.$c").as(c)): _*)
      .distinct()
    val va = e.select(col(idCol).as("a_id"), col(vecCol).as("__av"))
    val vb = e.select(col(idCol).as("b_id"), col(vecCol).as("__bv"))
    cand.join(va, "a_id").join(vb, "b_id")
      .select(Seq(col("a_id"), col("b_id")) ++ blockCols.map(col) :+
        cosineNative(col("__av"), col("__bv")).as("cos"): _*)
      .filter(col("cos") >= minCos)
  }

  /** Bipartite SRP near-dup: NEW vectors paired against an EXISTING
    * corpus only (the embedding twin of Dedup.lshPairsAgainst — semantic
    * test-set-leakage / incremental-ingest checks). Both sides bucket
    * with the same plane literals; candidates share any band's bucket
    * (plus every `blockCols` value); exact cosine rescored on candidates.
    * Never new×new or corpus×corpus. */
  def embeddingNearDupAgainst(newE: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, blockCols: Seq[String],
      planes: Seq[Array[Double]], planesPerBand: Int,
      minCos: Double): DataFrame = {
    val a = srpBandProjection(newE, idCol, vecCol, blockCols, planes, planesPerBand)
    val b = srpBandProjection(corpus, idCol, vecCol, blockCols, planes, planesPerBand)
    val cond = (Seq(col("a.band") === col("b.band"), col("a.bkt") === col("b.bkt")) ++
      blockCols.map(c => col(s"a.$c") === col(s"b.$c"))).reduce(_ && _)
    val cand = a.as("a").join(b.as("b"), cond)
      .select(Seq(col(s"a.$idCol").as("new_id"), col(s"b.$idCol").as("corpus_id")) ++
        blockCols.map(c => col(s"a.$c").as(c)): _*)
      .distinct()
    val va = newE.select(col(idCol).as("new_id"), col(vecCol).as("__av"))
    val vb = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("__bv"))
    cand.join(va, "new_id").join(vb, "corpus_id")
      .select(Seq(col("new_id"), col("corpus_id")) ++ blockCols.map(col) :+
        cosineNative(col("__av"), col("__bv")).as("cos"): _*)
      .filter(col("cos") >= minCos)
  }

  /** IVF search: assign corpus AND queries to their nearest centroid,
    * then rank by exact cosine WITHIN the query's probed clusters only —
    * the candidate set shrinks from N to ~nprobe·N/k per query and the
    * join is an equi-join on cluster_id (shuffle by cluster — the IVF
    * scale path). `nprobe` > 1 lets a query search its nprobe nearest
    * clusters, recovering neighbors that fell across a centroid boundary
    * (the standard IVF recall knob). */
  def ivfSearch(corpus: DataFrame, centroids: DataFrame, k: Int,
                queryPred: org.apache.spark.sql.Column,
                nprobe: Int = 1): DataFrame = {
    // single consumer (the cluster join's candidate side — the query side
    // computes its own nprobe assignment); no persist needed
    val assigned = ivfAssign(corpus, centroids)
      .select(col("vec_id"), col("v"), col("cluster_id"))
    val wq = Window.partitionBy(col("vec_id")).orderBy(col("dist"), col("c_id"))
    val q = corpus.filter(queryPred).crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("v"), col("c_id"),
        l2sqNative(col("v"), col("cv")).as("dist"))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nprobe)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("c_id").as("cluster_id"))
    val w = Window.partitionBy(col("q_id")).orderBy(desc("cos"), col("neighbor_id"))
    assigned.join(q, "cluster_id")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("cluster_id"), col("vec_id").as("neighbor_id"),
        cosineNative(col("qv"), col("v")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** IVF-style assignment: nearest of the broadcast centroids per vector
    * (same dot-product composition as any SQL oracle → stable argmin). */
  def ivfAssign(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id")).orderBy(col("dist"), col("c_id"))
    corpus.crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("v"), col("c_id"), l2sqNative(col("v"), col("cv")).as("dist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("v"), col("c_id").as("cluster_id"), col("dist"))
  }

  /** One Lloyd (k-means) iteration with REPRODUCIBLE arithmetic — the
    * deterministic complement of [[kmeansIterate]] (which trains with
    * float avg: fine within one engine, but partition-order-dependent in
    * the last bits). Assigns every vector to its nearest centroid
    * ([[ivfAssign]] — broadcast centroids, one streaming pass), then
    * recomputes each centroid as the per-dimension mean of its members.
    * Returns (cluster_id, dim, c_new, n_members); clusters that attracted
    * no members emit no rows (callers keep the old centroid or reseed —
    * the usual Lloyd conventions).
    *
    * The mean uses FIXED-POINT accumulation: each component is snapped to
    * a 1e-6 grid (`floor(x·1e6 + 0.5)` — exact IEEE ops) and summed as
    * integers, so the sum — hence the centroid — is bit-identical on any
    * partitioning, any reducer order, and any engine. Naive float sums
    * make k-means non-reproducible at cluster scale (partition order
    * changes the rounding); a 1e-6 grid on unit-scale embeddings costs
    * nothing in cluster quality and buys exact reproducibility — the same
    * trick deterministic-training pipelines use for gradient reduction.
    *
    * Scale shape: one broadcast-assign pass + one shuffle keyed by
    * (cluster_id, dim) with map-side partial sums — k·d result rows, never
    * a vector collected to the driver. Chain calls for multiple
    * iterations; each is one job and the output feeds back as `centroids`.
    */
  def kmeansStep(corpus: DataFrame, centroids: DataFrame,
                 quantScale: Long = 1000000L): DataFrame = {
    ivfAssign(corpus, centroids)
      .select(col("cluster_id"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("cluster_id"), col("dim"))
      .agg(sum(floor(col("x") * quantScale + lit(0.5d))).as("qsum"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"), col("dim").cast("long").as("dim"),
        (col("qsum").cast("double") / col("n_members") / quantScale).as("c_new"),
        col("n_members"))
  }

  /** SemDeDup-style cluster-scoped semantic deduplication (Abbas et al.
    * 2023, arXiv:2303.09540 — public paper): partition the embedding
    * space with k-means centroids, then near-duplicate only WITHIN each
    * cluster. The cluster assignment replaces the corpus-wide pair scan,
    * so the quadratic term is bounded by cluster population, never N².
    *
    * Verdict contract (deterministic, SQL-expressible): a vector is
    * DROPPED iff some keeper-side member of its cluster with a SMALLER id
    * has cosine ≥ `minCos` with it; otherwise kept. Greedy-by-id and
    * pairwise — not a transitive closure (that is q37/q111's cluster
    * operators). The keeper side is capped to the `keeperCap` smallest
    * ids per cluster — the hot-bucket cap every pairing operator here
    * carries: a degenerate clustering (everything in one cell) pairs
    * members×cap, never members², at a documented recall bound.
    *
    * Scale shape: broadcast-centroid assign ([[ivfAssign]] — one
    * streaming pass), keeper cap via a CLUSTER-partitioned window (hash
    * partitioning, never a global window), one equi-join on cluster_id
    * against the capped keeper side with the exact cosine as a post-join
    * predicate, then a left join to flip the verdict per vector. Nothing
    * quadratic in the corpus, nothing collected to the driver.
    * Returns (vec_id, cluster_id, kept: 1|0).
    */
  def semDedup(corpus: DataFrame, centroids: DataFrame, minCos: Double,
               keeperCap: Int = 256): DataFrame = {
    val assigned = OperatorCaches.persistTracked(
      ivfAssign(corpus, centroids)
        .select(col("vec_id"), col("v"), col("cluster_id")))
    val wk = Window.partitionBy(col("cluster_id")).orderBy(col("vec_id"))
    val keepers = assigned
      .withColumn("rn", row_number().over(wk))
      .filter(col("rn") <= keeperCap)
      .select(col("cluster_id").as("k_cluster"), col("vec_id").as("k_id"),
        col("v").as("kv"))
    val dropped = assigned
      .join(keepers,
        col("k_cluster") === col("cluster_id") && col("k_id") < col("vec_id") &&
          cosineNative(col("kv"), col("v")) >= minCos,
        "left_semi")
      .select(col("vec_id"), lit(0L).as("kept"))
    assigned
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster_id"),
        coalesce(col("kept"), lit(1L)).as("kept"))
  }

  /** Reshape a [[kmeansStep]] result back into the (c_id, cv) centroid
    * frame [[ivfAssign]]/[[kmeansStep]] consume — so reproducible Lloyd
    * steps chain: `centroidsFromStep(kmeansStep(corpus, c), c)` is one
    * full deterministic iteration. Dimension order is restored by sorting
    * the collected (dim, value) structs — collect_list order is
    * partition-dependent, the sort makes the array exact. Pass `prev`
    * (the centroids the step ran with) to keep empty clusters at their
    * previous position — [[kmeansIterate]]'s convention; without it a
    * cluster that attracted no members disappears and every later
    * iteration runs with permanently shrunken k. */
  def centroidsFromStep(step: DataFrame, prev: Option[DataFrame] = None): DataFrame = {
    val updated = step.groupBy(col("cluster_id"))
      .agg(transform(
        sort_array(collect_list(struct(col("dim"), col("c_new")))),
        s => s.getField("c_new")).as("cv"))
      .select(col("cluster_id").as("c_id"), col("cv"))
    prev match {
      case None => updated
      case Some(p) =>
        p.select(col("c_id"), col("cv").as("__prev"))
          .join(updated.select(col("c_id"), col("cv").as("__new")), Seq("c_id"), "left")
          .select(col("c_id"), coalesce(col("__new"), col("__prev")).as("cv"))
    }
  }
}
