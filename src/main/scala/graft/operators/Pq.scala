package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.GraftFunctions

/** Product quantization — the compression rung between q87's scalar
  * quantization and full-precision ANN: each vector is split into `m`
  * subvectors and each subvector is replaced by the id of its nearest
  * entry in a per-subspace codebook (k entries), shrinking a d-dim float
  * vector to m small integers. Search runs asymmetrically (ADC): the
  * QUERY stays full-precision, per-(query, subspace, code) distances are
  * precomputed into a lookup table of m·k entries, and a candidate's
  * distance is the sum of m table lookups — no corpus-side float math.
  *
  * Scale shape: codebooks and LUTs are tiny (m·k rows) and BROADCAST;
  * the corpus only ever moves through equi-joins on (sub) / (sub, code) /
  * (cluster_id) derived keys — never an all-pairs float scan. Training
  * reuses the fixed-point (1e-6 grid) accumulation of
  * [[Similarity.kmeansStep]], so codebooks — and therefore codes, and
  * therefore every ADC distance — are bit-identical on any partitioning
  * and any engine: the whole PQ pipeline is DuckDB-oracle-checkable.
  * Distances are carried as fixed-point BIGINTs (`quantScale` grid) once
  * aggregation starts, so sums over subspaces are exact integer adds.
  */
object Pq {

  private def l2sq(a: Column, b: Column): Column =
    GraftFunctions.dotNative(a, a) - lit(2.0) * GraftFunctions.dotNative(a, b) +
      GraftFunctions.dotNative(b, b)

  /** Explode (idCol, vecCol) into (idCol, sub, sv): `m` contiguous
    * subvectors of `subDim` components each — one codegen'd projection. */
  def subvectors(e: DataFrame, idCol: String, vecCol: String,
                 m: Int, subDim: Int): DataFrame =
    e.select(col(idCol),
      explode(array((0 until m).map(s => struct(lit(s).as("sub"),
        slice(col(vecCol), s * subDim + 1, subDim).as("sv"))): _*)).as("x"))
      .select(col(idCol), col("x.sub").as("sub"), col("x.sv").as("sv"))

  /** Nearest codebook entry per (vector, subspace): broadcast the m·k
    * codebook, equi-join on `sub`, argmin by (dist, code) — the exact
    * same argmin composition as [[Similarity.ivfAssign]], so ties are
    * stable cross-engine. Returns (vec_id, sub, sv, code, dist). */
  def assign(sv: DataFrame, codebook: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id"), col("sub"))
      .orderBy(col("dist"), col("code"))
    sv.join(broadcast(codebook), "sub")
      .select(col("vec_id"), col("sub"), col("sv"), col("code"),
        l2sq(col("sv"), col("cv")).as("dist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** One deterministic Lloyd step per subspace — [[Similarity.kmeansStep]]
    * with the extra `sub` key: fixed-point (quantScale grid) integer sums
    * make each new codebook entry bit-identical on any partitioning.
    * Returns (sub, code, dim, c_new, n_members); codes that attracted no
    * members emit no rows (see [[codebookFromStep]]). */
  def trainStep(sv: DataFrame, codebook: DataFrame,
                quantScale: Long = 1000000L): DataFrame =
    assign(sv, codebook)
      .select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("dim", "x")))
      .groupBy(col("sub"), col("code"), col("dim"))
      .agg(sum(floor(col("x") * quantScale + lit(0.5d))).as("qsum"),
        count(lit(1)).as("n_members"))
      .select(col("sub"), col("code"), col("dim").cast("long").as("dim"),
        (col("qsum").cast("double") / col("n_members") / quantScale).as("c_new"),
        col("n_members"))

  /** Reshape a [[trainStep]] result back into the (sub, code, cv) frame
    * the other operators consume; `prev` keeps codes that attracted no
    * members at their previous entry (the [[Similarity.centroidsFromStep]]
    * convention — without it k shrinks permanently). */
  def codebookFromStep(step: DataFrame, prev: Option[DataFrame] = None): DataFrame = {
    val updated = step.groupBy(col("sub"), col("code"))
      .agg(transform(sort_array(collect_list(struct(col("dim"), col("c_new")))),
        s => s.getField("c_new")).as("cv"))
    prev match {
      case None => updated
      case Some(p) =>
        p.select(col("sub"), col("code"), col("cv").as("__prev"))
          .join(updated.select(col("sub"), col("code"), col("cv").as("__new")),
            Seq("sub", "code"), "left")
          .select(col("sub"), col("code"),
            coalesce(col("__new"), col("__prev")).as("cv"))
    }
  }

  /** PQ-encode: (vec_id, sub, code, qdist) — qdist is the subspace
    * quantization error on the fixed-point grid (exact BIGINT), so any
    * downstream sum of errors is integer-exact. */
  def encode(sv: DataFrame, codebook: DataFrame,
             quantScale: Long = 1000000L): DataFrame =
    assign(sv, codebook)
      .select(col("vec_id"), col("sub"), col("code"),
        floor(col("dist") * quantScale + lit(0.5d)).cast("long").as("qdist"))

  /** ADC lookup table: per (q_id, sub, code) the fixed-point distance
    * between the FULL-PRECISION query subvector and the codebook entry —
    * m·k rows per query, computed once and broadcast into the search. */
  def adcLut(querySv: DataFrame, codebook: DataFrame,
             quantScale: Long = 1000000L): DataFrame = {
    querySv.select(col("vec_id").as("q_id"), col("sub"), col("sv"))
      .join(broadcast(codebook), "sub")
      .select(col("q_id"), col("sub"), col("code"),
        floor(l2sq(col("sv"), col("cv")) * quantScale + lit(0.5d))
          .cast("long").as("qd"))
  }

  /** ADC distances for candidate pairs: each (q_id, neighbor_id) pair's
    * distance is the INTEGER sum of its m subspace lookups. `pairs` is
    * whatever candidate generator the caller chose (IVF cells, LSH
    * buckets, or a full cross for the exact-ADC baseline) — the operator
    * itself only ever joins on derived keys. */
  def adcDistances(pairs: DataFrame, codes: DataFrame, lut: DataFrame): DataFrame =
    pairs
      .join(codes.select(col("vec_id").as("neighbor_id"), col("sub"), col("code")),
        "neighbor_id")
      .join(broadcast(lut), Seq("q_id", "sub", "code"))
      .groupBy(col("q_id"), col("neighbor_id"))
      .agg(sum(col("qd")).as("adc_qdist"))

  /** Top-k by ADC distance, ties broken by neighbor id. */
  def adcTopK(dists: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adc_qdist"), col("neighbor_id"))
    dists.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }
}
