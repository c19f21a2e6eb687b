package graft.plans

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import org.apache.spark.sql.{Column, GraftDatasetBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.functions.lit

/** Native Catalyst dot product over two array<double> columns.
  *
  * The higher-order-function formulation (`aggregate(zip_with(a,b,*),+)`)
  * can't participate in whole-stage codegen — every element goes through
  * interpreted lambda dispatch with boxing. This expression compiles to a
  * tight primitive loop inside the generated code, preserving the exact
  * semantics the oracle mirrors: sequential index-order double
  * accumulation (bit-identical to the HOF version and to DuckDB's
  * list_dot_product composition used in oracle SQL).
  *
  * Escalation rationale per SURVEY.md §7.3: compose built-ins first (done —
  * VectorFunctions.dot), escalate to a custom codegen'd Expression only
  * where the hot path demands it (vector similarity over 100 TB of
  * embeddings is such a path).
  *
  * Null contract: null array → null result (BinaryExpression's null
  * handling); MISMATCHED lengths → null, never a silently-truncated
  * product (DuckDB's list_dot_product raises there — a dimension bug in
  * embedding data must surface, not produce wrong cosines; null is the
  * Spark-idiomatic signal and any downstream filter/agg drops it). Null
  * ELEMENTS are not expected in embedding data and read as 0.0, matching
  * ArrayData.getDouble.
  */
case class ArrayDotProduct(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes {

  // type annotation omitted: AbstractDataType is private[sql]; inference
  // supplies the conforming Seq[ArrayType]
  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var s = 0.0
      var i = 0
      while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
      s
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayDotProduct =
    copy(left = newLeft, right = newRight)
}

object GraftFunctions {

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[ArrayDotProduct].getName, "graft_dot"),
      (exprs: Seq[Expression]) => ArrayDotProduct(exprs.head, exprs(1))),
    (FunctionIdentifier("graft_shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "graft_shingle_hashes"),
      (exprs: Seq[Expression]) => {
        // k is baked into the expression at resolution time, so it must be
        // a literal — fail analysis with a clear message rather than
        // letting a column argument hit eval() unresolved (and silently
        // freeze a per-row k even if it were evaluable).
        if (exprs.length != 2)
          throw new IllegalArgumentException(
            s"graft_shingle_hashes expects 2 arguments (tokens, k), got ${exprs.length}")
        val kExpr = exprs(1)
        val kVal = if (kExpr.foldable) kExpr.eval() else null
        kVal match {
          case n: Number => ShingleHashes(exprs.head, n.intValue())
          case _ => throw new IllegalArgumentException(
            "graft_shingle_hashes: k must be an integer literal (a foldable " +
              s"integral expression); got ${kExpr.sql}")
        }
      }),
    (FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHashCode].getName, "graft_simhash"),
      (exprs: Seq[Expression]) =>
        SimHashCode(exprs.head, foldableInt(exprs, 1, "graft_simhash", "bits"))),
    (FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSigs].getName, "graft_minhash"),
      (exprs: Seq[Expression]) =>
        MinHashSigs(exprs.head, foldableInt(exprs, 1, "graft_minhash", "numSigs"))),
    (FunctionIdentifier("graft_normalize"),
      new ExpressionInfo(classOf[NormalizeText].getName, "graft_normalize"),
      (exprs: Seq[Expression]) => {
        if (exprs.length != 1)
          throw new IllegalArgumentException(
            s"graft_normalize expects 1 argument (text), got ${exprs.length}")
        NormalizeText(exprs.head)
      }),
    (FunctionIdentifier("graft_unicode_normalize"),
      new ExpressionInfo(classOf[UnicodeNormalizeExpr].getName,
        "graft_unicode_normalize"),
      (exprs: Seq[Expression]) => {
        if (exprs.length != 2)
          throw new IllegalArgumentException(
            "graft_unicode_normalize expects 2 arguments (text, form), " +
              s"got ${exprs.length}")
        val fExpr = exprs(1)
        val form = (if (fExpr.foldable) fExpr.eval() else null) match {
          case s: org.apache.spark.unsafe.types.UTF8String => s.toString
          case _ => throw new IllegalArgumentException(
            "graft_unicode_normalize: form must be a string literal " +
              s"(NFC|NFD|NFKC|NFKD); got ${fExpr.sql}")
        }
        if (!UnicodeNormalizeExpr.Forms.contains(form))
          throw new IllegalArgumentException(
            s"graft_unicode_normalize: unknown form '$form' " +
              s"(expected one of ${UnicodeNormalizeExpr.Forms.mkString("|")})")
        UnicodeNormalizeExpr(exprs.head, form)
      }),
    (FunctionIdentifier("graft_deflate_len"),
      new ExpressionInfo(classOf[DeflateLength].getName, "graft_deflate_len"),
      (exprs: Seq[Expression]) => {
        if (exprs.length != 1)
          throw new IllegalArgumentException(
            s"graft_deflate_len expects 1 argument (text), got ${exprs.length}")
        DeflateLength(exprs.head)
      }),
    // Pinned-format CSV timestamp rendering (codegen'd integer calendar
    // math — the k2 fast path; see plans/CsvTimestampExpr).
    (FunctionIdentifier("graft_csv_ts"),
      new ExpressionInfo(classOf[CsvTimestampExpr].getName, "graft_csv_ts"),
      (exprs: Seq[Expression]) => {
        if (exprs.length != 1)
          throw new IllegalArgumentException(
            s"graft_csv_ts expects 1 argument (timestamp), got ${exprs.length}")
        CsvTimestampExpr(exprs.head)
      }),
    // Spark's own runtime-filter probe expression (codegen'd, deserializes
    // the sketch once per task): exposed as a function so library code can
    // broadcast a driver-built BloomFilter as a binary literal and probe it
    // without a Scala UDF. Args: (serialized filter BINARY, value BIGINT).
    (FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "graft_might_contain"),
      (exprs: Seq[Expression]) => {
        if (exprs.length != 2)
          throw new IllegalArgumentException(
            s"graft_might_contain expects 2 arguments (filter, value), got ${exprs.length}")
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          exprs.head, exprs(1))
      }))

  /** Resolve argument `idx` as a required integer literal, with a clear
    * analysis-time error otherwise (same contract as graft_shingle_hashes'
    * k — these parameters are baked into the expression tree). */
  private def foldableInt(exprs: Seq[Expression], idx: Int,
                          fn: String, arg: String): Int = {
    if (exprs.length != idx + 1)
      throw new IllegalArgumentException(
        s"$fn expects ${idx + 1} arguments (..., $arg), got ${exprs.length}")
    val e = exprs(idx)
    (if (e.foldable) e.eval() else null) match {
      case n: Number => n.intValue()
      case _ => throw new IllegalArgumentException(
        s"$fn: $arg must be an integer literal (a foldable integral " +
          s"expression); got ${e.sql}")
    }
  }

  /** Idempotently register graft functions into a live session's SQL
    * function registry (for sessions not launched with
    * spark.sql.extensions=graft.plans.GraftExtensions). The Column helpers
    * below do not need it: they build their expressions directly. */
  def ensureRegistered(spark: SparkSession): Unit = {
    val fr = spark.sessionState.functionRegistry
    functions.foreach { case (ident, info, builder) =>
      if (!fr.functionExists(ident)) fr.registerFunction(ident, info, builder)
    }
  }

  private lazy val builders: Map[String, Seq[Expression] => Expression] =
    functions.map { case (ident, _, builder) => ident.funcName -> builder }.toMap

  /** The Column form of SQL function `name`: the same builder (and so the
    * same argument checks) the SQL registry uses, applied to the
    * arguments' expressions. It needs no session state, so every helper
    * below works on any session, registered or not. */
  private def kernel(name: String, args: Column*): Column =
    GraftDatasetBridge.column(builders(name)(args.map(GraftDatasetBridge.expr)))

  /** Column-level native dot product (graft_dot). */
  def dotNative(a: Column, b: Column): Column = kernel("graft_dot", a, b)

  /** Column-level native ordered shingle-hash sequence. Bit-identical to
    * TextFunctions.shingleHashSeqFromTokens; one JVM loop per row. */
  def shingleHashesNative(tokens: Column, k: Int): Column =
    kernel("graft_shingle_hashes", tokens, lit(k))

  /** Column-level native SimHash over a token array. Bit-identical to
    * TextFunctions.simhashFromHashes(tokenHashes(…), bits); one JVM loop
    * per row instead of `bits` interpreted filter passes. */
  def simhashNative(tokens: Column, bits: Int): Column =
    kernel("graft_simhash", tokens, lit(bits))

  /** Column-level native MinHash signature vector over a 60-bit hash-set
    * array. Bit-identical to the HOF formulation in
    * Dedup.minhashSignatures's reference path; null on empty sets. */
  def minhashNative(hashes: Column, numSigs: Int): Column =
    kernel("graft_minhash", hashes, lit(numSigs))

  /** Column-level native text normalization. Byte-identical to
    * TextFunctions.normalizeText's regex formulation (the oracle twin);
    * one byte pass + one allocation per row — see plans.NormalizeText. */
  def normalizeNative(text: Column): Column = kernel("graft_normalize", text)

  /** Column-level native Unicode normalization. `form` ∈
    * NFC|NFD|NFKC|NFKD, baked at construction. NFC matches DuckDB's
    * nfc_normalize (both implement UAX #15). */
  def unicodeNormalizeNative(text: Column, form: String = "NFC"): Column =
    kernel("graft_unicode_normalize", text, lit(form))

  /** Column-level DEFLATE-compressed byte length of a string (the
    * compression-ratio quality signal; see plans.DeflateLength). */
  def deflateLenNative(text: Column): Column = kernel("graft_deflate_len", text)

  /** Column-level Bloom-filter membership probe over a BIGINT column.
    * `filter` is the serialized sketch (normally a binary literal of a
    * driver-built `org.apache.spark.util.sketch.BloomFilter`); the probe
    * runs Spark's codegen'd BloomFilterMightContain, so the filter rides
    * the task binary like any broadcast and deserializes once per task. */
  def mightContainNative(filter: Column, value: Column): Column =
    kernel("graft_might_contain", filter, value)
}

/** SparkSessionExtensions entry point: launch any session with
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions` to get the
  * graft function surface in SQL/DataFrame code plus the custom physical
  * operators (TopKPerKeyStrategy). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.functions.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => TopKPerKeyStrategy)
    ext.injectOptimizerRule(_ => WindowTopKRewrite)
  }
}
