package graft

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.plans.GraftFunctions
import graft.plans.GraftFunctions._

/** The `GraftFunctions` Column helpers build their kernel expressions
  * directly, through the same builders the SQL registry holds: they
  * evaluate on a session with no graft function registered, register
  * none, and give the SQL path's results and column names. */
class KernelColumnSpec extends SparkSpec {

  private def frame(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      (Seq(1.0, 2.0), Seq(3.0, 4.0), Seq("a", "b", "c"), Seq(11L, 12L, 13L), "Ｔhe  Cat, sat!", 7L),
      (Seq(0.5), Seq(1.0, 2.0), Seq("x"), Seq(5L), "", 8L),
      (null, null, null, null, null, 9L)
    ).toDF("x", "y", "toks", "hs", "text", "v")
  }

  private val bloom: Array[Byte] = {
    val f = BloomFilter.create(100, 0.01)
    f.putLong(7L)
    val out = new ByteArrayOutputStream()
    f.writeTo(out)
    out.toByteArray
  }

  /** Each helper beside its SQL function call. */
  private val cases: Seq[(Column, Column)] = Seq(
    dotNative(col("x"), col("y")) -> call_function("graft_dot", col("x"), col("y")),
    shingleHashesNative(col("toks"), 2) ->
      call_function("graft_shingle_hashes", col("toks"), lit(2)),
    simhashNative(col("toks"), 16) -> call_function("graft_simhash", col("toks"), lit(16)),
    minhashNative(col("hs"), 4) -> call_function("graft_minhash", col("hs"), lit(4)),
    normalizeNative(col("text")) -> call_function("graft_normalize", col("text")),
    unicodeNormalizeNative(col("text"), "NFKC") ->
      call_function("graft_unicode_normalize", col("text"), lit("NFKC")),
    deflateLenNative(col("text")) -> call_function("graft_deflate_len", col("text")),
    mightContainNative(lit(bloom), col("v")) ->
      call_function("graft_might_contain", lit(bloom), col("v")))

  test("every Column helper evaluates on a session with no graft function registered") {
    val bare = spark.newSession()
    val registry = bare.sessionState.functionRegistry
    val idents = GraftFunctions.functions.map(_._1)
    // a session built with the graft extensions hands them to newSession()
    idents.foreach(registry.dropFunction)
    def registered = idents.filter(registry.functionExists)
    assert(registered === Nil)

    val direct = frame(bare).select(col("v") +: cases.map(_._1): _*).orderBy("v")
    GraftFunctions.ensureRegistered(spark)
    val viaSql = frame(spark).select(col("v") +: cases.map(_._2): _*).orderBy("v")
    assert(direct.columns.toSeq === viaSql.columns.toSeq)
    val rows = direct.collect().toSeq
    assert(rows === viaSql.collect().toSeq)
    assert(rows.head.getDouble(1) === 11.0)
    assert(rows.head.getBoolean(8))
    assert(registered === Nil, "a helper registered a function on the session")
  }

  test("helpers keep the SQL builders' argument checks") {
    val e = intercept[IllegalArgumentException] {
      unicodeNormalizeNative(col("text"), "NFX")
    }
    assert(e.getMessage.contains("unknown form 'NFX'"))
  }
}
