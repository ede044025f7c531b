package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native MinHash signature over a token array: word k-shingles →
  * [[PortableHash.hash32]] → k-permutation minima, in ONE eval loop.
  *
  * The shingle hash is the engine-portable polynomial fold, the only
  * sketch hash in the library: any SQL engine can replay it, so the DuckDB
  * oracle recomputes every signature (`SketchOracleSql`). A composable
  * transform/aggregate/zip_with form would run through Catalyst's
  * interpreted higher-order-function machinery — HOFs are
  * CodegenFallback, so every lambda application walks an expression tree
  * per element (~8M interpreted node evaluations per 5k documents). This
  * expression is also CodegenFallback, but its eval is a straight Scala
  * loop: each shingle is hashed once and all 32 permutation minima update
  * in primitive long arithmetic.
  */
case class MinHashSignature(child: Expression, k: Int, a: Array[Long], b: Array[Long])
    extends UnaryExpression with CodegenFallback {

  private val prime = 4294967311L // smallest prime > 2^32

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_signature expects array<string>, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val tokens = input.asInstanceOf[ArrayData]
    val n = tokens.numElements()
    val nPerm = a.length
    val mins = Array.fill(nPerm)(prime)
    val sb = new java.lang.StringBuilder(64)

    def updateFromShingle(s: UTF8String): Unit = {
      val h = PortableHash.hash32(s)
      var j = 0
      while (j < nPerm) {
        val v = (a(j) * h + b(j)) % prime
        if (v < mins(j)) mins(j) = v
        j += 1
      }
    }

    if (n < k) {
      // short doc: the whole token string is the single shingle
      sb.setLength(0)
      var i = 0
      while (i < n) {
        if (i > 0) sb.append(' ')
        sb.append(tokens.getUTF8String(i).toString)
        i += 1
      }
      updateFromShingle(UTF8String.fromString(sb.toString))
    } else {
      var i = 0
      while (i <= n - k) {
        sb.setLength(0)
        var j = i
        while (j < i + k) {
          if (j > i) sb.append(' ')
          sb.append(tokens.getUTF8String(j).toString)
          j += 1
        }
        updateFromShingle(UTF8String.fromString(sb.toString))
        i += 1
      }
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object MinHashExpression {

  private val fnName = "graft_minhash_sig"

  /** The permutation constants h_j(x) = (a_j·x + b_j) mod p — shared with
    * the DuckDB oracle replay (`SketchOracleSql`) and the reimplementation
    * test, so the three cannot drift. a_j < 2^29 keeps a·x below 2^61. */
  val permPairs: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(32)((rnd.nextInt((1 << 29) - 1).toLong + 1, rnd.nextInt(Int.MaxValue).toLong))
  }

  private val perms: (Array[Long], Array[Long]) =
    (permPairs.map(_._1).toArray, permPairs.map(_._2).toArray)

  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      fnName,
      exprs => MinHashSignature(PortableHash.oneArg(fnName, exprs), 3, perms._1, perms._2),
      "scala_udf")
  }

  /** MinHash signature (array of 32 longs) of a token-array column. */
  def minhashSig(tokens: Column): Column = call_function(fnName, tokens)
}
