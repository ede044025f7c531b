package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Native SimHash over a token array: per token, each bit of
  * [[PortableHash.hash62]](token) votes ±1; the sign of each bit-sum forms
  * the 64-bit fingerprint. One eval loop — same reasoning as
  * [[MinHashSignature]] (a SQL higher-order-function form walks an
  * interpreted expression tree 64× per token). The token hash has 62
  * bits: bits 62..63 always vote -1, so those fingerprint bits are 0 —
  * in the DuckDB oracle replay too.
  */
case class SimHash(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash expects array<string>, got ${other.catalogString}")
  }

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any = {
    val tokens = input.asInstanceOf[ArrayData]
    val n = tokens.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = PortableHash.hash62(tokens.getUTF8String(i))
      var b = 0
      while (b < 64) {
        if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) fp |= (1L << b)
      b += 1
    }
    java.lang.Long.valueOf(fp)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object SimHashExpression {
  private[graft] val fnName = "graft_simhash"

  /** The SQL builder shared by [[register]] and [[graft.core.GraftExtensions]]. */
  private[graft] def build(exprs: Seq[Expression]): Expression =
    SimHash(PortableHash.oneArg(fnName, exprs))

  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      fnName, build, "scala_udf")

  def simhash(tokens: Column): Column = call_function(fnName, tokens)
}
