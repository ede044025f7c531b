package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Engine-portable polynomial string hashing — the one hash family behind
  * every sketch (MinHash, SimHash, Count-Min).
  *
  * A left-fold polynomial hash over the string's code points,
  * `acc = (acc * BASE + codePoint) mod P`, which any SQL engine can replay
  * with a char split + fold (DuckDB:
  * `list_reduce(list_transform(string_split(s,''), c -> unicode(c)), ...)`),
  * so the DuckDB oracle — or any downstream system that wants to recompute
  * our fingerprints — reproduces every sketch value exactly.
  *
  * Contract notes:
  *  - all arithmetic stays below 2^62 so engines that error on int64
  *    overflow (DuckDB) evaluate it exactly;
  *  - defined over Unicode code points; for the ASCII corpora these tables
  *    carry, code points == bytes == chars in every engine;
  *  - the polynomial fold is not an adversarial-input-grade hash, but for
  *    MinHash/SimHash sketching over natural tokens its distribution is
  *    adequate (base 131 / Mersenne-ish moduli, the classic Rabin-Karp
  *    family).
  */
object PortableHash {

  /** Modulus for the 30-bit hash used by MinHash shingles (fits a*h in 59
    * bits with the existing permutation constants a < 2^29). */
  val P32 = 1000000007L

  /** Moduli for the two 31-bit lanes of the 62-bit token hash. */
  val PA = 2147483647L // 2^31 - 1
  val PB = 2147483629L // largest prime < 2^31

  val BaseA = 131L
  val BaseB = 137L

  private def fold(s: UTF8String, base: Long, mod: Long): Long = {
    // ASCII fast path: UTF-8 bytes ARE the code points, so fold the byte
    // buffer directly — no String allocation per value (these folds run
    // once per shingle/token across the corpus)
    val n = s.numBytes()
    var acc = 0L
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (b < 0) return foldUnicode(s, base, mod) // non-ASCII: general path
      acc = (acc * base + b) % mod
      i += 1
    }
    acc
  }

  private def foldUnicode(s: UTF8String, base: Long, mod: Long): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      acc = (acc * base + cp) % mod
      i += Character.charCount(cp)
    }
    acc
  }

  /** 30-bit polynomial hash (base 131 mod 1e9+7) — the MinHash shingle
    * hash and the Count-Min key hash. */
  def hash32(s: UTF8String): Long = fold(s, BaseA, P32)

  /** 62-bit token hash: two independent 31-bit polynomial lanes packed as
    * `laneA << 31 | laneB` — the SimHash token hash.
    * Bits 62 and 63 are always zero (documented; SimHash bit-votes there
    * are uniformly -1, so fingerprint bits 62..63 are 0 in both engines). */
  def hash62(s: UTF8String): Long =
    (fold(s, BaseA, PA) << 31) | fold(s, BaseB, PB)

  /** Code points of a string as a BIGINT list, matching the Scala fold on
    * EMPTY strings too: DuckDB's `string_split('', '')` yields `['']` and
    * `unicode('')` is -1, which would hash '' to -1 where the Scala fold
    * over zero characters returns the seed 0 — the filter drops that
    * phantom element (and nothing else: real characters are never ''). */
  private def codePoints(expr: String): String =
    s"list_transform(list_filter(string_split($expr, ''), c -> c <> ''), c -> CAST(unicode(c) AS BIGINT))"

  /** DuckDB SQL replaying [[hash32]] over a string-valued SQL expression. */
  def hash32Sql(expr: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  ${codePoints(expr)}),
       |  (acc, x) -> (acc * $BaseA + x) % $P32)""".stripMargin

  /** DuckDB SQL replaying [[hash62]]. */
  def hash62Sql(expr: String): String = {
    def lane(base: Long, mod: Long) =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |  ${codePoints(expr)}),
         |  (acc, x) -> (acc * $base + x) % $mod)""".stripMargin
    s"((${lane(BaseA, PA)}) * 2147483648 + (${lane(BaseB, PB)}))"
  }

  /** Portable fold of a BIGINT list into one value — used to hash MinHash
    * band slices into LSH bucket ids: `acc = (acc * 131 + v) mod 1e9+7`.
    * Elements must be < 2^32 (true for permutation minima < prime 2^32+15)
    * so `acc * 131 + v < 2^37 + 2^32` never overflows. */
  def foldLongsSql(listExpr: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), $listExpr), (acc, x) -> (acc * $BaseA + x) % $P32)"

  private val hash62FnName = "graft_hash62"

  /** The single argument of a one-argument SQL function call; any other
    * arity is the analyzer's wrong-number-of-arguments error. */
  private[graft] def oneArg(name: String, exprs: Seq[Expression]): Expression =
    if (exprs.length == 1) exprs.head
    else throw new org.apache.spark.sql.AnalysisException(
      "WRONG_NUM_ARGS.WITHOUT_SUGGESTION", Map(
        "functionName" -> s"`$name`", "expectedNum" -> "1",
        "actualNum" -> exprs.length.toString,
        "docroot" -> org.apache.spark.SPARK_DOC_ROOT))

  /** Register [[Hash62]] so [[hash62Col]] can plan it. */
  def registerHash62(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      hash62FnName, exprs => Hash62(exprs.head), "scala_udf")

  /** [[hash62]] as a column expression (one native eval per row — the
    * per-row canonical-string hash behind the q211 corpus checksum). */
  def hash62Col(s: Column): Column = call_function(hash62FnName, s)
}

/** Native column form of [[PortableHash.hash62]]. */
case class Hash62(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_hash62 expects string, got ${other.catalogString}")
  }

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(
      PortableHash.hash62(input.asInstanceOf[UTF8String]))

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
