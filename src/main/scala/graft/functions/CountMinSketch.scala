package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Count-Min sketch (Cormode & Muthukrishnan, "An improved data stream
  * summary: the count-min sketch and its applications", 2005): approximate
  * frequency counts in FIXED memory — `depth × width` long counters,
  * mergeable by elementwise addition.
  *
  * Why next to the exact bigram aggregate ([[graft.ext.TextAnalysis
  * .frequentBigrams]]): the exact plan shuffles one partial row per
  * DISTINCT key, and a web-scale corpus has billions of distinct n-grams —
  * the shuffle grows with vocabulary. The sketch's shuffle is a constant
  * 64 KiB per partition regardless of input size; probing it answers
  * point-frequency queries with one-sided error (estimate ≥ true count,
  * ≤ true + εN with ε ≈ e/width, probability 1 − e^−depth). The exact
  * top-k remains the small-SF gold standard; the sketch is what survives
  * 100 TB.
  *
  * Keys hash with [[PortableHash.hash32]], the MinHash shingle hash, so a
  * SQL engine can replay every counter — the lane constants are explicit
  * literals, embedded in the DuckDB oracle verbatim.
  */
object CountMinSketch {

  val Depth = 4
  val Width = 2048
  val P: Long = PortableHash.P32 // lane-permutation modulus (1e9+7)

  /** Lane permutation constants (a < 2^29 keeps a·h below 2^59 for
    * h < P; b < P). Explicit literals — the oracle embeds them. */
  val LaneA: Array[Long] = Array(236715711L, 430544759L, 18273701L, 506690487L)
  val LaneB: Array[Long] = Array(774497033L, 287514649L, 905031851L, 43569047L)

  private def bucket(lane: Int, h: Long): Int =
    (((LaneA(lane) * h + LaneB(lane)) % P) % Width).toInt

  /** JVM-side update for custom-state consumers (streaming heavy hitters
    * hold the counter matrix in a GroupState buffer): identical arithmetic
    * to [[CmsAgg]], so estimates agree with the batch aggregate. */
  def updateCounters(buf: Array[Long], key: String): Unit = {
    val h = PortableHash.hash32(UTF8String.fromString(key))
    var i = 0
    while (i < Depth) { buf(i * Width + bucket(i, h)) += 1L; i += 1 }
  }

  /** JVM-side point estimate over a counter matrix (min across lanes). */
  def estimateCount(buf: Array[Long], key: String): Long = {
    val h = PortableHash.hash32(UTF8String.fromString(key))
    var best = Long.MaxValue
    var i = 0
    while (i < Depth) {
      val c = buf(i * Width + bucket(i, h))
      if (c < best) best = c
      i += 1
    }
    best
  }

  /** The sketch aggregate: evals to the full counter matrix as
    * `array<long>` of length Depth×Width (lane-major), so probing is plain
    * `element_at` arithmetic — no custom reader expression, and the
    * broadcast of a materialized sketch row stays codegen-friendly. */
  case class CmsAgg(
      child: Expression,
      override val mutableAggBufferOffset: Int = 0,
      override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_cms_sketch expects a string key column, got ${other.catalogString}")
    }

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = false
    override def prettyName: String = "graft_cms_sketch"

    override def createAggregationBuffer(): Array[Long] = new Array[Long](Depth * Width)

    override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
      val v = child.eval(input)
      if (v != null) {
        val h = PortableHash.hash32(v.asInstanceOf[UTF8String])
        var i = 0
        while (i < Depth) { buffer(i * Width + bucket(i, h)) += 1L; i += 1 }
      }
      buffer
    }

    override def merge(buffer: Array[Long], other: Array[Long]): Array[Long] = {
      var i = 0
      while (i < buffer.length) { buffer(i) += other(i); i += 1 }
      buffer
    }

    override def eval(buffer: Array[Long]): Any = new GenericArrayData(buffer.clone())

    override def serialize(buffer: Array[Long]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 * buffer.length)
      var i = 0
      while (i < buffer.length) { bb.putLong(buffer(i)); i += 1 }
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): Array[Long] = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val out = new Array[Long](bytes.length / 8)
      var i = 0
      while (i < out.length) { out(i) = bb.getLong(); i += 1 }
      out
    }

    override def withNewMutableAggBufferOffset(newOffset: Int): CmsAgg =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): CmsAgg =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Scalar twin of the sketch's internal key hash, for the probe side:
    * the same [[PortableHash.hash32]] the aggregate permutes into buckets.
    * CodegenFallback — probes run over top-k candidate lists (hundreds of
    * rows), not the corpus. */
  case class CmsKeyHash(child: Expression)
      extends UnaryExpression with CodegenFallback {

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_cms_key_hash expects a string key column, got ${other.catalogString}")
    }

    override def dataType: DataType = LongType

    override def nullSafeEval(input: Any): Any =
      PortableHash.hash32(input.asInstanceOf[UTF8String])

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  private[graft] val aggFnName = "graft_cms_sketch"
  private[graft] val hashFnName = "graft_cms_key_hash"

  /** SQL builders shared by [[register]] and [[graft.core.GraftExtensions]]. */
  private[graft] def buildSketch(exprs: Seq[Expression]): Expression =
    CmsAgg(PortableHash.oneArg(aggFnName, exprs))
  private[graft] def buildKeyHash(exprs: Seq[Expression]): Expression =
    CmsKeyHash(PortableHash.oneArg(hashFnName, exprs))

  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(aggFnName, buildSketch, "scala_udf")
    reg.createOrReplaceTempFunction(hashFnName, buildKeyHash, "scala_udf")
  }

  /** CMS counter matrix (array<long>, lane-major) over a string key column.
    * Call [[register]] first. */
  def cmsSketch(key: Column): Column = call_function(aggFnName, key)

  /** The key hash used by the sketch — combine with [[estimate]]. */
  def keyHash(key: Column): Column = call_function(hashFnName, key)

  /** Point-frequency estimate: min over lanes of the counter each lane
    * hashes `keyHashCol` into. Pure built-in arithmetic (codegen'd). */
  def estimate(state: Column, keyHashCol: Column): Column = {
    import org.apache.spark.sql.functions._
    val perLane = (0 until Depth).map { i =>
      element_at(state,
        (lit(i * Width) +
          pmod(pmod(lit(LaneA(i)) * keyHashCol + lit(LaneB(i)), lit(P)), lit(Width)) +
          lit(1)).cast("int"))
    }
    least(perLane: _*)
  }
}
