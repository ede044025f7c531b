package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Sparse-vector dot product over two key-SORTED cents vectors — the
  * pair-scoring kernel of the all-pairs sparse cosine family (q138).
  *
  * Input: four long-array columns — (keys_a, cents_a, keys_b, cents_b) —
  * where each (keys, cents) pair is a document's TF-IDF weight vector:
  * `keys` are dictionary ids (a deterministic bijection term → id,
  * so long-key equality ≡ term equality with NO hash-collision contract),
  * `cents` the weights quantized by [[ExactAgg.cents]], both sorted by
  * key. Output: `struct<n_shared: bigint, hi: bigint, lo: bigint>` where,
  * over the keys present in BOTH vectors, `p = c_a · c_b` and
  * `hi = Σ (p >>> 26)`, `lo = Σ (p & (2^26 − 1))` — exactly the
  * accumulators of [[ExactAgg.dsumProd]]'s split-product sum, so
  * `(hi · 2^26 + lo) / 10^4` recombined in the caller IS the dsumProd
  * value bit-for-bit (long adds are exact and order-free).
  *
  * Why an expression, and why parallel primitive arrays: the join-shaped
  * form of this computation expands every candidate pair by the full
  * per-doc posting list (|pairs| × |terms/doc| rows) through a second
  * shuffle join and a pair-keyed hash aggregate — at sf1 that is hundreds
  * of millions of string-keyed rows and a multi-million-group
  * aggregation, the measured GC wall of q138 (38 s of its 51 s isolated).
  * An earlier struct-array variant still allocated an InternalRow wrapper
  * and a UTF8String per element per pair; with two primitive long arrays
  * per side the merge walk is allocation-free (`ArrayData.getLong`).
  *
  * Caller contract: keys are distinct within each vector, both
  * (keys, cents) pairs are sorted by key with equal lengths, and every
  * cents value is >= 0 — the `p >>> 26` split reproduces
  * [[ExactAgg.dsumProd]] only for non-negative products (dsumProd's own
  * caller contract, mirrored here; TF-IDF weights are non-negative by
  * construction). An unsorted, duplicate-keyed, or negative-cents input
  * silently yields a wrong dot, not an error — the q138/q147 call sites
  * pin all three properties in VectorExpressionsSpec. NULL on any null
  * input or a keys/cents length mismatch.
  */
case class SparseDotCents(children: Seq[Expression])
    extends Expression with CodegenFallback {

  private def okType(dt: DataType): Boolean = dt match {
    case ArrayType(LongType, _) => true
    case _                      => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.length == 4 && children.forall(c => okType(c.dataType)))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "sparse_dot_cents expects four array<bigint> inputs (keys_a, cents_a, " +
        s"keys_b, cents_b), got ${children.map(_.dataType.catalogString).mkString(", ")}")

  override def dataType: DataType = StructType(Seq(
    StructField("n_shared", LongType, nullable = false),
    StructField("hi", LongType, nullable = false),
    StructField("lo", LongType, nullable = false)))

  override def nullable: Boolean = true

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val ka = children(0).eval(input); if (ka == null) return null
    val ca = children(1).eval(input); if (ca == null) return null
    val kb = children(2).eval(input); if (kb == null) return null
    val cb = children(3).eval(input); if (cb == null) return null
    val (kas, cas) = (ka.asInstanceOf[ArrayData], ca.asInstanceOf[ArrayData])
    val (kbs, cbs) = (kb.asInstanceOf[ArrayData], cb.asInstanceOf[ArrayData])
    val na = kas.numElements(); val nb = kbs.numElements()
    if (cas.numElements() != na || cbs.numElements() != nb) return null
    var i = 0; var j = 0
    var n = 0L; var hi = 0L; var lo = 0L
    while (i < na && j < nb) {
      val x = kas.getLong(i); val y = kbs.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else {
        val p = cas.getLong(i) * cbs.getLong(j)
        hi += p >>> 26
        lo += p & 67108863L
        n += 1; i += 1; j += 1
      }
    }
    new GenericInternalRow(Array[Any](n, hi, lo))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

object SparseDotExpression {

  private val fnName = "graft_sparse_dot_cents"

  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      fnName,
      exprs => SparseDotCents(exprs),
      "scala_udf")

  /** Merge-walk dot of two key-sorted (keys, cents) long-array vector
    * pairs; returns struct(n_shared, hi, lo). Call [[register]] on the
    * session first. */
  def sparseDotCents(keysA: Column, centsA: Column,
                     keysB: Column, centsB: Column): Column =
    call_function(fnName, keysA, centsA, keysB, centsB)
}
