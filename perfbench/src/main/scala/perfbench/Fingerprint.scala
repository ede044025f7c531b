package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row count plus an order-independent content fingerprint of a frame.
  *
  * Each row is rendered to a canonical string and hashed; the hashes are
  * summed (mod 2^64), so row order and partitioning do not matter. Doubles
  * are rendered to 8 significant digits (a sum accumulated in a different
  * order may differ in the last bits), arrays and maps are rendered as
  * sorted element lists (`collect_list` order is not defined), and -0.0
  * folds into 0.0. */
final case class Fingerprint(rows: Long, hash: String, schema: String)

object Fingerprint {

  def canonical(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType =>
      when(c.isNotNull, format_string("%.8g", c.cast(DoubleType) + lit(0.0)))
    case ArrayType(et, _) => array_sort(transform(c, x => canonical(x, et)))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e => concat(
        canonical(e.getField("key"), kt), lit("="),
        coalesce(canonical(e.getField("value"), vt), lit("null")))))
    case st: StructType =>
      when(c.isNotNull, to_json(struct(st.fields.zipWithIndex.map { case (f, i) =>
        canonical(c.getField(f.name), f.dataType).as(s"f$i")
      }.toIndexedSeq: _*)))
    case BinaryType => hex(c)
    case _ => c.cast(StringType)
  }

  /** Canonical text of a whole row, the unit the fingerprint hashes. */
  def rowText(df: DataFrame): Column =
    to_json(struct(df.schema.fields.zipWithIndex.map { case (f, i) =>
      canonical(col(s"`${f.name}`"), f.dataType).as(s"c$i")
    }.toIndexedSeq: _*))

  private val Mod64 = BigInt(1) << 64

  def of(df: DataFrame): Fingerprint = {
    val r = df.agg(
      count(lit(1)),
      sum(xxhash64(rowText(df)).cast(DecimalType(38, 0)))).head()
    val sumHash = Option(r.getDecimal(1)).map(d => BigInt(d.toBigInteger))
      .getOrElse(BigInt(0))
    Fingerprint(r.getLong(0), ((sumHash % Mod64 + Mod64) % Mod64).toString(16),
      df.schema.simpleString)
  }
}
