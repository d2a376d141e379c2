package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive answer fingerprint of a query result, computed by
  * ONE action that reads every output column (so Catalyst cannot prune
  * any of them, unlike `count()`).
  *
  * Each row hashes to `xxhash64` over all its columns; the fingerprint
  * is the row count plus the sums of the low and high 32-bit halves of
  * the row hashes. Each half is below 2^32, so the sums cannot overflow
  * a long below 2^31 rows — a plain `sum(xxhash64(...))` throws
  * ARITHMETIC_OVERFLOW under ANSI mode.
  *
  * Doubles are rounded to float precision before hashing (and -0.0
  * folded into 0.0), so a result whose last bits depend on the
  * summation order still hashes the same. Map entries are sorted, so
  * map insertion order does not matter. Array element order does
  * matter: the operators produce ordered arrays.
  */
object Fingerprint {
  final case class Value(rows: Long, lo: Long, hi: Long)

  def of(df: DataFrame): Value = {
    val fields = df.schema.fields.toSeq
    // positional names: output columns may repeat a name or contain dots
    val named = df.toDF(fields.indices.map(i => s"c$i"): _*)
    val cols = fields.zipWithIndex.map { case (f, i) => canon(col(s"c$i"), f.dataType) }
    val h = col("h")
    val r = named.select(xxhash64(cols: _*).as("h"))
      .agg(
        count(lit(1)),
        coalesce(sum(h.bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)),
        coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)))
      .head()
    Value(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  private def needsCanon(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType | _: MapType => true
    case ArrayType(et, _) => needsCanon(et)
    case StructType(fs) => fs.exists(f => needsCanon(f.dataType))
    case _ => false
  }

  private def canon(c: Column, dt: DataType): Column = dt match {
    case _ if !needsCanon(dt) => c
    case DoubleType => c.cast(FloatType) + lit(0.0f)
    case FloatType => c + lit(0.0f)
    case ArrayType(et, _) => transform(c, canon(_, et))
    case StructType(fs) =>
      when(c.isNotNull,
        struct(fs.toSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, n) =>
      val entry = StructType(Seq(StructField("key", kt, nullable = false), StructField("value", vt, n)))
      array_sort(canon(map_entries(c), ArrayType(entry, containsNull = false)))
  }
}
