package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Mutable bounded top-k buffer: (score, id) pairs under the order
  * score DESC, id ASC. Kept unsorted and compacted whenever it doubles
  * past k, so update cost is amortized O(1) plus an O(2k·log 2k) sort
  * every k inserts — not a per-row heap rebalance.
  */
final class TopKBuffer(var entries: ArrayBuffer[(Double, Long)])

/** `graft_topk(score, id, k)`: per-group top-k (score, id) pairs by
  * score DESC (ties: id ASC), as a native Catalyst
  * [[TypedImperativeAggregate]] — the bounded-memory replacement for
  * the window formulation `row_number() OVER (PARTITION BY key ORDER BY
  * score DESC) <= k`.
  *
  * Why it exists (the 100 TB story): the window plan shuffles EVERY
  * input row to its key's partition and sorts there — per-key top-k
  * over a fact table moves the whole table. This aggregate participates
  * in partial aggregation (ObjectHashAggregate): each map task reduces
  * its slice to ≤ k entries per key BEFORE the exchange, so the shuffle
  * carries at most k·|keys| rows per partition regardless of input
  * size — the same map-side-combine asymmetry that makes word count
  * scale. The in-memory buffer is bounded by 2k−1 entries per (key,
  * partition) (compaction is amortized, every k inserts); the
  * SERIALIZED form that crosses the shuffle is compacted to ≤ k.
  *
  * NaN scores order GREATEST (Spark's nan-safe double ordering), same
  * as the window formulation's `ORDER BY score DESC`. Rows with a null
  * score or id are IGNORED — the window form would rank null scores
  * last (DESC = NULLS LAST), so the two formulations agree exactly
  * whenever a group has ≥ k non-null rows or no nulls at all (TPC-H
  * o_totalprice/o_orderkey are non-null).
  *
  * Returns `array<struct<score double, id bigint>>` sorted by the
  * ranking order, so `posexplode` yields (rank-1, entry) directly.
  */
case class TopKByScore(
    score: Expression,
    id: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] {

  private lazy val k: Int = kExpr.eval().asInstanceOf[Number].intValue()

  override def children: Seq[Expression] = Seq(score, id, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("score", DoubleType, nullable = false),
                   StructField("id", LongType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (score.dataType != DoubleType || id.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_topk expects (double, bigint, int), got " +
          s"(${score.dataType.simpleString}, ${id.dataType.simpleString})")
    else if (!Seq(ByteType, ShortType, IntegerType, LongType).contains(kExpr.dataType) ||
             !kExpr.foldable || kExpr.eval() == null ||
             kExpr.eval().asInstanceOf[Number].longValue() <= 0)
      TypeCheckResult.TypeCheckFailure(
        "graft_topk k must be a positive integral literal")
    else TypeCheckResult.TypeCheckSuccess

  /** Spark's nan-safe double compare (NaN greatest, NaN == NaN): a
    * TOTAL order, so sortWith never sees an intransitive comparator
    * (naive `>` is not a strict weak order once NaN appears — TimSort
    * throws on it), and NaN placement matches the window formulation.
    */
  private def nanSafeCompare(x: Double, y: Double): Int =
    if (x < y) -1
    else if (x > y) 1
    else if (x == y) 0
    else if (x.isNaN && y.isNaN) 0
    else if (x.isNaN) 1
    else -1

  /** score DESC, id ASC — must match the window formulation's ORDER BY
    * exactly so results are interchangeable.
    */
  private def lt(a: (Double, Long), b: (Double, Long)): Boolean = {
    val c = nanSafeCompare(a._1, b._1)
    c > 0 || (c == 0 && a._2 < b._2)
  }

  private def compact(buf: TopKBuffer): Unit =
    if (buf.entries.length > k) {
      val sorted = buf.entries.sortWith(lt)
      buf.entries = sorted.take(k)
    }

  override def createAggregationBuffer(): TopKBuffer =
    new TopKBuffer(ArrayBuffer.empty)

  override def update(buf: TopKBuffer, input: InternalRow): TopKBuffer = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null) {
      buf.entries += ((s.asInstanceOf[Double], i.asInstanceOf[Long]))
      if (buf.entries.length >= 2 * k) compact(buf)
    }
    buf
  }

  override def merge(buf: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    buf.entries ++= other.entries
    compact(buf)
    buf
  }

  override def eval(buf: TopKBuffer): Any = {
    val sorted = buf.entries.sortWith(lt).take(k)
    new GenericArrayData(sorted.map(p => InternalRow(p._1, p._2)).toArray[Any])
  }

  override def serialize(buf: TopKBuffer): Array[Byte] = {
    compact(buf) // the shuffle carries at most k entries
    val bb = ByteBuffer.allocate(4 + buf.entries.length * 16)
    bb.putInt(buf.entries.length)
    buf.entries.foreach { case (s, i) => bb.putDouble(s); bb.putLong(i) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val entries = ArrayBuffer.fill(n)((bb.getDouble, bb.getLong))
    new TopKBuffer(entries)
  }

  override def withNewMutableAggBufferOffset(offset: Int): TopKByScore =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TopKByScore =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(score = newChildren(0), id = newChildren(1), kExpr = newChildren(2))
}

object TopKFunctions {
  private val FnName = "graft_topk"

  /** Register once per session; idempotent (same pattern as
    * [[VectorFunctions.register]]): a session that already has the
    * function — [[graft.GraftExtensions]] injects it at session build —
    * keeps its builder, so repeated `topK` columns neither replace it
    * nor log the replacement.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(FnName)))
      reg.createOrReplaceTempFunction(
        FnName, exprs => TopKByScore(exprs(0), exprs(1), exprs(2))
          .toAggregateExpression(), "built-in")
  }

  /** `topK(score, id, k)` aggregate column. */
  def topK(spark: SparkSession, score: Column, id: Column, k: Column): Column = {
    register(spark)
    call_function(FnName, score, id, k)
  }
}
