package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** One-pass exact median/MAD/outlier-count aggregate for q40 (r14 opt,
  * guide §1.2 — don't run three corpus passes for one screening job):
  * the r13 form ran `percentile(x, 0.5)` (collect to driver), then
  * `percentile(|x − med|, 0.5)` (collect), then a third pass counting
  * modified z-score outliers — three scans of the fact table plus two
  * driver round-trips, because each stage's fit fed the next as a
  * literal. All three statistics are functions of the group's value
  * MULTISET, so one buffered aggregate computes them in a single scan:
  * eval sorts the buffer, takes the median with EXACTLY Spark
  * `percentile`'s interpolation arithmetic (`position = p·(n−1)`;
  * `(higher−position)·lower + (position−lower)·higher`, same operand
  * order — bit-identical, RobustStatsSpec pins it against the built-in
  * on ties/even/odd/negative data), derives |x − med| per value, sorts
  * again for the MAD, and counts `ad·0.6745 > mad·3.5` with the same
  * per-value double ops the row-level predicate used.
  *
  * Null inputs are counted (`n` replicates the old `count(1)`) but —
  * like `percentile` — excluded from the order statistics, and a null
  * never tests as an outlier (the old `when(...).otherwise(0)` rule).
  * Output: struct(n long, med double, mad double, n_outliers long);
  * null med/mad when the group has no non-null values. Memory is the
  * group's values as primitive doubles — the same order as the
  * built-in percentile's counts map (this op is the EXACT reference
  * screening job; q26's mergeable sketch remains the 100 TB path). */
case class RobustStatsAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[RobustStatsAgg.Buf] {

  override def children: Seq[Expression] = child :: Nil
  override def nullable: Boolean = false
  override def dataType: DataType = RobustStatsAgg.Out

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case DoubleType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"robust_stats expects double, got ${other.simpleString}")
    }

  override def createAggregationBuffer(): RobustStatsAgg.Buf = new RobustStatsAgg.Buf()

  override def update(buf: RobustStatsAgg.Buf, input: InternalRow): RobustStatsAgg.Buf = {
    val v = child.eval(input)
    if (v == null) buf.nulls += 1
    else buf.append(v.asInstanceOf[Double])
    buf
  }

  override def merge(a: RobustStatsAgg.Buf, b: RobustStatsAgg.Buf): RobustStatsAgg.Buf = {
    a.appendAll(b)
    a.nulls += b.nulls
    a
  }

  override def eval(buf: RobustStatsAgg.Buf): Any = {
    val n = buf.size + buf.nulls
    if (buf.size == 0)
      return new GenericInternalRow(Array[Any](n.toLong, null, null, 0L))
    val v = buf.sortedValues
    val med = RobustStatsAgg.percentileSorted(v, 0.5)
    val ad = new Array[Double](v.length)
    var i = 0
    while (i < v.length) { ad(i) = math.abs(v(i) - med); i += 1 }
    java.util.Arrays.sort(ad)
    val mad = RobustStatsAgg.percentileSorted(ad, 0.5)
    var outliers = 0L
    i = 0
    // identical per-value doubles to the old row predicate
    // `when(ad * 0.6745 > mad * 3.5, 1L)`
    while (i < ad.length) { if (ad(i) * 0.6745 > mad * 3.5) outliers += 1; i += 1 }
    new GenericInternalRow(Array[Any](n.toLong, med, mad, outliers))
  }

  override def serialize(buf: RobustStatsAgg.Buf): Array[Byte] = {
    val bb = ByteBuffer.allocate(RobustStatsAgg.serializedSize(buf.size))
    bb.putInt(buf.size).putLong(buf.nulls)
    var i = 0
    while (i < buf.size) { bb.putDouble(buf.values(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): RobustStatsAgg.Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val buf = new RobustStatsAgg.Buf(math.max(n, 8))
    buf.nulls = bb.getLong()
    var i = 0
    while (i < n) { buf.append(bb.getDouble()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): RobustStatsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): RobustStatsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)

  override def prettyName: String = "robust_stats"
}

object RobustStatsAgg {

  /** Growable primitive double buffer (no boxing — the built-in
    * percentile's OpenHashMap boxes every key). */
  final class Buf(initialCapacity: Int = 64) {
    var values: Array[Double] = new Array[Double](initialCapacity)
    var size: Int = 0
    var nulls: Long = 0L
    def append(d: Double): Unit = {
      if (size == values.length) values = java.util.Arrays.copyOf(values, values.length * 2)
      values(size) = d
      size += 1
    }
    def appendAll(o: Buf): Unit = {
      var i = 0
      while (i < o.size) { append(o.values(i)); i += 1 }
    }
    def sortedValues: Array[Double] = {
      val v = java.util.Arrays.copyOf(values, size)
      java.util.Arrays.sort(v)
      v
    }
  }

  /** Bytes `serialize` writes for `n` values: the Int
    * count, the Long null count and 8 bytes a value, summed in Long so a
    * large group cannot wrap to a small or negative size. Fails, naming
    * the group size, when that exceeds the largest byte array a JVM
    * allocates. */
  private[functions] def serializedSize(n: Int): Int = {
    val bytes = 12L + n.toLong * 8
    require(bytes <= Int.MaxValue - 8,
      s"robust_stats: a group of $n non-null values serializes to $bytes bytes, " +
        s"over the ${Int.MaxValue - 8}-byte array limit")
    bytes.toInt
  }

  val Out: StructType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("med", DoubleType, nullable = true),
    StructField("mad", DoubleType, nullable = true),
    StructField("n_outliers", LongType, nullable = false)))

  /** Spark `Percentile.getPercentile`'s arithmetic on a sorted array:
    * `position = p·(n−1)`; exact hit returns the element, otherwise
    * `(higher−position)·v(lo) + (position−lower)·v(hi)` in that operand
    * and addition order — bit-identical to the built-in (and to DuckDB's
    * quantile_cont, which the built-in is gate-proven against). */
  def percentileSorted(v: Array[Double], p: Double): Double = {
    val position = p * (v.length - 1)
    val lower = math.floor(position)
    val higher = math.ceil(position)
    val lo = lower.toInt
    val hi = higher.toInt
    if (lo == hi) v(lo)
    else (higher - position) * v(lo) + (position - lower) * v(hi)
  }

  import org.apache.spark.sql.graftshim.shim.{toColumn, toExpression}

  def robust_stats(x: Column): Column =
    toColumn(RobustStatsAgg(toExpression(x)).toAggregateExpression())
}
