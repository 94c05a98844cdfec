package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Growable primitive buffer of every aggregated value — the same
  * whole-multiset state the builtin `percentile` keeps, minus the
  * boxing (its OpenHashMap stores java.lang.Double keys and pays a
  * hash probe per row; at the final merge it re-boxes and sorts
  * key-count pairs single-threaded).
  */
final class DoubleBufferState(var arr: Array[Double], var n: Int) {
  def add(x: Double): Unit = {
    if (n == arr.length)
      arr = java.util.Arrays.copyOf(arr, math.max(64, arr.length << 1))
    arr(n) = x
    n += 1
  }
}

/** EXACT percentiles as a native aggregate over a primitive double
  * buffer — a drop-in for the builtin `percentile(col, ps)` on the
  * small-input route of [[graft.operators.Percentiles]] (the
  * distributed rank pipeline stays the scale path; this buffer, like
  * the builtin's map, holds the whole multiset and is only used under
  * the documented size threshold).
  *
  * BIT-IDENTICAL to `Percentile.getPercentile` by construction:
  *  - the value at global rank r of the sorted multiset is
  *    `sorted(r)` — `java.util.Arrays.sort(double[])` applies the
  *    same total order as the builtin's key ordering
  *    (java.lang.Double.compare: -0.0 < 0.0, NaN largest);
  *  - position = p * (n − 1), lower = floor, higher = ceil — the
  *    identical double arithmetic;
  *  - no interpolation when higher == lower, and none when the two
  *    rank KEYS are equal — key equality is PRIMITIVE (the builtin's
  *    counts map merges −0.0 and +0.0 into one key, so ranks never
  *    interpolate across a signed-zero pair; the builtin's surviving
  *    representative is arrival-order-dependent there, while this
  *    kernel deterministically returns the sort-lower value — equal
  *    under every SQL comparison, so no gated output can differ);
  *  - otherwise `(higher − position) * lo + (position − lower) * hi`;
  *  - null inputs are skipped; an empty buffer evaluates to null.
  *
  * Merge order cannot matter: the buffer is sorted once at eval, so
  * the result is a pure function of the multiset — safe under
  * Spark's nondeterministic partial aggregation.
  */
case class ExactPercentiles(
    child: Expression,
    ps: Seq[Double],
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[DoubleBufferState]
  with UnaryLike[Expression] {

  require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1),
    s"percentiles must be in [0,1], got $ps")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_percentile_exact"

  override def createAggregationBuffer(): DoubleBufferState =
    new DoubleBufferState(new Array[Double](64), 0)

  override def update(buffer: DoubleBufferState, input: InternalRow): DoubleBufferState = {
    val v = child.eval(input)
    if (v != null) buffer.add(v.asInstanceOf[Double])
    buffer
  }

  override def merge(buffer: DoubleBufferState, other: DoubleBufferState): DoubleBufferState = {
    var i = 0
    while (i < other.n) { buffer.add(other.arr(i)); i += 1 }
    buffer
  }

  override def eval(buffer: DoubleBufferState): Any = {
    if (buffer.n == 0) return null
    val sorted = java.util.Arrays.copyOf(buffer.arr, buffer.n)
    java.util.Arrays.sort(sorted)
    val n = buffer.n
    def at(p: Double): Double = {
      val position = p * (n - 1).toDouble
      val lower = math.floor(position).toLong
      val higher = math.ceil(position).toLong
      val lo = sorted(lower.toInt)
      if (higher == lower) return lo
      val hi = sorted(higher.toInt)
      if (lo == hi) return lo
      (higher - position) * lo + (position - lower) * hi
    }
    new GenericArrayData(ps.map(at).toArray)
  }

  override def serialize(buffer: DoubleBufferState): Array[Byte] = {
    val bos = new ByteArrayOutputStream(4 + buffer.n * 8)
    val out = new DataOutputStream(bos)
    out.writeInt(buffer.n)
    var i = 0
    while (i < buffer.n) { out.writeDouble(buffer.arr(i)); i += 1 }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): DoubleBufferState = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val arr = new Array[Double](math.max(64, n))
    var i = 0
    while (i < n) { arr(i) = in.readDouble(); i += 1 }
    new DoubleBufferState(arr, n)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ExactPercentiles =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ExactPercentiles =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): ExactPercentiles =
    copy(child = newChild)
}
