package graft.sql

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Count-Min sketch (Cormode & Muthukrishnan 2005) — the sketch vehicle
  * for threshold heavy hitters at corpus scale (q84). The sketch is a
  * d×w counter grid updated map-side and merged by elementwise addition
  * (a [[TypedImperativeAggregate]] with a constant 32 KB buffer — the
  * whole point: the aggregation exchanges ONE sketch row, never the
  * full key space), and its estimate NEVER undercounts
  * (est(x) = min_j grid[j][h_j(x)] ≥ true(x)), so filtering on
  * est ≥ T provably keeps every truly-heavy key — the same
  * sketch-prefilter-then-exact-refine contract as q65's Bloom
  * decontamination twin. */
object CmSketch {
  val Depth = 4
  val Width = 1024
  private val Seed0 = 0x9747b28c

  def bucket(bytes: Array[Byte], j: Int): Int =
    (scala.util.hashing.MurmurHash3.bytesHash(bytes, Seed0 + j)
      & 0x7fffffff) % Width

  def estimate(grid: Array[Long], bytes: Array[Byte]): Long = {
    var best = Long.MaxValue
    var j = 0
    while (j < Depth) {
      val v = grid(j * Width + bucket(bytes, j))
      if (v < best) best = v
      j += 1
    }
    best
  }

  def serialize(grid: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(grid.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    grid.foreach(bb.putLong)
    bb.array()
  }

  def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    Array.fill(Depth * Width)(bb.getLong)
  }
}

/** `cm_sketch_agg(term)`: fold a string stream into one serialized
  * Count-Min grid. Map-side partials are full sketches; merge is
  * elementwise add — associative and commutative, so the result is
  * identical under any partitioning. */
case class CountMinAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](CmSketch.Depth * CmSketch.Width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val bytes = v.asInstanceOf[UTF8String].getBytes
      var j = 0
      while (j < CmSketch.Depth) {
        buf(j * CmSketch.Width + CmSketch.bucket(bytes, j)) += 1L
        j += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = CmSketch.serialize(buf)
  override def serialize(buf: Array[Long]): Array[Byte] = CmSketch.serialize(buf)
  override def deserialize(bytes: Array[Byte]): Array[Long] =
    CmSketch.deserialize(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): CountMinAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CountMinAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
  override def prettyName: String = "cm_sketch_agg"
}

/** `cm_est(term, sketch_literal)`: the frozen sketch's never-undercounting
  * estimate, as a codegen'd map-side probe (the Bloom `might_contain`
  * analogue). The sketch argument must be foldable (a literal — the q65
  * pattern: a model artifact baked into the plan, broadcast with it);
  * it is deserialized once per instance, not per row. */
case class CmEst(left: Expression, right: Expression) extends GraftBinary {
  require(right.foldable, "cm_est expects a foldable (literal) sketch")
  override def dataType: DataType = LongType

  @transient private lazy val grid: Array[Long] =
    CmSketch.deserialize(right.eval(null).asInstanceOf[Array[Byte]])

  override def compute(a: Any, b: Any): Any =
    CmSketch.estimate(grid, a.asInstanceOf[UTF8String].getBytes)

  override def prettyName: String = "cm_est"
}
