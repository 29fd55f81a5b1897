package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.CatalystColumns.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Fixed-slot positional tile aggregate: `tile_pack(pos, value, slots)`
  * assembles the dense row-major `values` array of one raster tile in a
  * single aggregate, replacing the r16 formulation
  * {{{
  *   array_sort(collect_list(struct(pos, value)))            // __p
  *   when(size(__p) === w*h, transform(__p, _.value))
  *     .otherwise(transform(sequence(0, w*h-1),
  *                          i => element_at(map_from_entries(__p), i)))
  * }}}
  * Guide §5 (memory/aggregation): the old shape pays a per-cell struct
  * allocation, an O(k log k) struct sort per tile, and — on partial
  * edge tiles — a map build per OUTPUT POSITION inside the transform
  * lambda. This aggregate writes each cell straight into its slot of a
  * primitive double array (one buffer per tile), so per-cell work is
  * two array stores and the partial-aggregate shuffle carries a packed
  * (bitmap + set doubles) payload instead of an unsorted struct list.
  *
  * Output contract (bit-identical to the replaced form for every
  * reachable input):
  *   - slot i = the value of the cell with pos = i; slots with no cell
  *     (edge-tile padding) or a NULL cell value are NULL — exactly what
  *     the old full-tile/map paths both produced;
  *   - result element order is by pos, independent of arrival order;
  *   - pos outside [0, slots) throws (structurally impossible from
  *     [[graft.operators.Raster.tileGrid]]'s modular arithmetic);
  *   - two cells on the SAME pos: last write wins, where the old map
  *     path raised a duplicate-key error — tile keys make pos unique
  *     per group, so no caller can reach either behavior.
  */
case class TilePack(
    posExpr: Expression,
    valueExpr: Expression,
    slots: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[TilePack.Buf] {

  require(slots > 0, s"tile_pack needs a positive slot count, got $slots")

  override def children: Seq[Expression] = Seq(posExpr, valueExpr)

  override def checkInputDataTypes(): TypeCheckResult =
    (posExpr.dataType, valueExpr.dataType) match {
      case (IntegerType, DoubleType) => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"tile_pack requires (int, double), got $other")
    }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)

  override def nullable: Boolean = false

  override def createAggregationBuffer(): TilePack.Buf =
    new TilePack.Buf(new Array[Double](slots), new Array[Boolean](slots))

  override def update(buf: TilePack.Buf, input: InternalRow): TilePack.Buf = {
    val p = posExpr.eval(input)
    if (p != null) {
      val pos = p.asInstanceOf[Int]
      if (pos < 0 || pos >= slots)
        throw new IllegalArgumentException(
          s"tile_pack: pos $pos outside [0, $slots) — tile key and pos disagree"
        )
      val v = valueExpr.eval(input)
      if (v != null) {
        buf.values(pos) = v.asInstanceOf[Double]
        buf.set(pos) = true
      }
    }
    buf
  }

  override def merge(a: TilePack.Buf, b: TilePack.Buf): TilePack.Buf = {
    var i = 0
    while (i < slots) {
      if (b.set(i)) { a.values(i) = b.values(i); a.set(i) = true }
      i += 1
    }
    a
  }

  override def eval(buf: TilePack.Buf): Any = {
    val out = new Array[Any](slots)
    var i = 0
    while (i < slots) {
      if (buf.set(i)) out(i) = buf.values(i)
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: TilePack.Buf): Array[Byte] = {
    val bitmapBytes = (slots + 7) / 8
    var n = 0
    var i = 0
    while (i < slots) { if (buf.set(i)) n += 1; i += 1 }
    val bb = java.nio.ByteBuffer.allocate(4 + bitmapBytes + 8 * n)
    bb.putInt(slots)
    i = 0
    var acc = 0
    while (i < slots) {
      if (buf.set(i)) acc |= 1 << (i & 7)
      if ((i & 7) == 7) { bb.put(acc.toByte); acc = 0 }
      i += 1
    }
    if ((slots & 7) != 0) bb.put(acc.toByte)
    i = 0
    while (i < slots) { if (buf.set(i)) bb.putDouble(buf.values(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TilePack.Buf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    require(n == slots, s"tile_pack buffer slot mismatch: $n vs $slots")
    val buf = createAggregationBuffer()
    var i = 0
    var acc = 0
    while (i < slots) {
      if ((i & 7) == 0) acc = bb.get() & 0xff
      buf.set(i) = (acc & (1 << (i & 7))) != 0
      i += 1
    }
    i = 0
    while (i < slots) { if (buf.set(i)) buf.values(i) = bb.getDouble; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TilePack =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): TilePack =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]
  ): TilePack = copy(posExpr = newChildren(0), valueExpr = newChildren(1))

  override def prettyName: String = "tile_pack"
}

object TilePack {

  /** Mutable per-group buffer: slot values + a set bitmap (a set slot
    * always holds a non-null value; unset slots render as NULL).
    */
  final class Buf(val values: Array[Double], val set: Array[Boolean])

  /** SQL form: the slot count must be an int literal. The analyzer
    * wraps the bare aggregate in its AggregateExpression, as it does
    * for the built-in aggregates.
    */
  def fromSql(pos: Expression, value: Expression, slots: Expression): TilePack =
    slots match {
      case Literal(v: Int, IntegerType) => TilePack(pos, value, v)
      case other =>
        throw new IllegalArgumentException(s"tile_pack slot count must be an int literal, got $other")
    }

  /** `slots` is the tile's w*h. */
  def of(pos: Column, value: Column, slots: Int): Column =
    column(TilePack(expression(pos), expression(value), slots).toAggregateExpression())
}
