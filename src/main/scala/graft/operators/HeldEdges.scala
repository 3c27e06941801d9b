package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.graft.Held
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** A driver-held edge relation as primitive arrays, for the graph
  * operators' driver kernels: `nodes` are the distinct endpoint ids
  * ascending (index order IS id order), and edge `k` runs from
  * `nodes(src(k))` to `nodes(dst(k))`, duplicates kept — 8 bytes per
  * node and per edge beside the held rows' 24 per edge. */
private[operators] final class HeldEdges(val nodes: Array[Long],
    val src: Array[Int], val dst: Array[Int]) {

  /** One driver-held row per node, ascending: the id as `idType` in
    * column `node`, then column `name` of fixed-width type `tpe`, set
    * by `put(row, nodeIndex)` — `UnsafeRow`s over one buffer, no box. */
  def perNode(like: DataFrame, idType: DataType, name: String,
      tpe: DataType)(put: (UnsafeRow, Int) => Unit): DataFrame = {
    val width = UnsafeRow.calculateBitSetWidthInBytes(2) + 2 * 8
    val buf = new Array[Byte](Math.multiplyExact(width, nodes.length))
    Held.relation(like, StructType(Seq(StructField("node", idType, false),
      StructField(name, tpe, false))), nodes.indices.map { i =>
      val r = new UnsafeRow(2)
      r.pointTo(buf, Platform.BYTE_ARRAY_OFFSET + i * width, width)
      HeldEdges.setId(r, 0, idType, nodes(i))
      put(r, i)
      r
    })
  }
}

private[operators] object HeldEdges {

  /** `edges` (source, destination) as arrays when it is a driver-held
    * relation (`TxLog.checkpointed` kept it within its budget) of
    * integral, never-null ids; None — the distributed path — else. */
  def of(edges: DataFrame): Option[HeldEdges] = {
    val types = edges.schema.fields.map(_.dataType).toSeq
    Held.rows(edges).filter(rows => types.forall(Integral) &&
      rows.forall(r => !r.isNullAt(0) && !r.isNullAt(1))).map { rows =>
      val Seq(a, b) = types.map(InternalRow.getAccessor(_))
      val ends = new Array[Long](2 * rows.size)
      rows.iterator.zipWithIndex.foreach { case (r, k) =>
        ends(2 * k) = a(r, 0).asInstanceOf[Number].longValue
        ends(2 * k + 1) = b(r, 1).asInstanceOf[Number].longValue
      }
      val nodes = java.util.Arrays.stream(ends).sorted().distinct().toArray
      def index(i: Int) = java.util.Arrays.binarySearch(nodes, ends(i))
      new HeldEdges(nodes, Array.tabulate(rows.size)(k => index(2 * k)),
        Array.tabulate(rows.size)(k => index(2 * k + 1)))
    }
  }

  private val Integral = Set[DataType](ByteType, ShortType, IntegerType,
    LongType)

  /** Sets column `i` of `r` to the integral id `v` as type `t`. */
  def setId(r: UnsafeRow, i: Int, t: DataType, v: Long): Unit = t match {
    case ByteType => r.setByte(i, v.toByte)
    case ShortType => r.setShort(i, v.toShort)
    case IntegerType => r.setInt(i, v.toInt)
    case LongType => r.setLong(i, v)
  }
}
