package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._

/** S26d: `rbm64` — EXACT 64-bit id-set columns (ref: Paimon's rbm64
  * aggregate-function, backed there by Roaring64Bitmap; re-expressed as
  * a sorted-delta varint set — the same exact-union semantics with no
  * external dependency). A bitmap is a first-class BINARY value: built
  * from rows, stored in an aggregation-merge-engine column, re-merged by
  * rollups, read out as cardinality — the exact-audience-counting shape.
  * The L63 sketch trio covers the approximate regime; rbm64 is the exact
  * one Paimon ships for id sets (memory O(distinct ids per group) — at
  * 100 TB it belongs on bounded-cardinality groups, with KMV as the
  * unbounded fallback).
  *
  * Serialized form: [n varint][first id zigzag-varint][n-1 ascending
  * delta varints] — ~1-2 bytes per clustered id (the deletion-vector
  * encoding lesson) and DETERMINISTIC: equal sets produce equal bytes at
  * any merge order, which is what makes the merge-engine fold and the
  * rbmMerge aggregate emit identical column values. */
object Bitmap64 {
  import org.apache.spark.sql.graft.Bridge.{column, expression}

  private def writeVarint(out: java.io.ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0L) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }

  private def zigzag(v: Long): Long = (v << 1) ^ (v >> 63)
  private def unzigzag(v: Long): Long = (v >>> 1) ^ -(v & 1L)

  def serialize(buf: Bitmap64Buffer): Array[Byte] = {
    val ids = buf.sortedIds
    val out = new java.io.ByteArrayOutputStream(8 + ids.length * 2)
    writeVarint(out, ids.length.toLong)
    var prev = 0L
    var i = 0
    while (i < ids.length) {
      if (i == 0) writeVarint(out, zigzag(ids(0)))
      else writeVarint(out, ids(i) - prev) // ascending: deltas > 0
      prev = ids(i)
      i += 1
    }
    out.toByteArray
  }

  def deserialize(bytes: Array[Byte]): Bitmap64Buffer = {
    val buf = new Bitmap64Buffer
    var pos = 0
    def readVarint(): Long = {
      var v = 0L; var shift = 0
      var b = bytes(pos) & 0xff; pos += 1
      while ((b & 0x80) != 0) {
        v |= (b & 0x7fL) << shift; shift += 7
        b = bytes(pos) & 0xff; pos += 1
      }
      v | ((b & 0x7fL) << shift)
    }
    val n = readVarint().toInt
    var prev = 0L
    var i = 0
    while (i < n) {
      prev = if (i == 0) unzigzag(readVarint()) else prev + readVarint()
      buf.add(prev)
      i += 1
    }
    buf
  }

  def mergeBytes(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val x = deserialize(a); x.mergeIn(deserialize(b)); serialize(x)
  }

  def rbmState(id: Column): Column =
    column(RbmState(expression(id)).toAggregateExpression())
  def rbmMerge(bitmap: Column): Column =
    column(RbmMergeState(expression(bitmap)).toAggregateExpression())
  def rbmCardinality(bitmap: Column): Column =
    column(RbmCardinalityExpr(expression(bitmap)))
}

/** Mutable exact id set: hash adds, sorted at serialization. */
final class Bitmap64Buffer {
  private val set = new java.util.HashSet[java.lang.Long]()
  def add(v: Long): Unit = set.add(v)
  def mergeIn(o: Bitmap64Buffer): Unit = set.addAll(o.set)
  def size: Int = set.size
  def sortedIds: Array[Long] = {
    val a = new Array[Long](set.size)
    val it = set.iterator()
    var i = 0
    while (it.hasNext) { a(i) = it.next(); i += 1 }
    java.util.Arrays.sort(a)
    a
  }
}

/** `rbm64_state(id BIGINT)` → BINARY exact bitmap of the group's ids. */
case class RbmState(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Bitmap64Buffer] {
  override def children: Seq[Expression] = Seq(child)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"rbm64_state takes a BIGINT id column, got ${child.dataType.sql}")
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "rbm64_state"
  override def createAggregationBuffer(): Bitmap64Buffer = new Bitmap64Buffer
  override def update(buf: Bitmap64Buffer, input: InternalRow): Bitmap64Buffer = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Long])
    buf
  }
  override def merge(buf: Bitmap64Buffer, other: Bitmap64Buffer): Bitmap64Buffer = {
    buf.mergeIn(other); buf
  }
  override def eval(buf: Bitmap64Buffer): Any = Bitmap64.serialize(buf)
  override def serialize(buf: Bitmap64Buffer): Array[Byte] = Bitmap64.serialize(buf)
  override def deserialize(bytes: Array[Byte]): Bitmap64Buffer = Bitmap64.deserialize(bytes)
  override def withNewMutableAggBufferOffset(o: Int): RbmState = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): RbmState = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): RbmState =
    copy(child = c.head)
}

/** `rbm64_merge(bitmapBinary)` → BINARY exact union. Unlike the sketch
  * merges there is no parameter to agree on — an empty buffer is a valid
  * empty set. */
case class RbmMergeState(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Bitmap64Buffer] {
  override def children: Seq[Expression] = Seq(child)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"rbm64_merge requires a BINARY bitmap column, got ${child.dataType.sql}")
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "rbm64_merge"
  override def createAggregationBuffer(): Bitmap64Buffer = new Bitmap64Buffer
  override def update(buf: Bitmap64Buffer, input: InternalRow): Bitmap64Buffer = {
    val v = child.eval(input)
    if (v != null) buf.mergeIn(Bitmap64.deserialize(v.asInstanceOf[Array[Byte]]))
    buf
  }
  override def merge(buf: Bitmap64Buffer, other: Bitmap64Buffer): Bitmap64Buffer = {
    buf.mergeIn(other); buf
  }
  override def eval(buf: Bitmap64Buffer): Any = Bitmap64.serialize(buf)
  override def serialize(buf: Bitmap64Buffer): Array[Byte] = Bitmap64.serialize(buf)
  override def deserialize(bytes: Array[Byte]): Bitmap64Buffer = Bitmap64.deserialize(bytes)
  override def withNewMutableAggBufferOffset(o: Int): RbmMergeState = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): RbmMergeState = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): RbmMergeState =
    copy(child = c.head)
}

/** `rbm64_cardinality(bitmapBinary)` → BIGINT exact distinct count.
  * CodegenFallback by design: runs once per group on rollup-sized
  * frames, never per corpus row. */
case class RbmCardinalityExpr(child: Expression)
  extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "rbm64_cardinality"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"rbm64_cardinality requires a BINARY bitmap column, got ${child.dataType.sql}")
  override def nullSafeEval(v: Any): Any =
    Bitmap64.deserialize(v.asInstanceOf[Array[Byte]]).size.toLong
  override protected def withNewChildInternal(newChild: Expression): RbmCardinalityExpr =
    copy(child = newChild)
}
