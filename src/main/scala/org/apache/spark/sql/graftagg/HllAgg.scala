// Hosted beside org.apache.spark.sql.graftvec for the same reason: the
// column-construction seam (ExpressionUtils.column) is private[sql].
// Engine-facing API: graft.functions.SketchFunctions.
package org.apache.spark.sql.graftagg

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native HyperLogLog aggregate — the one-pass, mergeable form of
  * `graft.sketch.Sketches.hllDistinct` (Flajolet et al. 2007, the
  * practical variant of HyperLogLog with linear-counting fallback).
  *
  * The DataFrame formulation shuffles (group, register) ROWS and
  * max-aggregates them; this aggregate carries the whole register file
  * as ONE m-byte buffer per group per partition, updated in place and
  * merged register-wise — the shape a native engine ships, and the
  * shape that makes per-group sketches cheap when groups are few and
  * rows are billions (each map task emits m bytes per group, not up to
  * m rows per group). Registered as SQL `graft_hll_distinct(expr[, p])`
  * via [[graft.functions.Registry]].
  *
  * Bit-identical to the DataFrame/DuckDB twins, so it shares their
  * oracles:
  *   - hash: first 15 hex chars of md5(input) as a 60-bit integer
  *     (= `Dedup.portableHash`);
  *   - idx = h mod 2^p, rho = (60−p)+1 − bitlen(h >>> p), 0 for an
  *     untouched register;
  *   - S = Σ 2^(62−rho_j) summed EXACTLY (BigInt here, DECIMAL(38,0)
  *     in SQL — powers of two are exact, integer summation is
  *     order-independent), one double division for the raw estimate,
  *     linear counting below 2.5·m with zero registers, micros snap.
  *
  * Result: struct(nonzero_regs, zero_regs, est_micros) — flatten with
  * `.select("h.*")`.
  */
case class HllSketchAgg(
    child: Expression,
    p: Int = 10,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] with ExpectsInputTypes {

  require(p >= 4 && p <= 16, s"p must be in [4,16], got $p")
  private val m = 1 << p
  private val bits = 60 - p

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)

  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("nonzero_regs", LongType, nullable = false),
    StructField("zero_regs", LongType, nullable = false),
    StructField("est_micros", LongType, nullable = false)))
  override def prettyName: String = "graft_hll_distinct"

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](m)

  @transient private lazy val md5 =
    java.security.MessageDigest.getInstance("MD5")

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      val d = md5.digest(v.asInstanceOf[UTF8String].getBytes)
      // first 15 hex chars = top 60 bits: big-endian first 8 bytes >>> 4
      var be = 0L
      var i = 0
      while (i < 8) { be = (be << 8) | (d(i) & 0xffL); i += 1 }
      val h = be >>> 4
      val idx = (h % m).toInt
      val w = h >>> p
      val rho =
        if (w == 0L) bits + 1
        else bits + 1 - (64 - java.lang.Long.numberOfLeadingZeros(w))
      if (rho > buf(idx)) buf(idx) = rho.toByte
    }
    buf
  }

  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < m) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Byte]): Any = {
    var nonzero = 0L
    var s = BigInt(0)
    var i = 0
    while (i < m) {
      if (buf(i) > 0) nonzero += 1
      s += BigInt(1) << (62 - buf(i))
      i += 1
    }
    val zero = m - nonzero
    val mD = m.toDouble
    val alphaM2 = 0.7213 / (1.0 + 1.079 / mD) * mD * mD
    val raw = alphaM2 * math.pow(2.0, 62) / s.toDouble
    val est =
      if (raw <= 2.5 * mD && zero > 0) mD * math.log(mD / zero.toDouble)
      else raw
    InternalRow(nonzero, zero,
      math.floor(est * 1000000d + 0.5d).toLong)
  }

  override def serialize(buffer: Array[Byte]): Array[Byte] = buffer
  override def deserialize(storage: Array[Byte]): Array[Byte] = storage

  override def withNewMutableAggBufferOffset(newOffset: Int): HllSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllSketchAgg =
    copy(inputAggBufferOffset = newOffset)
}

object AggBridge {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.classic.ExpressionUtils.{column, expression}
  def hllDistinct(c: Column, p: Int): Column =
    column(HllSketchAgg(expression(c), p).toAggregateExpression())
  def kmvDistinct(c: Column, k: Int): Column =
    column(KmvSketchAgg(expression(c), k).toAggregateExpression())
  def ddQuantiles(c: Column, alpha: Double, pcts: Seq[Int]): Column =
    column(DdSketchAgg(expression(c), alpha, pcts).toAggregateExpression())
}
