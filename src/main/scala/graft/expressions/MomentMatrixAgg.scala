package graft.expressions

import java.math.{BigDecimal => JBigDecimal, BigInteger, RoundingMode}
import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Exact PCA moment matrix as ONE native aggregate over the raw vector
  * column: per input row the d first-moment terms and the d·(d+1)/2
  * upper-triangle second-moment products are rounded to 6 decimal places
  * (the engine's DECIMAL(18,6) fixed-point contract) and added into a
  * 128-bit integer accumulator — no row expansion, no shuffle keyed by
  * (i,j), no per-product Decimal object.
  *
  * Replaces the double-posexplode formulation
  * (`posexplode(v)` × `posexplode(v)` → 64× duplication of the vector
  * into d² generated rows, each product allocating a BigDecimal through
  * `cast("decimal(18,6)")`, hash-aggregated over d² keys and shuffled):
  * that shape cost O(d²) row generation + allocation per input row and
  * was the r17 driver-flagged GC pathology at local[32]. Here the
  * per-row work is a primitive double loop; the only state is one
  * (2 + d + d·(d+1)/2)-element 128-bit vector per task, merged by
  * element-wise add, so the exchange carries O(d²) per PARTITION and the
  * aggregate is order-free — BIT-IDENTICAL to the expression form and
  * the DuckDB oracle regardless of row or partition order.
  *
  * Rounding semantics are exactly Spark's `cast(double as decimal(18,6))`
  * (shortest-decimal-representation HALF_UP, null on NaN/Inf/overflow —
  * skipped like `sum` skips nulls), with an error-bounded fast path that
  * avoids the BigDecimal except within 1e-3 of a .5 boundary.
  *
  * Output: `array<decimal(38,0)>` = [d, n, s_0..s_{d-1}, p_00, p_01, ..,
  * p_(d-1)(d-1)] — upper triangle row-major, sums scaled by 10⁶ (the
  * unscaled DECIMAL(·,6) integers the driver solve consumes directly).
  * All vectors must share one dimension (the fixture contract
  * [[graft.operators.Pca.topComponent]] already requires).
  */
case class MomentMatrixAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MomentMatrixAgg.Buffer]
  with UnaryLike[Expression] {

  import MomentMatrixAgg._

  override def dataType: DataType = ArrayType(DecimalType(38, 0), containsNull = false)
  override def nullable: Boolean = false

  private lazy val elementIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_moments expects array<float|double>, got ${other.sql}")
  }

  override def createAggregationBuffer(): Buffer = new Buffer(Unseen, 0L, null, null)

  override def update(buf: Buffer, input: InternalRow): Buffer = {
    val v = child.eval(input)
    if (v == null) return buf
    val arr = v.asInstanceOf[ArrayData]
    val d = arr.numElements()
    if (buf.d == Unseen) buf.alloc(d)
    else require(buf.d == d,
      s"graft_moments: mixed vector dimensions ${buf.d} vs $d")
    buf.n += 1L
    var i = 0
    while (i < d) {
      if (!arr.isNullAt(i)) {
        val xi = if (elementIsFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
        val si = scale6(xi)
        if (si != SKIP) buf.add(i, si)
        // p_ij for j >= i sits at d + i*d - i*(i-1)/2 + (j-i)
        var k = d + i * d - i * (i - 1) / 2
        var j = i
        while (j < d) {
          if (!arr.isNullAt(j)) {
            val xj = if (elementIsFloat) arr.getFloat(j).toDouble else arr.getDouble(j)
            val p = scale6(xi * xj)
            if (p != SKIP) buf.add(k, p)
          }
          k += 1
          j += 1
        }
      }
      i += 1
    }
    buf
  }

  override def merge(buf: Buffer, other: Buffer): Buffer = {
    if (other.d == Unseen) return buf
    if (buf.d == Unseen) buf.alloc(other.d)
    else require(buf.d == other.d,
      s"graft_moments: mixed vector dimensions ${buf.d} vs ${other.d}")
    buf.n += other.n
    var k = 0
    val m = buf.lo.length
    while (k < m) { buf.add128(k, other.hi(k), other.lo(k)); k += 1 }
    buf
  }

  override def eval(buf: Buffer): Any = {
    val m = if (buf.d == Unseen) 0 else buf.lo.length
    val out = new Array[Any](2 + m)
    out(0) = Decimal(math.max(buf.d, 0).toLong)
    out(1) = Decimal(buf.n)
    var k = 0
    while (k < m) {
      out(2 + k) = Decimal(BigDecimal(BigInt(toBigInt(buf.hi(k), buf.lo(k)))), 38, 0)
      k += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: Buffer): Array[Byte] = {
    val m = if (buf.d == Unseen) 0 else buf.lo.length
    val bb = ByteBuffer.allocate(4 + 8 + 16 * m)
    bb.putInt(buf.d)
    bb.putLong(buf.n)
    var k = 0
    while (k < m) { bb.putLong(buf.hi(k)); bb.putLong(buf.lo(k)); k += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buffer = {
    val bb = ByteBuffer.wrap(bytes)
    val d = bb.getInt
    val buf = new Buffer(Unseen, 0L, null, null)
    if (d != Unseen) buf.alloc(d)
    buf.n = bb.getLong
    val m = if (d == Unseen) 0 else buf.lo.length
    var k = 0
    while (k < m) { buf.hi(k) = bb.getLong; buf.lo(k) = bb.getLong; k += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MomentMatrixAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MomentMatrixAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): MomentMatrixAgg =
    copy(child = newChild)

  override def prettyName: String = "graft_moments"
}

object MomentMatrixAgg {

  /** Sentinel for "the cast would be null" (NaN/Inf/decimal(18,6)
    * overflow) — unreachable as a real scaled value (|scaled| < 10¹⁸). */
  val SKIP: Long = Long.MinValue

  /** Buffer dimension before any row is seen — distinct from 0, the
    * dimension of a seen zero-length vector. */
  val Unseen: Int = -1

  private val Max18x6 = new JBigDecimal("999999999999.999999")

  /** `cast(x as decimal(18,6))` scaled by 10⁶, as a Long; SKIP where the
    * cast yields null. Matches Spark's cast exactly: rounding is HALF_UP
    * over the SHORTEST DECIMAL REPRESENTATION of the double
    * (`BigDecimal.valueOf`), not its exact binary value. The fast path
    * rounds the scaled double directly; its total error (shortest-repr
    * vs binary ≤ ulp(x)·10⁶ ≤ 1.2e-4 for |x| < 10⁶, times-10⁶ rounding
    * ≤ ulp(10¹²)/2 ≈ 6.1e-5) is < 2e-4, so any point farther than 1e-3
    * from a .5 boundary rounds identically; the BigDecimal path handles
    * the boundary band and big values. */
  def scale6(x: Double): Long = {
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) return SKIP
    val ax = math.abs(x)
    if (ax < 1e6) {
      val scaled = ax * 1e6
      val fl = math.floor(scaled)
      val frac = scaled - fl
      if (math.abs(frac - 0.5) > 1e-3) {
        val k = if (frac > 0.5) fl.toLong + 1L else fl.toLong
        return if (x < 0) -k else k
      }
    }
    val bd = JBigDecimal.valueOf(x).setScale(6, RoundingMode.HALF_UP)
    if (bd.abs.compareTo(Max18x6) > 0) SKIP
    else bd.movePointRight(6).longValueExact()
  }

  def toBigInt(hi: Long, lo: Long): BigInteger =
    BigInteger.valueOf(hi).shiftLeft(64)
      .add(new BigInteger(java.lang.Long.toUnsignedString(lo)))

  /** n plus a (d + d·(d+1)/2)-element vector of 128-bit accumulators
    * (hi: signed high 64, lo: unsigned low 64) — first moments then the
    * upper triangle. d == [[Unseen]] means "no rows seen yet". */
  final class Buffer(var d: Int, var n: Long, var hi: Array[Long], var lo: Array[Long]) {

    def alloc(dim: Int): Unit = {
      d = dim
      val m = dim + dim * (dim + 1) / 2
      hi = new Array[Long](m)
      lo = new Array[Long](m)
    }

    /** 128-bit += of a signed 64-bit value. */
    def add(k: Int, v: Long): Unit = {
      val old = lo(k)
      val nl = old + v
      lo(k) = nl
      hi(k) += (v >> 63) + (((old & v) | ((old | v) & ~nl)) >>> 63)
    }

    /** 128-bit += of a 128-bit value. */
    def add128(k: Int, vhi: Long, vlo: Long): Unit = {
      val old = lo(k)
      val nl = old + vlo
      lo(k) = nl
      hi(k) += vhi + (((old & vlo) | ((old | vlo) & ~nl)) >>> 63)
    }
  }
}
