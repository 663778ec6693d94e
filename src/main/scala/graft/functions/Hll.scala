package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.types.{AbstractDataType, BinaryType, DataType, LongType}

/** Minimal dense HyperLogLog over pre-hashed 64-bit values (the A61
  * per-file NDV sketch): p = 7 → 128 single-byte registers per
  * (file, column) — small enough to live as one manifest line, big
  * enough for CBO-grade NDV (~9% typical error). The registers are
  * REGISTER-WISE-MAX MERGEABLE, which is the whole point: a table's
  * NDV at any version is the merge of its LIVE files' sketches, so the
  * estimate follows every commit, delete, and compaction exactly —
  * never stale the way a table-level ANALYZE sidecar drifts — and a
  * PRUNED scan can merge only the surviving files' sketches.
  *
  * Flajolet et al.'s standard estimator with the small-range
  * linear-counting correction; no large-range correction is needed at
  * 64-bit hash width. The hash is Spark's `xxhash64` applied by the
  * caller (NULLs must be passed as NULL, not hashed — a hashed NULL
  * constant would inflate every column's NDV by one).
  */
object Hll {

  val P: Int = 7
  val M: Int = 1 << P

  private[graft] def updateRegs(b: Array[Byte], x: Long): Unit = {
    val j = (x >>> (64 - P)).toInt
    val w = x << P
    val rank =
      (if (w == 0L) 64 - P else java.lang.Long.numberOfLeadingZeros(w)) + 1
    if (rank > b(j)) b(j) = rank.toByte
  }

  /** Spark Aggregator form (test surface): feed `xxhash64(col)` (NULL
    * for NULL inputs), get the 128-byte register array. The stats
    * aggregate over files graft did not write uses [[HllSketchAgg]]
    * instead (a staging write updates the registers as it writes) — a
    * TypedImperativeAggregate whose buffer stays an OBJECT between
    * updates (the udaf() wrapper round-trips the 128-byte buffer
    * through its encoder on every row, which measurably taxed every
    * commit's staged-stats job). */
  object RegistersAgg extends Aggregator[java.lang.Long, Array[Byte], Array[Byte]] {
    override def zero: Array[Byte] = new Array[Byte](M)
    override def reduce(b: Array[Byte], h: java.lang.Long): Array[Byte] = {
      if (h == null) return b
      updateRegs(b, h.longValue())
      b
    }
    override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] =
      Hll.merge(a, b)
    override def finish(b: Array[Byte]): Array[Byte] = b
    override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    require(a.length == b.length,
      s"hll: register widths differ (${a.length} vs ${b.length})")
    val out = new Array[Byte](a.length)
    var i = 0
    while (i < a.length) {
      out(i) = if (a(i) >= b(i)) a(i) else b(i) // ranks ≤ 58: signed-safe
      i += 1
    }
    out
  }

  def estimate(regs: Array[Byte]): Long = {
    val m = regs.length
    val alpha = m match {
      case 16 => 0.673; case 32 => 0.697; case 64 => 0.709
      case _ => 0.7213 / (1.0 + 1.079 / m)
    }
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < m) {
      sum += java.lang.Math.pow(2.0, -regs(i).toDouble)
      if (regs(i) == 0) zeros += 1
      i += 1
    }
    val e = alpha * m * m / sum
    val corrected =
      if (e <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros) else e
    math.max(1L, math.round(corrected))
  }

  def toHex(regs: Array[Byte]): String =
    regs.map("%02x".format(_)).mkString

  def fromHex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
}

/** The engine-side HLL aggregate: a [[TypedImperativeAggregate]] whose
  * buffer is the raw register array object for the whole partition —
  * update is two shifts and a compare, serialization happens only at
  * shuffle boundaries. `child` must evaluate to the 64-bit hash (NULL
  * skips), i.e. `xxhash64(col)` guarded by `isNotNull`. */
case class HllSketchAgg(child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] with UnaryLike[Expression] {

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](Hll.M)

  override def update(b: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) Hll.updateRegs(b, v.asInstanceOf[Long])
    b
  }

  override def merge(b: Array[Byte], other: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < b.length) {
      if (other(i) > b(i)) b(i) = other(i)
      i += 1
    }
    b
  }

  override def eval(b: Array[Byte]): Any = b
  override def serialize(b: Array[Byte]): Array[Byte] = b
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_hll_sketch"

  override def withNewMutableAggBufferOffset(newOffset: Int): HllSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HllSketchAgg =
    copy(child = newChild)
}
