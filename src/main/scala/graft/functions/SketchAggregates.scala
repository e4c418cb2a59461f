package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** MinHash signature sketch as a native `TypedImperativeAggregate`
  * (SURVEY §2.4 — the "custom sketch" slot; the guide's recommended shape
  * for mutable-buffer aggregates). Consumes one 64-bit feature hash per
  * row and keeps the element-wise minimum of `numHashes` derived hashes,
  * evaluating to the `array<long>` signature.
  *
  * Versus the previous 64-separate-`min`-columns formulation: the
  * aggregation buffer is one `Array[Long]` updated in a tight JVM loop,
  * so there is no 64-wide generated aggregate class to JIT (which
  * dominated local bench time), while partial aggregation and the
  * 64-longs-per-group shuffle shape are identical.
  *
  * The per-slot hash family is a splitmix64-style finalizer over
  * `h XOR (golden-ratio · (slot+1))` — public-domain mixing constants.
  * The family is not oracle-visible: correctness is gated on the final
  * near-dup pair set matching the brute-force Jaccard oracle.
  *
  * With `numBands > 0`, `eval` emits the LSH BAND HASHES instead of the
  * raw signature: `numBands` longs, band b hashing signature slots
  * [b·r, (b+1)·r) with r = numHashes/numBands. Two docs get equal band-b
  * hashes iff their signatures agree on that slice (up to negligible
  * 64-bit collisions) — exactly what the banded self-join keys on — so
  * the consumer skips the former per-doc posexplode + 16
  * `xxhash64(slice(sig, …))` expression pass entirely; the band hash is
  * folded in the same tight JVM loop that built the signature.
  */
case class MinHashSketch(
    child: Expression,
    numHashes: Int,
    numBands: Int = 0,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String =
    if (numBands > 0) "minhash_bands" else "minhash_sketch"

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(numHashes)(Long.MaxValue)

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var s = 0
      while (s < numHashes) {
        val m = SketchHashing.mix(s, h)
        if (m < buffer(s)) buffer(s) = m
        s += 1
      }
    }
    buffer
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var s = 0
    while (s < numHashes) {
      if (b2(s) < b1(s)) b1(s) = b2(s)
      s += 1
    }
    b1
  }

  override def eval(buffer: Array[Long]): Any =
    if (numBands <= 0) new GenericArrayData(buffer)
    else new GenericArrayData(
      SketchHashing.bandHashes(buffer, numHashes, numBands))

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(numHashes * 8)
    buffer.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(numHashes)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinHashSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MinHashSketch =
    copy(child = newChildren.head)
}

/** SimHash bit-vote sketch: consumes the Karp–Rabin polynomial hash `p`
  * of each feature and accumulates the 64 ±1 votes, evaluating to the
  * four packed 16-bit bands. The per-bit hash is the SAME Carter–Wegman
  * family the DuckDB oracle replays — `(A_i·p + B_i) mod (1e9+7)` against
  * the upper half — so `dedup_simhash` stays fully hash-matched while the
  * wide 64-column conditional-sum aggregate disappears. */
case class SimHashSketch(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Int]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "simhash_sketch"

  override def createAggregationBuffer(): Array[Int] = new Array[Int](64)

  override def update(buffer: Array[Int], input: InternalRow): Array[Int] = {
    val v = child.eval(input)
    if (v != null) SketchHashing.simVote(buffer, v.asInstanceOf[Long])
    buffer
  }

  override def merge(b1: Array[Int], b2: Array[Int]): Array[Int] = {
    var i = 0
    while (i < 64) { b1(i) += b2(i); i += 1 }
    b1
  }

  /** Pack sign bits into four 16-bit bands (bit j of band k = sign of
    * vote 16k+j) — identical packing to the oracle. */
  override def eval(buffer: Array[Int]): Any =
    new GenericArrayData(SketchHashing.packBands(buffer))

  override def serialize(buffer: Array[Int]): Array[Byte] = {
    val bb = ByteBuffer.allocate(64 * 4)
    buffer.foreach(bb.putInt)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Int] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(64)(bb.getInt)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SimHashSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SimHashSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SimHashSketch =
    copy(child = newChildren.head)
}

/** Element-wise vector sum over an `array<double>` column — the bounded
  * production aggregate behind per-group centroids (`sim_centroid_by_lang`
  * production form, IVF centroid refinement). The aggregation buffer is
  * one fixed `Array[Double](dim)` regardless of group size, so a
  * billion-document language costs 64 doubles of state per partial —
  * unlike a fold-exact `collect_list` buffer, which grows with the
  * group. Accumulation order follows partition order (floating point,
  * so results can differ in the last ulp across runs); the DuckDB
  * oracle replays a vec_id-ordered fold, and on the gated fixtures the
  * two hash-match (`OracleGateSpec`). Inputs shorter than `dim`
  * contribute their prefix; null arrays are skipped. */
case class VectorSumSketch(
    child: Expression,
    dim: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Double]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "vector_sum"

  override def createAggregationBuffer(): Array[Double] = new Array[Double](dim)

  override def update(buffer: Array[Double], input: InternalRow): Array[Double] = {
    val v = child.eval(input)
    if (v != null) {
      val a = v.asInstanceOf[ArrayData]
      val n = math.min(dim, a.numElements())
      var i = 0
      while (i < n) {
        buffer(i) += a.getDouble(i)
        i += 1
      }
    }
    buffer
  }

  override def merge(b1: Array[Double], b2: Array[Double]): Array[Double] = {
    var i = 0
    while (i < dim) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buffer: Array[Double]): Any = new GenericArrayData(buffer)

  override def serialize(buffer: Array[Double]): Array[Byte] = {
    val bb = ByteBuffer.allocate(dim * 8)
    buffer.foreach(bb.putDouble)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(dim)(bb.getDouble)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VectorSumSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VectorSumSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): VectorSumSketch =
    copy(child = newChildren.head)
}

/** HyperLogLog register vector as a native `TypedImperativeAggregate` —
  * the cardinality sketch's canonical mergeable form: a FIXED `m`-byte
  * buffer per group (m = 2^p registers, one byte each), update = max,
  * merge = element-wise max, shuffle carries m bytes per group no
  * matter the corpus size. Consumes the combined ~60-bit replayable
  * hash `h1·(1e9+7) + h2` (two [[PolyHash]] bases — NOT a private mixer,
  * so the DuckDB oracle derives identical registers): bucket = h mod m,
  * rho = leading-zero count of the remaining `wBits`-bit word plus one.
  * Evaluates to the full `array<long>` register vector in bucket order
  * (zeros included) — the estimate arithmetic stays OUTSIDE the sketch,
  * scan-side and engine-replayable.
  *
  * The combined hash is non-negative by construction; bucket/word are
  * nevertheless derived with UNSIGNED division so the aggregate is
  * total over arbitrary long inputs (identical results on the
  * documented domain, no executor crash off it). */
case class HllRegisters(
    child: Expression,
    m: Int,
    wBits: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] {

  require(m >= 2 && (m & (m - 1)) == 0, s"m must be a power of two, got $m")
  require(wBits >= 1 && wBits <= 57, s"wBits out of range: $wBits")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hll_registers"

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](m)

  override def update(buffer: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      val bucket = java.lang.Long.remainderUnsigned(h, m).toInt
      val w = java.lang.Long.divideUnsigned(h, m)
      // rho = one-based position of the leftmost 1 in the wBits-wide
      // word; an all-zero word scores wBits + 1
      val rho =
        if (w == 0L) wBits + 1
        else wBits - (64 - java.lang.Long.numberOfLeadingZeros(w)) + 1
      if (rho > buffer(bucket)) buffer(bucket) = rho.toByte
    }
    buffer
  }

  override def merge(b1: Array[Byte], b2: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < m) {
      if (b2(i) > b1(i)) b1(i) = b2(i)
      i += 1
    }
    b1
  }

  override def eval(buffer: Array[Byte]): Any = {
    val out = new Array[Any](m)
    var i = 0
    while (i < m) { out(i) = buffer(i).toLong; i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buffer: Array[Byte]): Array[Byte] = buffer

  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def withNewMutableAggBufferOffset(newOffset: Int): HllRegisters =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllRegisters =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HllRegisters =
    copy(child = newChildren.head)
}

object SketchFunctions {
  /** Aggregate column: MinHash signature of the group's feature hashes. */
  def minhash_sketch(featureHash: Column, numHashes: Int): Column =
    ColumnBridge.column(
      MinHashSketch(ColumnBridge.expression(featureHash), numHashes)
        .toAggregateExpression())

  /** Aggregate column: the `numBands` LSH band hashes of the group's
    * MinHash signature, folded directly in the sketch's eval. */
  def minhash_bands(featureHash: Column, numHashes: Int, numBands: Int): Column =
    ColumnBridge.column(
      MinHashSketch(ColumnBridge.expression(featureHash), numHashes, numBands)
        .toAggregateExpression())

  /** Aggregate column: four packed 16-bit SimHash bands of the group. */
  def simhash_sketch(polyHash: Column): Column =
    ColumnBridge.column(
      SimHashSketch(ColumnBridge.expression(polyHash)).toAggregateExpression())

  /** Aggregate column: element-wise sum of the group's `array<double>`
    * vectors (fixed `dim`-slot buffer — the scale-safe centroid path). */
  def vector_sum(vec: Column, dim: Int): Column =
    ColumnBridge.column(
      VectorSumSketch(ColumnBridge.expression(vec), dim).toAggregateExpression())

  /** Aggregate column: the group's HLL register vector (m-byte buffer,
    * max-merge) over a combined replayable hash. */
  def hll_registers(combinedHash: Column, m: Int, wBits: Int): Column =
    ColumnBridge.column(
      HllRegisters(ColumnBridge.expression(combinedHash), m, wBits)
        .toAggregateExpression())
}
