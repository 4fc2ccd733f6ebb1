package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Custom sketch aggregates for dedup signatures.
  *
  * The naive formulation — 128 independent `min(pmod(x*a+b, p))` aggregate
  * columns — allocates 128 codegen'd buffers and evaluates 128 expression
  * trees per input row. These `TypedImperativeAggregate`s keep ONE
  * primitive array buffer per group and run a tight JVM loop per row:
  * same results, a fraction of the per-row overhead, and the merge path
  * (map-side partial aggregation) is an elementwise primitive loop.
  */

/** Shared MinHash permutation math — the aggregate and the row-local
  * expression MUST produce identical signatures (parity is spec-pinned).
  */
object MinHashMath {
  val P = 4294967311L // smallest prime > 2^32

  def coeffs(numHashes: Int, seed: Long): (Array[Long], Array[Long]) = {
    val rnd = new scala.util.Random(seed)
    val a = new Array[Long](numHashes); val b = new Array[Long](numHashes)
    var i = 0
    while (i < numHashes) {
      a(i) = (rnd.nextInt((1 << 30) - 1) + 1).toLong; b(i) = rnd.nextInt(1 << 30).toLong
      i += 1
    }
    (a, b)
  }
}

/** MinHash sketch: per group, `min((a_i * x32 + b_i) mod p)` for
  * `numHashes` seeded permutations of the (32-bit-truncated) input hash.
  * Returns `array<bigint>` of length `numHashes`.
  */
case class MinHashAggregate(
    child: Expression,
    numHashes: Int,
    seed: Long,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

  private val P = MinHashMath.P
  @transient private lazy val (as, bs): (Array[Long], Array[Long]) =
    MinHashMath.coeffs(numHashes, seed)

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash"

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(numHashes)(Long.MaxValue)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val x = v.asInstanceOf[Long] & 0xFFFFFFFFL
      var i = 0
      while (i < numHashes) {
        val h = (as(i) * x + bs(i)) % P
        if (h < buf(i)) buf(i) = h
        i += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < numHashes) { if (b2(i) < b1(i)) b1(i) = b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * numHashes)
    var i = 0
    while (i < numHashes) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val out = new Array[Long](numHashes)
    var i = 0
    while (i < numHashes) { out(i) = bb.getLong(); i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(o: Int): MinHashAggregate =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MinHashAggregate =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
}

/** Row-local MinHash: the signature of ONE document computed from its
  * shingle-hash array in a single tight loop — identical output to
  * grouping [[MinHashAggregate]] over the exploded hashes (shared
  * [[MinHashMath]]; parity spec-pinned), but with no explode, no
  * aggregation state, and no shuffle: a MinHash signature is a pure
  * function of one row, so at scale it should be computed where the row
  * already sits. The aggregate remains the right tool when shingle rows
  * arrive pre-exploded (e.g. from a SQL surface or a streaming source).
  */
case class MinHashSignature(child: Expression, numHashes: Int, seed: Long)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  @transient private lazy val (as, bs): (Array[Long], Array[Long]) =
    MinHashMath.coeffs(numHashes, seed)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_signature"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs array<bigint> input, got $other")
    }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val buf = Array.fill(numHashes)(Long.MaxValue)
    val n = arr.numElements()
    var j = 0
    while (j < n) {
      // skip null elements exactly as the aggregate's null-input guard
      // does — the spec-pinned parity must hold for nullable arrays too
      if (!arr.isNullAt(j)) {
        val x = arr.getLong(j) & 0xFFFFFFFFL
        var i = 0
        while (i < numHashes) {
          val h = (as(i) * x + bs(i)) % MinHashMath.P
          if (h < buf(i)) buf(i) = h
          i += 1
        }
      }
      j += 1
    }
    new GenericArrayData(buf)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** LSH band keys of ONE MinHash signature: element j is
  * `xxhash64(sig[j·r], ..., sig[j·r + r − 1])` (seed 42, null elements
  * skipped — exactly Spark's `xxhash64` over those `element_at` columns),
  * for `bands` bands of `r` rows each; a signature shorter than
  * `bands · r` hashes only the elements it has, and a null one hashes
  * none (every band key is the seed). One loop per row, where
  * the column form is a bands × r-argument expression tree that every
  * plan carrying it re-analyzes and re-optimizes, and whose generated
  * stage ran at about 48 µs per signature (5,000-signature index scan).
  */
case class MinHashBands(child: Expression, bands: Int, r: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_minhash_bands"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs array<bigint> input, got $other")
    }

  override def eval(input: InternalRow): Any = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val arr = child.eval(input).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = if (arr == null) 0 else arr.numElements()
    val out = new Array[Long](bands)
    var j = 0
    while (j < bands) {
      var h = 42L
      var i = j * r
      val end = math.min(i + r, n)
      while (i < end) {
        if (!arr.isNullAt(i)) h = XXH64.hashLong(arr.getLong(i), h)
        i += 1
      }
      out(j) = h
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Row-local SimHash: the 64-bit signature of ONE document from its
  * shingle-hash array (per-bit ±1 sums packed to a long) — identical to
  * grouping [[SimHashAggregate]] over the exploded hashes, with no
  * explode/aggregation/shuffle (same rationale as [[MinHashSignature]]).
  */
case class SimHashSignature(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash_signature"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs array<bigint> input, got $other")
    }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val sums = new Array[Int](64)
    val n = arr.numElements()
    var j = 0
    while (j < n) {
      // null elements skipped to keep aggregate parity (see MinHashSignature)
      if (!arr.isNullAt(j)) {
        val x = arr.getLong(j)
        var i = 0
        while (i < 64) {
          if (((x >>> i) & 1L) == 1L) sums(i) += 1 else sums(i) -= 1
          i += 1
        }
      }
      j += 1
    }
    var sig = 0L
    var i = 0
    while (i < 64) { if (sums(i) > 0) sig |= (1L << i); i += 1 }
    sig
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** SimHash sketch: per group, per-bit ±1 sums over the input hashes,
  * packed to the 64-bit signature (bit set iff its sum is positive).
  */
case class SimHashAggregate(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Int]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  override def createAggregationBuffer(): Array[Int] = new Array[Int](64)

  override def update(buf: Array[Int], input: InternalRow): Array[Int] = {
    val v = child.eval(input)
    if (v != null) {
      val x = v.asInstanceOf[Long]
      var i = 0
      while (i < 64) {
        if (((x >>> i) & 1L) == 1L) buf(i) += 1 else buf(i) -= 1
        i += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Int], b2: Array[Int]): Array[Int] = {
    var i = 0
    while (i < 64) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Int]): Any = {
    var sig = 0L
    var i = 0
    while (i < 64) { if (buf(i) > 0) sig |= (1L << i); i += 1 }
    sig
  }

  override def serialize(buf: Array[Int]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 * 64)
    var i = 0
    while (i < 64) { bb.putInt(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Int] = {
    val bb = ByteBuffer.wrap(bytes)
    val out = new Array[Int](64)
    var i = 0
    while (i < 64) { out(i) = bb.getInt(); i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(o: Int): SimHashAggregate =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SimHashAggregate =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
}
