/* org.apache.spark.sql placement for the private[sql] Column bridge —
 * see GraftExtensions.scala. */
package org.apache.spark.sql.graft

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** KMV (k-minimum-values) distinct-count sketch over a 64-bit hash
  * column — the mergeable distinct estimator whose every intermediate
  * is an INTEGER, so unlike HLL the whole estimate replays exactly in
  * ANSI SQL: the sketch is literally "the k smallest distinct hashes in
  * unsigned order", and the estimator is (k−1)·2⁶⁴ / kth_min.
  *
  * Per-group state is a bounded sorted set (≤ k longs): partials merge
  * associatively across partitions, so a distinct-count over a billion
  * rows shuffles ≤ 8k bytes per (group × partition) where a
  * count_distinct shuffles every distinct value. Result is a struct
  * (n: the number of distinct hashes retained, exact while the group
  * has < k distinct values; kth: the largest retained hash — the k-th
  * minimum — meaningful when n == k). Null hashes are ignored; an
  * empty group yields (0, 0).
  */
case class KmvSketch(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]]
  with UnaryLike[Expression] {

  require(k > 0, "kmv_sketch: k must be positive")

  override def dataType: DataType = StructType(Seq(
    StructField("n", IntegerType, nullable = false),
    StructField("kth", LongType, nullable = false)))
  override def nullable: Boolean = false
  override def prettyName: String = "kmv_sketch"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"kmv_sketch expects a bigint hash column, got $other")
  }

  private def newSet(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long](new java.util.Comparator[java.lang.Long] {
      override def compare(a: java.lang.Long, b: java.lang.Long): Int =
        java.lang.Long.compareUnsigned(a, b)
    })

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] = newSet()

  private def add(buf: java.util.TreeSet[java.lang.Long], h: Long): Unit = {
    buf.add(h)
    if (buf.size() > k) buf.pollLast()
  }

  override def update(buf: java.util.TreeSet[java.lang.Long],
                      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) add(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: java.util.TreeSet[java.lang.Long],
                     other: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    val it = other.iterator()
    while (it.hasNext) add(buf, it.next())
    buf
  }

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
    val row = new GenericInternalRow(2)
    row.setInt(0, buf.size())
    row.setLong(1, if (buf.isEmpty) 0L else buf.last())
    row
  }

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buf.size())
    bb.putInt(buf.size())
    val it = buf.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = newSet()
    var i = 0
    while (i < n) { buf.add(bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KmvSketch =
    copy(child = newChild)
}

/** Shared KMV buffer machinery: a bounded unsigned-ordered TreeSet of
  * the k minimum hash values, with the byte layout both aggregates
  * serialize through. */
private[graft] object KmvState {
  def newSet(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long](new java.util.Comparator[java.lang.Long] {
      override def compare(a: java.lang.Long, b: java.lang.Long): Int =
        java.lang.Long.compareUnsigned(a, b)
    })

  def add(buf: java.util.TreeSet[java.lang.Long], k: Int, h: Long): Unit = {
    buf.add(h)
    if (buf.size() > k) buf.pollLast()
  }

  def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buf.size())
    bb.putInt(buf.size())
    val it = buf.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = newSet()
    var i = 0
    while (i < n) { buf.add(bb.getLong); i += 1 }
    buf
  }
}

/** [[KmvSketch]]'s PORTABLE form: the same k-minimum-values state, but
  * eval returns the retained hashes themselves (unsigned-ascending
  * `array<bigint>`, ≤ k elements) instead of the (n, kth) summary — the
  * column you WRITE to a sketch table. A distinct-count sketch is only
  * mergeable if what you store carries the order statistics, so
  * per-partition/per-day rollups persist `kmv_hashes` once and answer
  * any coarser-grained distinct query later by [[KmvUnion]] — without
  * re-scanning the raw corpus. (The summary form can't be merged:
  * max(kth) over groups is NOT the union's kth minimum.)
  */
case class KmvHashes(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]]
  with UnaryLike[Expression] {

  require(k > 0, "kmv_hashes: k must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "kmv_hashes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"kmv_hashes expects a bigint hash column, got $other")
  }

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    KmvState.newSet()

  override def update(buf: java.util.TreeSet[java.lang.Long],
                      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) KmvState.add(buf, k, v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: java.util.TreeSet[java.lang.Long],
                     other: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    val it = other.iterator()
    while (it.hasNext) KmvState.add(buf, k, it.next())
    buf
  }

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
    val out = new Array[Long](buf.size())
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] =
    KmvState.serialize(buf)
  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] =
    KmvState.deserialize(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvHashes =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvHashes =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KmvHashes =
    copy(child = newChild)
}

/** KMV sketch UNION: aggregates stored [[KmvHashes]] arrays back into
  * one sketch — the k minimum distinct hashes of the union — and
  * returns the (n, kth) summary [[KmvSketch]] would have produced over
  * the raw rows. The identity that makes sketch tables work: the
  * union's k-mins are contained in the union of per-group k-min lists,
  * so merging ≤ k·groups stored longs is EXACT-equivalent to
  * re-scanning the corpus, at sketch cost. Input arrays need not be
  * sorted or bounded by this k (a coarser re-roll with smaller k is
  * valid); null arrays are ignored.
  */
case class KmvUnion(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]]
  with UnaryLike[Expression] {

  require(k > 0, "kmv_union: k must be positive")

  override def dataType: DataType = StructType(Seq(
    StructField("n", IntegerType, nullable = false),
    StructField("kth", LongType, nullable = false)))
  override def nullable: Boolean = false
  override def prettyName: String = "kmv_union"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"kmv_union expects an array<bigint> sketch column, got $other")
  }

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    KmvState.newSet()

  override def update(buf: java.util.TreeSet[java.lang.Long],
                      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      var i = 0
      while (i < arr.numElements()) {
        KmvState.add(buf, k, arr.getLong(i))
        i += 1
      }
    }
    buf
  }

  override def merge(buf: java.util.TreeSet[java.lang.Long],
                     other: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    val it = other.iterator()
    while (it.hasNext) KmvState.add(buf, k, it.next())
    buf
  }

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
    val row = new GenericInternalRow(2)
    row.setInt(0, buf.size())
    row.setLong(1, if (buf.isEmpty) 0L else buf.last())
    row
  }

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] =
    KmvState.serialize(buf)
  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] =
    KmvState.deserialize(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvUnion =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvUnion =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KmvUnion =
    copy(child = newChild)
}

/** Count-min sketch over a 64-bit hash column — the mergeable FREQUENCY
  * estimator (Cormode–Muthukrishnan) that pairs with [[KmvSketch]]'s
  * distinct estimator: `depth × width` counters, row i bucketing by
  * `mix64(h XOR (i+1)·φ) AND (width−1)` (φ = the splitmix64 golden
  * gamma, width a power of two so the modulus is a bit-mask), estimate
  * of a key = MIN over rows of its bucket's counter — never an
  * underestimate, over by at most the collision mass in its LIGHTEST
  * bucket. Like KMV (and unlike HLL) every intermediate is integer
  * arithmetic over the shared fnv64/mix64 dag, so the whole estimate
  * replays exactly in ANSI SQL.
  *
  * Per-group state is a FIXED `depth·width·8`-byte counter array:
  * partials merge by element-wise addition, so heavy-hitter detection
  * over a billion rows shuffles one small array per (group × partition)
  * where an exact top-k shuffles every distinct key. Result is the
  * flattened counter array (row-major), consumed by `element_at` at
  * `i·width + bucket_i(key) + 1`.
  */
case class CmsSketch(
    child: Expression,
    depth: Int,
    width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with UnaryLike[Expression] {

  require(depth > 0 && depth <= 16, s"cms_sketch: depth must be in [1,16], got $depth")
  require(width > 1 && (width & (width - 1)) == 0,
    s"cms_sketch: width must be a power of two > 1, got $width")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "cms_sketch"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"cms_sketch expects a bigint hash column, got $other")
  }

  override def createAggregationBuffer(): Array[Long] = new Array[Long](depth * width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var i = 0
      while (i < depth) {
        buf(i * width + CmsSketch.bucket(h, i, width)) += 1L
        i += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(buf.clone())

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * buf.length)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new Array[Long](depth * width)
    var i = 0
    while (i < buf.length) { buf(i) = bb.getLong; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CmsSketch =
    copy(child = newChild)
}

object CmsSketch {
  /** Splitmix64 golden gamma — row i's hash is mix64(h XOR (i+1)·φ). */
  val RowSeedGamma: Long = 0x9E3779B97F4A7C15L

  def rowSeed(i: Int): Long = (i + 1).toLong * RowSeedGamma

  /** Row-i bucket of hash h — shared by the aggregate's update path and
    * the read side's estimate expression (and restated in the SQL twin). */
  def bucket(h: Long, i: Int, width: Int): Int =
    (TextHashOps.mix64(h ^ rowSeed(i)) & (width - 1)).toInt
}

/** Equi-width histogram sketch over a bigint value column — the
  * mergeable DISTRIBUTION estimator that completes the sketch-table
  * family (KMV = distinct, CMS = frequency, group-MinHash = similarity,
  * this = quantiles): a fixed array of `nBins` counters where value v
  * increments bin `clamp((v − lo) div width, 0, nBins−1)` (floor
  * division, so values below `lo` clamp to bin 0 and overflow clamps to
  * the last bin — the clamps are part of the definition and replay in
  * SQL). Any quantile is then answered from the cumulative counts with
  * rank interpolation inside the landing bin, error bounded by `width`.
  *
  * Per-group state is a FIXED `nBins·8`-byte array merging by
  * element-wise addition — a quantile over a billion rows shuffles one
  * small array per (group × partition) where exact percentiles shuffle
  * (or sort) every row. Every count is an integer, so unlike t-digest/
  * KLL the whole estimator replays exactly in ANSI SQL.
  */
case class HistSketch(
    child: Expression,
    lo: Long,
    width: Long,
    nBins: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with UnaryLike[Expression] {

  require(width > 0, s"hist_sketch: width must be positive, got $width")
  require(nBins > 0 && nBins <= 65536,
    s"hist_sketch: nBins must be in [1,65536], got $nBins")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "hist_sketch"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hist_sketch expects a bigint value column, got $other")
  }

  override def createAggregationBuffer(): Array[Long] = new Array[Long](nBins)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val b = Math.floorDiv(v.asInstanceOf[Long] - lo, width)
      val clamped = if (b < 0L) 0 else if (b >= nBins) nBins - 1 else b.toInt
      buf(clamped) += 1L
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(buf.clone())

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * buf.length)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new Array[Long](nBins)
    var i = 0
    while (i < buf.length) { buf(i) = bb.getLong; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): HistSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HistSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HistSketch =
    copy(child = newChild)
}

/** Histogram sketch UNION: aggregates stored [[HistSketch]] arrays by
  * element-wise addition — counts are additive over disjoint row sets,
  * so re-rolling per-group sketch arrays is EXACT-equal to a single
  * pass over the union's raw rows (bit-equal, not approximately: the
  * sketch-table identity [[KmvUnion]] has for order statistics holds
  * trivially here). Input arrays must all have `nBins` elements; null
  * arrays are ignored; an empty group yields all-zero counts.
  */
case class HistMerge(
    child: Expression,
    nBins: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with UnaryLike[Expression] {

  require(nBins > 0 && nBins <= 65536,
    s"hist_merge: nBins must be in [1,65536], got $nBins")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "hist_merge"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hist_merge expects an array<bigint> sketch column, got $other")
  }

  override def createAggregationBuffer(): Array[Long] = new Array[Long](nBins)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      require(arr.numElements() == nBins,
        s"hist_merge: expected $nBins bins, got an array of ${arr.numElements()}")
      var i = 0
      while (i < nBins) { buf(i) += arr.getLong(i); i += 1 }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(buf.clone())

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * buf.length)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new Array[Long](nBins)
    var i = 0
    while (i < buf.length) { buf(i) = bb.getLong; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): HistMerge =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HistMerge =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HistMerge =
    copy(child = newChild)
}

object SketchAggregates {
  /** Column form: `kmvSketch(fnv64(col("t")), 64)` → struct(n, kth). */
  def kmvSketch(hash: Column, k: Int): Column =
    ExpressionUtils.column(
      KmvSketch(ExpressionUtils.expression(hash), k).toAggregateExpression())

  /** Column form: `kmvHashes(fnv64(col("t")), 64)` → array<bigint> of
    * the ≤ k retained minimum hashes (unsigned-ascending) — the
    * portable sketch column [[kmvUnion]] re-rolls. */
  def kmvHashes(hash: Column, k: Int): Column =
    ExpressionUtils.column(
      KmvHashes(ExpressionUtils.expression(hash), k).toAggregateExpression())

  /** Column form: `kmvUnion(col("sketch"), 64)` over stored
    * [[kmvHashes]] arrays → struct(n, kth), the same summary
    * [[kmvSketch]] yields over the raw rows. */
  def kmvUnion(sketch: Column, k: Int): Column =
    ExpressionUtils.column(
      KmvUnion(ExpressionUtils.expression(sketch), k).toAggregateExpression())

  /** Column form: `histSketch(col("n_chars"), 0, 16, 64)` → array of
    * nBins counters — the portable distribution sketch [[histMerge]]
    * re-rolls. */
  def histSketch(value: Column, lo: Long, width: Long, nBins: Int): Column =
    ExpressionUtils.column(
      HistSketch(ExpressionUtils.expression(value), lo, width, nBins)
        .toAggregateExpression())

  /** Column form: `histMerge(col("hist"), 64)` over stored [[histSketch]]
    * arrays → the element-wise-summed union sketch, bit-equal to a
    * single-pass [[histSketch]] over the union's raw rows. */
  def histMerge(sketch: Column, nBins: Int): Column =
    ExpressionUtils.column(
      HistMerge(ExpressionUtils.expression(sketch), nBins)
        .toAggregateExpression())

  /** Column form: `cmsSketch(fnv64(col("t")), 4, 64)` → array of
    * depth·width counters (row-major). */
  def cmsSketch(hash: Column, depth: Int, width: Int): Column =
    ExpressionUtils.column(
      CmsSketch(ExpressionUtils.expression(hash), depth, width).toAggregateExpression())

  /** CMS point estimate of `hash`'s count from a sketch ARRAY column —
    * MIN over rows of the counter at that row's bucket, as pure column
    * arithmetic over the shared mix64 dag (no UDF): the read side of
    * [[cmsSketch]].
    */
  def cmsEstimate(sketch: Column, hashCol: Column, depth: Int, width: Int): Column = {
    import org.apache.spark.sql.functions.{element_at, least, lit}
    val perRow = (0 until depth).map { i =>
      val b = TextHashExpressions.mix64(hashCol.bitwiseXOR(lit(CmsSketch.rowSeed(i))))
        .bitwiseAND(lit((width - 1).toLong))
      element_at(sketch, (lit(i.toLong * width) + b + 1L).cast("int"))
    }
    least(perRow: _*)
  }
}
