package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded-state aggregate functions: the O(k)-per-group alternative to
  * "sort everything in the group".
  *
  * Both are `TypedImperativeAggregate`s, so they run inside
  * ObjectHashAggregate with MAP-SIDE PARTIAL aggregation: every input
  * partition contributes at most k entries per group to the shuffle,
  * and partials merge associatively on the reduce side. At 100 TB this
  * is the difference between shuffling k·|groups| rows and shuffling
  * the whole table into per-group window sorts.
  *
  *  - [[KmvSketch]]: the k smallest DISTINCT hash values of a column —
  *    the classic KMV (k-minimum-values) distinct-count sketch. With
  *    the engine-portable 48-bit hash ([[Md5Hash48]]) the sketch is
  *    deterministic and bit-replicable in any engine, so unlike HLL the
  *    ESTIMATE itself is oracle-checkable (the DuckDB replica computes
  *    the same k minima with rank-k SQL). Estimator: (k-1)·2^48 / kth.
  *  - [[TopKBy]]: top-k (value DESC, id ASC) pairs per group with a
  *    bounded ordered buffer — replaces the row_number()-over-window
  *    top-k whose shuffle carries every row of every group. Identical
  *    (value, id) pairs dedup; ties break on the smaller id.
  *  - [[DistinctUpTo]]: `min(count_distinct(col), k)` with O(k) state —
  *    the SATURATING distinct counter for threshold tests like "seen in
  *    ≥ k distinct documents". Unlike `count_distinct` (whose Expand-
  *    based plan shuffles every (group, value) pair and keeps unbounded
  *    per-group state), the buffer stops growing at k: a viral
  *    boilerplate chunk costs k longs, not its full posting list.
  */
object BoundedAggregates {

  private def litInt(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other if other.foldable => other.eval().asInstanceOf[Int]
    case _ => throw new IllegalArgumentException(s"$what must be a literal int")
  }

  /** Register `kmv_sketch(hash_long, k)` and `topk_by(value, id, k)` in
    * the session registry (idempotent — same hook as [[Md5Hash48]]). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    val kmvIdent = org.apache.spark.sql.catalyst.FunctionIdentifier("kmv_sketch")
    if (!registry.functionExists(kmvIdent)) {
      registry.createOrReplaceTempFunction("kmv_sketch",
        exprs => KmvSketch(exprs(0), litInt(exprs(1), "kmv_sketch k")), "built-in")
      registry.createOrReplaceTempFunction("topk_by",
        exprs => TopKBy(exprs(0), exprs(1), litInt(exprs(2), "topk_by k")), "built-in")
      registry.createOrReplaceTempFunction("distinct_up_to",
        exprs => DistinctUpTo(exprs(0), litInt(exprs(1), "distinct_up_to k")), "built-in")
    }
  }
}

/** Saturating distinct set: stops admitting once k values are held. */
final class DistinctUpToBuffer(val k: Int) {
  val set = new java.util.HashSet[java.lang.Long]()
  def add(v: Long): Unit = if (set.size < k) { set.add(v); () }
}

/** `min(count_distinct(child), k)` with O(k) per-group state — see the
  * companion scaladoc. Exact below the cap (the buffer then held every
  * distinct value); at or above it, the answer is exactly k, which is
  * all a `>= k` threshold test ever reads. */
case class DistinctUpTo(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[DistinctUpToBuffer] with UnaryLike[Expression]
  with ImplicitCastInputTypes {

  require(k > 0, "distinct_up_to k must be positive")

  // All three registry aggregates are general SQL functions; without a
  // declared input type, an INT/STRING child would pass analysis and
  // then ClassCastException in update(). ImplicitCastInputTypes makes
  // the analyzer insert the cast or reject at analysis time.
  override def inputTypes: Seq[DataType] = Seq(LongType)

  override def createAggregationBuffer(): DistinctUpToBuffer = new DistinctUpToBuffer(k)

  override def update(buffer: DistinctUpToBuffer, input: InternalRow): DistinctUpToBuffer = {
    val v = child.eval(input)
    if (v != null) buffer.add(v.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: DistinctUpToBuffer, other: DistinctUpToBuffer): DistinctUpToBuffer = {
    val it = other.set.iterator()
    while (it.hasNext && buffer.set.size < k) { buffer.set.add(it.next()); () }
    buffer
  }

  override def eval(buffer: DistinctUpToBuffer): Any = buffer.set.size.toLong

  override def serialize(buffer: DistinctUpToBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buffer.set.size)
    bb.putInt(buffer.set.size)
    val it = buffer.set.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): DistinctUpToBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new DistinctUpToBuffer(k)
    var i = 0
    while (i < n) { buf.set.add(bb.getLong); i += 1 }
    buf
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "distinct_up_to"

  override def withNewMutableAggBufferOffset(offset: Int): DistinctUpTo =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): DistinctUpTo =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): DistinctUpTo =
    copy(child = newChild)
}

/** Bounded sorted set of the k smallest distinct longs. */
final class KmvBuffer(val k: Int) {
  val set = new java.util.TreeSet[java.lang.Long]()
  def add(v: Long): Unit =
    if (set.size < k) { set.add(v); () }
    else if (v < set.last) { if (set.add(v)) { set.pollLast(); () } }
  /** Ascending minima (last = the kth). */
  def toArray: Array[Long] = {
    val out = new Array[Long](set.size)
    var i = 0
    val it = set.iterator()
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out
  }
}

case class KmvSketch(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KmvBuffer] with UnaryLike[Expression]
  with ImplicitCastInputTypes {

  require(k > 0, "kmv_sketch k must be positive")

  override def inputTypes: Seq[DataType] = Seq(LongType)

  override def createAggregationBuffer(): KmvBuffer = new KmvBuffer(k)

  override def update(buffer: KmvBuffer, input: InternalRow): KmvBuffer = {
    val v = child.eval(input)
    if (v != null) buffer.add(v.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: KmvBuffer, other: KmvBuffer): KmvBuffer = {
    val it = other.set.iterator()
    while (it.hasNext) buffer.add(it.next())
    buffer
  }

  /** Ascending array of the ≤k minima (last element = the kth). */
  override def eval(buffer: KmvBuffer): Any =
    new GenericArrayData(buffer.toArray)

  override def serialize(buffer: KmvBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buffer.set.size)
    bb.putInt(buffer.set.size)
    val it = buffer.set.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): KmvBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new KmvBuffer(k)
    var i = 0
    while (i < n) { buf.set.add(bb.getLong); i += 1 }
    buf
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "kmv_sketch"

  override def withNewMutableAggBufferOffset(offset: Int): KmvSketch =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): KmvSketch =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): KmvSketch =
    copy(child = newChild)
}

/** Bounded ordered buffer of the top-k (value DESC, id ASC) pairs. */
final class TopKBuffer(val k: Int) {
  // natural order = best first: higher value, then smaller id
  val set = new java.util.TreeSet[(Double, Long)](
    ((a: (Double, Long), b: (Double, Long)) => {
      val c = java.lang.Double.compare(b._1, a._1)
      if (c != 0) c else java.lang.Long.compare(a._2, b._2)
    }): java.util.Comparator[(Double, Long)])
  def add(value: Double, id: Long): Unit = {
    val e = (value, id)
    if (set.size < k) { set.add(e); () }
    else if (set.comparator.compare(e, set.last) < 0) {
      if (set.add(e)) { set.pollLast(); () }
    }
  }
}

case class TopKBy(
    valueExpr: Expression,
    idExpr: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] with BinaryLike[Expression]
  with ImplicitCastInputTypes {

  require(k > 0, "topk_by k must be positive")

  override def inputTypes: Seq[DataType] = Seq(DoubleType, LongType)

  override def left: Expression = valueExpr
  override def right: Expression = idExpr

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(buffer: TopKBuffer, input: InternalRow): TopKBuffer = {
    val v = valueExpr.eval(input)
    val id = idExpr.eval(input)
    if (v != null && id != null)
      buffer.add(v.asInstanceOf[Double], id.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    val it = other.set.iterator()
    while (it.hasNext) { val e = it.next(); buffer.add(e._1, e._2) }
    buffer
  }

  /** Array of (value, id) structs, best first. */
  override def eval(buffer: TopKBuffer): Any = {
    val out = new Array[Any](buffer.set.size)
    var i = 0
    val it = buffer.set.iterator()
    while (it.hasNext) { val e = it.next(); out(i) = InternalRow(e._1, e._2); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buffer: TopKBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * buffer.set.size)
    bb.putInt(buffer.set.size)
    val it = buffer.set.iterator()
    while (it.hasNext) { val e = it.next(); bb.putDouble(e._1); bb.putLong(e._2) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new TopKBuffer(k)
    var i = 0
    while (i < n) { buf.set.add((bb.getDouble, bb.getLong)); i += 1 }
    buf
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("value", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "topk_by"

  override def withNewMutableAggBufferOffset(offset: Int): TopKBy =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TopKBy =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): TopKBy =
    copy(valueExpr = newLeft, idExpr = newRight)
}
