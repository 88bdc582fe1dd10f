package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Match direction of the as-of join (pandas `merge_asof` vocabulary):
  * `Backward` = latest right at-or-before, `Forward` = earliest right
  * at-or-after, `Nearest` = whichever of the two is closer (ties go
  * backward). `Forward`/`Nearest` and any tolerance need a numerically
  * differenceable ts type (long/int/timestamp/date). */
sealed trait AsofDirection
object AsofDirection {
  case object Backward extends AsofDirection
  case object Forward extends AsofDirection
  case object Nearest extends AsofDirection
  def parse(s: String): AsofDirection = s.toLowerCase match {
    case "backward" => Backward
    case "forward" => Forward
    case "nearest" => Nearest
    case other => throw new IllegalArgumentException(
      s"asof direction must be backward|forward|nearest, got $other")
  }
}

/** AS-OF join as a FIRST-CLASS operator — the full custom-operator
  * ladder (SURVEY §4.3/§2.8 rung (c)): a resolved logical node
  * ([[AsofJoinPlan]]), a planner strategy ([[AsofJoinStrategy]],
  * registered per-session via `spark.experimental.extraStrategies` or
  * permanently via [[GraftExtensions]]), and a sort-merge physical
  * exec ([[AsofJoinExec]]).
  *
  * Backward semantics match [[graft.operators.Temporal.asofJoin]] (the
  * window-composition form, kept as the portable twin): for each left
  * row, the payload of the LATEST right row with equal keys and
  * `right.ts <= left.ts`, nulls when none; ties at equal ts resolve
  * right-first; the right side must be unique per (keys, ts). Null
  * timestamps never match (either side). The exec also plans the full
  * pandas-`merge_asof` family: `forward` (EARLIEST right at-or-after —
  * the same single merge pass, the candidate is simply the buffered
  * head, still O(1) state), `nearest` (closer of the two, ties
  * backward), and an optional `tolerance` beyond which candidates are
  * rejected — none of which change the distribution/ordering
  * requirements, so every variant keeps the shuffle-once,
  * bucketing-elidable plan shape.
  *
  * Why a custom exec at 100 TB: the window form UNIONs both sides, so
  * the shuffle carries left+right and the per-key sort runs over the
  * union. This exec declares `ClusteredDistribution`/`SortOrder`
  * requirements per CHILD — each side shuffles and sorts separately
  * (right is typically much smaller), the merge itself is a streaming
  * single pass with O(1) state per partition (one buffered match), and
  * Spark's EnsureRequirements elides the exchanges entirely when a
  * side is already bucketed/sorted by (keys, ts) — the layout the
  * window form can never exploit across the union.
  */
case class AsofJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTs: Attribute, rightTs: Attribute,
    rightValues: Seq[Attribute],
    matched: Seq[Attribute],
    direction: AsofDirection = AsofDirection.Backward,
    tolerance: Option[Long] = None) extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ matched
  override def producedAttributes: AttributeSet = AttributeSet(matched)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinPlan =
    copy(left = newLeft, right = newRight)
}

object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoinPlan(l, r, lk, rk, lts, rts, rv, m, dir, tol) =>
      AsofJoinExec(lk, rk, lts, rts, rv, m, dir, tol, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

case class AsofJoinExec(
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTs: Attribute, rightTs: Attribute,
    rightValues: Seq[Attribute],
    matched: Seq[Attribute],
    direction: AsofDirection,
    tolerance: Option[Long],
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ matched

  /** Both children cluster on their join keys (EnsureRequirements
    * co-partitions them exactly as for a shuffled equi-join). */
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(leftKeys), ClusteredDistribution(rightKeys))

  /** …and sort within partitions by (keys, ts) so the merge is one
    * streaming pass. */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTs, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTs, Ascending))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTs, Ascending)

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)

  /** ts value → Long for tolerance / nearest arithmetic. Only integral-
    * backed types are differenceable; [[AsofJoinNative.asofJoin]] rejects
    * others up front when the mode needs it. */
  private def tsAsLong: Any => Long = leftTs.dataType match {
    case org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.TimestampType |
         org.apache.spark.sql.types.TimestampNTZType => v => v.asInstanceOf[Long]
    case org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.DateType => v => v.asInstanceOf[Int].toLong
    case other => v => throw new IllegalStateException(
      s"asof ${direction}/tolerance needs an integral-backed ts type, got $other")
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val out = output
    val dir = direction
    val tol = tolerance
    val needsNumeric = dir != AsofDirection.Backward || tol.nonEmpty
    val toLong = if (needsNumeric) tsAsLong else null
    left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
      val lKeyProj = UnsafeProjection.create(leftKeys, lOut)
      val rKeyProj = UnsafeProjection.create(rightKeys, rOut)
      val rValProj = UnsafeProjection.create(rightValues, rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(leftKeys.map(_.dataType))
      val tsType = leftTs.dataType
      val tsOrd = TypeUtils.getInterpretedOrdering(tsType)
      val lTsOrdinal = lOut.indexWhere(_.exprId == leftTs.exprId)
      val rTsOrdinal = rOut.indexWhere(_.exprId == rightTs.exprId)
      val resultProj = UnsafeProjection.create(out, lOut ++ matched)
      val joiner = new JoinedRow
      val nullRow = new GenericInternalRow(matched.length)
      val rBuf = rIt.buffered
      // O(1) merge state: the current key's latest at-or-before match.
      // The forward candidate needs no state at all — it is always the
      // buffered head (rights strictly after lTs are never consumed).
      var matchRow: UnsafeRow = null
      var matchTs: Any = null
      var matchKey: UnsafeRow = null
      def withinTol(diff: Long): Boolean = tol.forall(diff <= _)
      lIt.map { lRow =>
        val lKey = lKeyProj(lRow)
        if (matchKey != null && keyOrd.compare(matchKey, lKey) != 0) {
          matchRow = null; matchTs = null; matchKey = null
        }
        val lTsVal = lRow.get(lTsOrdinal, tsType)
        var advance = true
        while (advance && rBuf.hasNext) {
          val head = rBuf.head
          val rKey = rKeyProj(head)
          val c = keyOrd.compare(rKey, lKey)
          if (c < 0) rBuf.next() // stale key: left is ascending, drop
          else if (c > 0) advance = false
          else {
            val rTsVal = head.get(rTsOrdinal, tsType)
            if (rTsVal == null) rBuf.next() // null ts never matches
            else if (lTsVal != null && tsOrd.lteq(rTsVal, lTsVal)) {
              matchRow = rValProj(rBuf.next()).copy()
              matchTs = rTsVal
              if (matchKey == null) matchKey = lKey.copy()
            } else advance = false
          }
        }
        // Candidate diffs (valid only when lTs is non-null): backward =
        // lTs - matchTs >= 0; forward = headTs - lTs > 0, or 0 through
        // the backward slot when a right sits exactly at lTs.
        def backwardRow: UnsafeRow =
          if (matchRow != null && lTsVal != null &&
              (!needsNumeric || withinTol(toLong(lTsVal) - toLong(matchTs)))) matchRow
          else null
        def forwardPeek: InternalRow = { // null when head can't match
          if (lTsVal == null || !rBuf.hasNext) null
          else {
            val head = rBuf.head
            if (keyOrd.compare(rKeyProj(head), lKey) != 0) null
            else {
              val rTsVal = head.get(rTsOrdinal, tsType)
              if (rTsVal != null && withinTol(toLong(rTsVal) - toLong(lTsVal))) head
              else null
            }
          }
        }
        val selected: InternalRow = dir match {
          case AsofDirection.Backward => backwardRow
          case AsofDirection.Forward =>
            // a right exactly at lTs was consumed into the backward slot
            if (matchRow != null && lTsVal != null && toLong(matchTs) == toLong(lTsVal)) matchRow
            else { val f = forwardPeek; if (f == null) null else rValProj(f) }
          case AsofDirection.Nearest =>
            val b = backwardRow
            val f = forwardPeek
            if (b == null && f == null) null
            else if (f == null) b
            else if (b == null) rValProj(f)
            else { // both valid: smaller diff wins, ties go backward
              val bDiff = toLong(lTsVal) - toLong(matchTs)
              val fDiff = toLong(f.get(rTsOrdinal, tsType)) - toLong(lTsVal)
              if (bDiff <= fDiff) b else rValProj(f)
            }
        }
        resultProj(joiner(lRow, if (selected != null) selected else nullRow))
      }
    }
  }
}

/** Registration + DataFrame-level API for the native as-of join. */
object AsofJoinNative {

  /** Per-session registration through the PUBLIC experimental seam
    * (the permanent-build path is `spark.sql.extensions=`
    * [[GraftExtensions]], which injects the same strategy). */
  def register(spark: SparkSession): Unit = {
    if (!spark.experimental.extraStrategies.contains(AsofJoinStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsofJoinStrategy
    }
  }

  /** As-of join via the native operator; same contract as
    * [[graft.operators.Temporal.asofJoin]] — right payload columns plus
    * the matched timestamp as `matched_<tsCol>`, callers pre-rename
    * collisions. `direction` is backward (default, latest at-or-before),
    * forward (earliest at-or-after) or nearest (closer of the two, ties
    * backward); `tolerance` is a max |ts difference| in the ts type's
    * raw units (µs for timestamp, days for date) beyond which a
    * candidate is rejected and the match is null. */
  def asofJoin(left: DataFrame, right: DataFrame,
      keys: Seq[String], tsCol: String,
      direction: String = "backward",
      tolerance: Option[Long] = None): DataFrame = {
    val dir = AsofDirection.parse(direction)
    val spark = left.sparkSession
    register(spark)
    val lPlan = left.queryExecution.analyzed
    // Re-alias the right side so its attributes get FRESH exprIds: a
    // self-join (both sides derived from one table) would otherwise
    // put the same exprId in both children, and attribute resolution
    // inside the custom node becomes ambiguous (the analyzer's
    // DeduplicateRelations only knows how to repair built-in joins).
    val rPlan = right.select(right.columns.toSeq.map(c =>
      org.apache.spark.sql.functions.col(c).as(c)): _*).queryExecution.analyzed
    def attr(plan: LogicalPlan, n: String): Attribute =
      plan.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"column $n not found in ${plan.output.map(_.name)}"))
    val lKeys = keys.map(attr(lPlan, _))
    val rKeys = keys.map(attr(rPlan, _))
    val lTs = attr(lPlan, tsCol)
    val rTs = attr(rPlan, tsCol)
    require(lTs.dataType == rTs.dataType, "ts columns must share a type")
    if (dir != AsofDirection.Backward || tolerance.nonEmpty) {
      import org.apache.spark.sql.types._
      require(Seq(LongType, IntegerType, TimestampType, TimestampNTZType, DateType)
        .contains(lTs.dataType),
        s"asof $direction/tolerance needs an integral-backed ts type, got ${lTs.dataType}")
    }
    tolerance.foreach(t => require(t >= 0, s"tolerance must be >= 0, got $t"))
    val payload = rPlan.output.filterNot(a => keys.contains(a.name) || a.name == tsCol)
    require(payload.nonEmpty, "right side needs at least one payload column")
    val matched = AttributeReference(s"matched_$tsCol", rTs.dataType, nullable = true)() +:
      payload.map(a => AttributeReference(a.name, a.dataType, nullable = true)())
    GraftSqlShim.ofRows(spark,
      AsofJoinPlan(lPlan, rPlan, lKeys, rKeys, lTs, rTs, rTs +: payload, matched,
        dir, tolerance))
  }
}
