package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** As-of join as a first-class operator — the (c) tier of the custom-op
  * ladder: a logical node, a planner Strategy and a physical exec,
  * registered through [[GraftExtensions]]. Spark has no native as-of join; the
  * compositional renderings (union + last-ignore-nulls window, or range
  * join + argmax) either widen the shuffle or materialize candidate
  * pairs. This operator does what a time-series engine does: hash-
  * partition both sides by key, sort each partition by (key, time, id),
  * then ONE linear merge per partition — for every left row, the
  * latest right row with the same key and time <= left time (ties to
  * the largest (time, id), deterministic). Cost is sort + O(n+m) per
  * partition, no candidate blowup at any skew.
  *
  * Scope: one integral (long) key and long event-time per side — the
  * fleet shape (sensor id + epoch). Wider keys are key-projection
  * plumbing, not new algorithm. Left semantics: LEFT OUTER (unmatched
  * left rows emit nulls on the right), mirroring pandas merge_asof and
  * DuckDB ASOF LEFT JOIN.
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression,
    leftId: Expression,
    rightId: Expression) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: AsOfJoinPlan =>
      AsOfJoinExec(p.leftKey, p.rightKey, p.leftTime, p.rightTime,
        p.leftId, p.rightId, planLater(p.left), planLater(p.right)) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression,
    leftId: Expression,
    rightId: Expression,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // co-partition both sides on the key: EnsureRequirements inserts the
  // exchanges and aligns partition counts exactly as for a sort-merge join
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(Seq(leftKey)), ClusteredDistribution(Seq(rightKey)))

  // per-partition (key, time, id) sort: the merge is then a single pass
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending),
      SortOrder(leftId, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending),
      SortOrder(rightId, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def doExecute(): RDD[InternalRow] = {
    val lKey = BindReferences.bindReference(leftKey, left.output)
    val lTime = BindReferences.bindReference(leftTime, left.output)
    val rKey = BindReferences.bindReference(rightKey, right.output)
    val rTime = BindReferences.bindReference(rightTime, right.output)
    val rightArity = right.output.size
    left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
      // project JoinedRow -> UnsafeRow at the operator boundary: SparkPlan
      // consumers (getByteArrayRdd/shuffle writers) cast output rows to
      // UnsafeRow, so emitting the raw JoinedRow only works when a
      // ProjectExec happens to sit above — found by RetryDeterminismSpec
      // collecting the bare join output (round-11)
      val resultProj = org.apache.spark.sql.catalyst.expressions
        .UnsafeProjection.create(output, output)
      new Iterator[InternalRow] {
        private val joined = new JoinedRow
        private val nulls = new GenericInternalRow(rightArity)
        private val rBuf = rIt.buffered
        // latest right row (copied — iterators reuse row objects) with
        // candKey / candTime valid only when candSet
        private var cand: InternalRow = _
        private var candKey = 0L
        private var candSet = false
        override def hasNext: Boolean = lIt.hasNext
        override def next(): InternalRow = {
          val l = lIt.next()
          val kAny = lKey.eval(l)
          val tAny = lTime.eval(l)
          // null key/time on the left: no row can match (SQL comparison
          // semantics) — emit the left-outer null row WITHOUT advancing the
          // right side (null-key left rows sort first, so no later left row
          // needed the skipped advance anyway)
          if (kAny == null || tAny == null) return resultProj(joined(l, nulls))
          val k = kAny.asInstanceOf[Long]
          val t = tAny.asInstanceOf[Long]
          // advance the right side through every row at-or-before (k, t);
          // the last one advanced over for key k is the as-of match.
          // Null-key/null-time right rows sort FIRST (Ascending = nulls
          // first) and can never match — consume them without candidacy,
          // so they cannot masquerade as key/time 0 (round-8 advice).
          var advancing = true
          while (advancing && rBuf.hasNext) {
            val r = rBuf.head
            val rkAny = rKey.eval(r)
            if (rkAny == null) rBuf.next()
            else {
              val rk = rkAny.asInstanceOf[Long]
              if (rk < k) rBuf.next()
              else if (rk == k) {
                val rtAny = rTime.eval(r)
                if (rtAny == null) rBuf.next()
                else if (rtAny.asInstanceOf[Long] <= t) {
                  cand = r.copy(); candKey = k; candSet = true
                  rBuf.next()
                } else advancing = false
              } else advancing = false
            }
          }
          if (candSet && candKey == k) resultProj(joined(l, cand))
          else resultProj(joined(l, nulls))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Public construction surface for the operator. */
object AsOf {
  /** `left` as-of `right` on an integral key and long time column: for
    * each left row, columns of the latest right row with the same key
    * and `right(timeCol) <= left(timeCol)` (nulls when none). Column
    * names must not collide across sides (alias before joining). The
    * session must hold the graft dialect ([[GraftExtensions]]).
    */
  def joinAsOf(leftDf: DataFrame, rightDf: DataFrame, leftKeyCol: String,
      rightKeyCol: String, leftTimeCol: String, rightTimeCol: String,
      leftIdCol: String, rightIdCol: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Cast}
    import org.apache.spark.sql.catalyst.plans.logical.Project
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    GraftOptimizations.requireInstalled(leftDf.sparkSession)
    val lp = leftDf.queryExecution.analyzed
    val rp0 = rightDf.queryExecution.analyzed
    // Self-join hygiene (round-8 advice): when both sides derive from the
    // same DataFrame — the most natural as-of use — left.output and
    // right.output share attribute exprIds, and the joined node's output
    // would carry duplicates that downstream resolution can bind to the
    // wrong side. Re-alias the right side with fresh exprIds, the same
    // dedup Spark's analyzer applies to self-joins.
    val lIds = lp.output.map(_.exprId).toSet
    val rp: LogicalPlan =
      if (rp0.output.exists(a => lIds.contains(a.exprId)))
        Project(rp0.output.map(a => Alias(a, a.name)()), rp0)
      else rp0
    // resolve with the session's resolver (spark.sql.caseSensitive) and
    // reject ambiguity — a first-match lookup would silently sort/merge
    // on the wrong one of two same-named columns (legal after a join)
    val resolver = leftDf.sparkSession.sessionState.analyzer.resolver
    def a(p: LogicalPlan, n: String): Attribute =
      p.output.filter(at => resolver(at.name, n)) match {
        case Seq(one) => one
        case Seq() => throw new IllegalArgumentException(s"no column $n")
        case many => throw new IllegalArgumentException(
          s"ambiguous column $n: ${many.map(_.name).mkString(", ")}")
      }
    // The merge unboxes key/time as Long: widen smaller integral types
    // (monotonic cast, ordering preserved) and reject everything else up
    // front — an INT key must not surface as a runtime ClassCastException
    // deep in a stage (round-8 advice).
    def asLong(p: LogicalPlan, n: String, side: String): Expression = {
      val at = a(p, n)
      at.dataType match {
        case LongType => at
        case ByteType | ShortType | IntegerType => Cast(at, LongType)
        case dt => throw new IllegalArgumentException(
          s"as-of join $side column '$n' must be an integral type, got $dt")
      }
    }
    Dataset.ofRows(leftDf.sparkSession.asInstanceOf[SparkSession],
      AsOfJoinPlan(lp, rp,
        asLong(lp, leftKeyCol, "left key"), asLong(rp, rightKeyCol, "right key"),
        asLong(lp, leftTimeCol, "left time"), asLong(rp, rightTimeCol, "right time"),
        a(lp, leftIdCol), a(rp, rightIdCol)))
  }
}
