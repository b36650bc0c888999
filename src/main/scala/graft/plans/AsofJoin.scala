package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, DateType, IntegerType, LongType, TimestampNTZType, TimestampType}

/** Native as-of join — the whole-operator Catalyst extension (SURVEY §2.3:
  * the join family Spark lacks; reference has no joins at all, this is the
  * north-star time-series surface beside `ts_asof_last_purchase`'s window
  * spelling and `ts_pit_join`).
  *
  * For every left ("probe") row, attach the single right ("state") row with
  * the same key whose time is, per `direction`:
  *   - `backward` (default): the greatest state time ≤ the probe's time —
  *     pandas `merge_asof` / DuckDB `ASOF LEFT JOIN (probe.t >= state.t)`;
  *   - `forward`: the smallest state time ≥ the probe's time;
  *   - `nearest`: whichever of the two candidates is closer in absolute
  *     time distance, ties broken toward the backward (earlier) match;
  * or nulls if no qualifying row. An optional `tolerance` (in the time
  * column's native units: microseconds for timestamps, days for dates, raw
  * for integral columns) nulls out any match farther than the bound — the
  * `merge_asof(tolerance=...)` contract.
  *
  * Why a custom physical operator (ladder step (c): LogicalPlan +
  * SparkStrategy + SparkPlan, injected by [[graft.functions.GraftExtensions]]
  * or `graft.Graft.install`):
  * built-in spellings either theta-join on a time inequality (quadratic per
  * key) or union both streams through one window (linear, but it carries
  * every probe column through the sort and can't prune state columns until
  * after the window). The dedicated exec declares
  * `requiredChildDistribution` = clustered on the keys and
  * `requiredChildOrdering` = (key, time) on both sides, so EnsureRequirements
  * co-partitions and sorts the children — the sort-merge-join skeleton —
  * and then ONE forward merge pass per partition emits every probe with its
  * prevailing state: O(left + right) per partition, state = one buffered
  * right row (plus the one-row lookahead all directions share), no per-key
  * buffering, no re-scan. At 100 TB both sides shuffle once on the key (the
  * minimum any co-located algorithm pays) and nothing else is materialized.
  *
  * Semantics notes: state-time ties are broken by whichever sorts last for
  * `backward` and first for `forward` (callers wanting determinism make
  * (key, time) unique on the state side, as the fixture queries do). Null
  * KEYS never match — [[AsofJoin.left]] filters null-keyed and null-timed
  * state rows, so the merge's null-safe key ordering can never pair them,
  * exactly like the SQL equality in the DuckDB oracle; a null probe TIME
  * compares false against every state time and yields a null match (the
  * probe row itself still flows through, left-join style).
  */
case class AsofJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    direction: String = AsofJoin.Backward,
    tolerance: Option[Long] = None) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy: maps the logical as-of node to its exec. Injected via
  * `SparkSessionExtensions.injectPlannerStrategy`. */
object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoinPlan(l, r, lk, rk, lt, rt, dir, tol) =>
      AsofJoinExec(lk, rk, lt, rt, dir, tol, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

case class AsofJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    direction: String,
    tolerance: Option[Long],
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  /** Both sides clustered on their keys — EnsureRequirements inserts
    * co-partitioned exchanges (and AQE keeps them compatible, as for any
    * binary node that declares these requirements). */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  /** (key, time) ascending on both sides — the merge pass's precondition. */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

  /** Probe rows pass through in order: partitioning and ordering are the
    * left child's — downstream keyed aggregations reuse the exchange. */
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  private def needDiff: Boolean =
    tolerance.isDefined || direction == AsofJoin.Nearest

  /** Time as a long in the column's native units — only needed when a
    * distance (tolerance / nearest) must actually be computed; plain
    * backward/forward matching uses the type's natural ordering and so
    * works for ANY orderable time type. */
  private def timeAsLong(dt: DataType): InternalRow => Long = dt match {
    case IntegerType | DateType => r => r.getInt(0).toLong
    case LongType | TimestampType | TimestampNTZType => r => r.getLong(0)
    case other => throw new IllegalArgumentException(
      s"asof tolerance/nearest needs an integral-ordered time column, got $other")
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val keyTypes = leftKeys.map(_.dataType)
    val timeType = leftTime.dataType
    val dir = direction
    val tol = tolerance
    val wantDiff = needDiff
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(leftKeys, left.output)
      val rKeyProj = UnsafeProjection.create(rightKeys, right.output)
      val lTimeProj = UnsafeProjection.create(Seq(leftTime), left.output)
      val rTimeProj = UnsafeProjection.create(Seq(rightTime), right.output)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(timeType))
      val getTime: InternalRow => Long =
        if (wantDiff) timeAsLong(timeType) else null
      val resultProj = UnsafeProjection.create(output, output)
      val nullRight = new GenericInternalRow(right.output.length)
      val joined = new JoinedRow
      // Backward-candidate consumption: ≤ for backward/nearest (ties go to
      // the trailing state), strictly < for forward (an equal-time state row
      // must stay ahead as the forward candidate — merge_asof includes
      // equality in both directions).
      val consumeEqual = dir != AsofJoin.Forward

      new Iterator[InternalRow] {
        // Lookahead right row: the reference stays valid until the next
        // rIter.next() call, so holding it across left rows is safe; its
        // key is copied because the key projection's buffer is reused. The
        // lookahead doubles as the FORWARD candidate (first un-consumed
        // state row at the probe's key).
        private var rHead: InternalRow = _
        private var rHeadKey: InternalRow = _
        // Prevailing backward state for the current key group (copied:
        // child rows are buffer-backed and mutate on iterator advance).
        private var lastMatch: InternalRow = _
        private var lastMatchKey: InternalRow = _
        private var lastMatchTime: Long = 0L

        private def advanceRight(): Unit =
          if (rIter.hasNext) {
            rHead = rIter.next()
            rHeadKey = rKeyProj(rHead).copy()
          } else {
            rHead = null
            rHeadKey = null
          }
        advanceRight()

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val lRow = lIter.next()
          val lKey = lKeyProj(lRow)
          val lTimeRow = lTimeProj(lRow)
          val lTimeNull = lTimeRow.isNullAt(0)
          if (lastMatch != null && keyOrd.compare(lastMatchKey, lKey) != 0) {
            lastMatch = null
            lastMatchKey = null
          }
          // A null probe time compares false against every state time (SQL
          // semantics): consume nothing, match nothing. Null-timed probes
          // sort FIRST in their key group, so leaving the state stream
          // untouched is also what the later, non-null probes need.
          var scanning = !lTimeNull
          while (scanning && rHead != null) {
            val c = keyOrd.compare(rHeadKey, lKey)
            if (c < 0) advanceRight()
            else if (c == 0 && {
              val tc = timeOrd.compare(rTimeProj(rHead), lTimeRow)
              tc < 0 || (tc == 0 && consumeEqual)
            }) {
              lastMatch = rHead.copy()
              lastMatchKey = rHeadKey
              if (wantDiff) lastMatchTime = getTime(rTimeProj(rHead))
              advanceRight()
            } else scanning = false
          }
          // Candidate selection per direction (+ tolerance).
          var m: InternalRow = null
          if (!lTimeNull) {
            val lT = if (wantDiff) getTime(lTimeRow) else 0L
            val back: InternalRow =
              if (lastMatch != null &&
                  tol.forall(t => lT - lastMatchTime <= t)) lastMatch
              else null
            lazy val fwdHere = rHead != null && keyOrd.compare(rHeadKey, lKey) == 0
            dir match {
              case AsofJoin.Backward => m = back
              case AsofJoin.Forward =>
                if (fwdHere && tol.forall(t => getTime(rTimeProj(rHead)) - lT <= t))
                  m = rHead
              case AsofJoin.Nearest =>
                val fwdOk = fwdHere &&
                  tol.forall(t => getTime(rTimeProj(rHead)) - lT <= t)
                m =
                  if (back == null) { if (fwdOk) rHead else null }
                  else if (!fwdOk) back
                  // tie → backward (the ≤ keeps equal distances on the
                  // earlier match, pinned by the oracle's CASE the same way)
                  else if (lT - lastMatchTime <= getTime(rTimeProj(rHead)) - lT) back
                  else rHead
            }
          }
          numOutputRows += 1
          resultProj(joined(lRow, if (m != null) m else nullRight))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Library API: `AsofJoin.left(probes, states, keys, probeTime, stateTime,
  * direction, tolerance)`. Column names must be unambiguous across the two
  * sides (rename before joining, as with any join producing both sides'
  * columns). */
object AsofJoin {
  val Backward = "backward"
  val Forward = "forward"
  val Nearest = "nearest"
  private val Directions = Set(Backward, Forward, Nearest)
  private val DiffableTimeTypes: Set[DataType] =
    Set(IntegerType, DateType, LongType, TimestampType, TimestampNTZType)

  def left(
      probes: DataFrame,
      states: DataFrame,
      keys: Seq[(String, String)],
      probeTimeCol: String,
      stateTimeCol: String,
      direction: String = Backward,
      tolerance: Option[Long] = None): DataFrame = {
    require(Directions(direction),
      s"asof direction must be one of ${Directions.mkString("/")}, got '$direction'")
    tolerance.foreach(t => require(t >= 0, s"asof tolerance must be >= 0, got $t"))
    val session = probes.sparkSession
    // Null-keyed or null-timed state rows can never match under SQL equality
    // / comparison semantics (the oracle's ASOF ON c.k = p.k); filtering
    // them HERE (not in the merge) keeps the exec's null-safe orderings and
    // the SQL contract agreeing by construction.
    val liveStates = states.filter(
      (keys.map(k => col(k._2).isNotNull) :+ col(stateTimeCol).isNotNull)
        .reduce(_ && _))
    val lp = probes.queryExecution.analyzed
    val rp = liveStates.queryExecution.analyzed
    // Self-join guard: shared expression IDs across the two children would
    // make the output projection bind both sides to the same input slots
    // (the analyzer dedupes built-in Join children, not custom nodes).
    val shared = lp.outputSet.intersect(rp.outputSet)
    require(shared.isEmpty,
      s"asof sides share attributes ${shared.toSeq.map(_.name).mkString(", ")} — " +
        "derive the state side independently or realias it (e.g. select with new names)")
    def attr(p: LogicalPlan, n: String, side: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"$side side has no column '$n'"))
    val lk = keys.map(k => attr(lp, k._1, "probe"))
    val rk = keys.map(k => attr(rp, k._2, "state"))
    val lt = attr(lp, probeTimeCol, "probe")
    val rt = attr(rp, stateTimeCol, "state")
    // Type agreement up front: built-in joins insert implicit casts at
    // analysis; this API has no analyzer pass, so mismatched types would
    // sort each side correctly yet compare raw words with the wrong
    // accessor in the merge — an error here, not silent wrong answers.
    lk.zip(rk).zipWithIndex.foreach { case ((l, r), i) =>
      require(l.dataType == r.dataType,
        s"asof key ${i + 1} type mismatch: probe ${l.name}: ${l.dataType} vs " +
          s"state ${r.name}: ${r.dataType} — cast one side before joining")
    }
    require(lt.dataType == rt.dataType,
      s"asof time type mismatch: probe $probeTimeCol: ${lt.dataType} vs " +
        s"state $stateTimeCol: ${rt.dataType} — cast one side before joining")
    if (tolerance.isDefined || direction == Nearest)
      require(DiffableTimeTypes(lt.dataType),
        s"asof tolerance/nearest needs an integral-ordered time column " +
          s"(int/long/date/timestamp), got ${lt.dataType}")
    val node = AsofJoinPlan(lp, rp, lk, rk, lt, rt, direction, tolerance)
    org.apache.spark.sql.GraftSqlBridge.ofRows(session, node)
  }
}
