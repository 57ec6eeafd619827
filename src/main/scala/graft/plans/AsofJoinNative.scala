package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.graftshim.Shim

/** Native backward as-of join as a first-class Catalyst operator:
  * custom LogicalPlan + SparkStrategy + BinaryExecNode.
  *
  * Semantics (DuckDB/QuestDB `ASOF JOIN`): for each left row, the
  * single right row with the same key and the largest
  * `rightTime <= leftTime` (inclusive; ties on time resolved by right
  * sort order, i.e. the last one — pinned by `rightTiebreak`). Left
  * rows with no match get nulls.
  *
  * Execution model — built for the 100 TB case:
  *  - `requiredChildDistribution` co-partitions both sides by key
  *    (EnsureRequirements inserts the shuffles, AQE sizes them);
  *  - `requiredChildOrdering` asks for (key, time) sort within
  *    partitions (SortExec, spillable);
  *  - the join itself is a per-partition streaming merge: O(n+m) per
  *    partition, O(1) state (ONE buffered right row), no row buffering
  *    of either side — where the window formulation materializes the
  *    unioned stream per key in the window operator, this holds only
  *    the current carry row. Output preserves the left side's
  *    partitioning and ordering, so downstream keyed work reuses the
  *    exchange.
  *
  * Reference analog: micromegas pairs measures onto log/span rows by
  * time proximity (doc/how_to_query/README.md); DataFusion has no
  * as-of operator either — this is the Spark-native re-expression.
  */
object AsofJoinNative {

  /** As-of join `left` with `right` on equal `key`.
    *
    *  - `direction = "backward"` (default): the LATEST right row with
    *    `rightTime <= leftTime`;
    *  - `direction = "forward"`: the EARLIEST right row with
    *    `rightTime >= leftTime`.
    *
    * `tolerance` (in the time column's own units — µs for timestamps,
    * days for dates) bounds the allowed gap |leftTime - rightTime|;
    * rows beyond it join with nulls. Tolerance requires an integral
    * time type. Right columns are suffixed with `rightSuffix` when
    * they collide with left names. Both time columns must have the
    * same type.
    *
    * `rightTiebreak` (right column names, before suffixing) orders
    * equal-time right rows: backward picks the largest
    * `(rightTime, rightTiebreak)`, forward the smallest. Without it the
    * pick among equal times follows sort arrival order.
    */
  def join(left: DataFrame, right: DataFrame, key: Seq[String],
      leftTime: String, rightTime: String, rightSuffix: String = "_r",
      direction: String = "backward", tolerance: Option[Long] = None,
      rightTiebreak: Seq[String] = Nil): DataFrame = {
    val spark = left.sparkSession
    require(direction == "backward" || direction == "forward",
      s"direction must be backward|forward, got $direction")
    require(tolerance.forall(_ >= 0), "tolerance must be >= 0")
    val r = TemporalJoinResolution.resolve(left, right, key, leftTime, rightTime,
      rightSuffix, rightTiebreak)
    if (tolerance.isDefined) AsofJoinExec.timeExtractor(r.leftTime.dataType) // fail fast
    Shim.ofRows(spark,
      AsofJoinNode(r.leftPlan, r.rightPlan, r.leftKeys, r.rightKeys, r.leftTime, r.rightTime,
        forward = direction == "forward", tolerance = tolerance, rightTiebreak = r.rightTiebreak))
  }
}

/** Shared name-resolution for the native temporal joins: de-collides
  * right column names with a suffix (guarded against secondary
  * collisions), resolves key/time attributes with the session's
  * resolver (honors spark.sql.caseSensitive), and checks time types.
  */
private[plans] object TemporalJoinResolution {
  final case class Resolved(
      leftPlan: LogicalPlan, rightPlan: LogicalPlan,
      leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
      leftTime: Attribute, rightTime: Attribute, rightTiebreak: Seq[Attribute])

  def resolve(left: DataFrame, right: DataFrame, key: Seq[String],
      leftTime: String, rightTime: String, rightSuffix: String,
      rightTiebreak: Seq[String] = Nil): Resolved = {
    val spark = left.sparkSession
    val lPlan = left.queryExecution.analyzed
    // de-collide right column names BEFORE analysis capture so the
    // operator's output attribute names are unambiguous
    require(rightSuffix.nonEmpty, "rightSuffix must be non-empty")
    val leftNames = left.columns.toSet
    right.columns.filter(leftNames.contains).foreach { c =>
      require(!right.columns.contains(c + rightSuffix),
        s"renaming $c to $c$rightSuffix collides with an existing right column")
    }
    val renamed = right.columns.foldLeft(right) { (df, c) =>
      if (leftNames.contains(c)) df.withColumnRenamed(c, c + rightSuffix) else df
    }
    val rPlan = renamed.queryExecution.analyzed
    val resolver = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.resolver
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(a => resolver(a.name, name)).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not in [${plan.output.map(_.name).mkString(", ")}]"))
    def rightAttr(name: String): Attribute =
      attr(rPlan, if (leftNames.contains(name)) name + rightSuffix else name)
    val lKeys = key.map(attr(lPlan, _))
    val lT = attr(lPlan, leftTime)
    val rT = rightAttr(rightTime)
    require(lT.dataType == rT.dataType,
      s"time column types differ: ${lT.dataType} vs ${rT.dataType}")
    Resolved(lPlan, rPlan, lKeys, key.map(rightAttr), lT, rT, rightTiebreak.map(rightAttr))
  }
}

/** Logical operator: output = left columns ++ right columns (right made
  * nullable — unmatched left rows carry nulls).
  */
case class AsofJoinNode(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTime: Attribute, rightTime: Attribute,
    forward: Boolean = false, tolerance: Option[Long] = None,
    rightTiebreak: Seq[Attribute] = Nil) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(a => a.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinNode =
    copy(left = newLeft, right = newRight)
}

object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoinNode(l, r, lk, rk, lt, rt, fwd, tol, tb) =>
      AsofJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, fwd, tol, tb) :: Nil
    case _ => Nil
  }
}

/** Physical streaming merge as-of join. Children arrive co-partitioned
  * by key and sorted by (key, time) — EnsureRequirements materializes
  * that from the declared requirements below.
  */
object AsofJoinExec {
  /** Long view of a time value for tolerance arithmetic; only integral
    * time types support tolerance (fail fast at plan build).
    */
  def timeExtractor(dt: org.apache.spark.sql.types.DataType): Any => Long = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType | TimestampType | TimestampNTZType => (v: Any) => v.asInstanceOf[Long]
      case IntegerType | DateType => (v: Any) => v.asInstanceOf[Int].toLong
      case ShortType => (v: Any) => v.asInstanceOf[Short].toLong
      case other => throw new IllegalArgumentException(
        s"tolerance unsupported for time type $other (need an integral type)")
    }
  }
}

case class AsofJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTime: Attribute, rightTime: Attribute,
    forward: Boolean = false, tolerance: Option[Long] = None,
    rightTiebreak: Seq[Attribute] = Nil) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(a => a.withNullability(true))

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMatched" -> SQLMetrics.createMetric(sparkContext, "number of matched left rows"))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  // the tiebreak extends the right sort, so the merge's last (backward)
  // or first (forward) qualifying row is the largest or smallest
  // (time, tiebreak)
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    ((rightKeys :+ rightTime) ++ rightTiebreak).map(SortOrder(_, Ascending)))

  // the merge consumes the left side in order and emits 1:1
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    val keyTypes = leftKeys.map(_.dataType)
    val timeType = leftTime.dataType
    val numOutputRows = longMetric("numOutputRows")
    val numMatched = longMetric("numMatched")
    left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
      val lKeyProj = UnsafeProjection.create(leftKeys, left.output)
      val rKeyProj = UnsafeProjection.create(rightKeys, right.output)
      val lTimeRef = BindReferences.bindReference(leftTime: Expression, left.output)
      val rTimeRef = BindReferences.bindReference(rightTime: Expression, right.output)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val timeOrd = TypeUtils.getInterpretedOrdering(timeType)
        .asInstanceOf[Ordering[Any]]
      val nullRight = new GenericInternalRow(right.output.size)
      val joined = new JoinedRow
      // bind against nullable-forced right attributes: binding the raw
      // (non-nullable) child attrs would compile away the null checks
      // and read garbage zeros for unmatched rows
      val result = UnsafeProjection.create(output,
        left.output ++ right.output.map(_.withNullability(true)))

      val toLong: Any => Long =
        if (tolerance.isDefined) AsofJoinExec.timeExtractor(timeType) else null

      val rBuf = rIt.buffered
      // carry state: the current candidate right row, its key and time
      // — O(1) regardless of partition size
      var carry: InternalRow = null
      var carryKey: UnsafeRow = null
      var carryTime: Any = null

      lIt.map { lRow =>
        val lKey = lKeyProj(lRow)
        val lTimeVal = lTimeRef.eval(lRow)
        if (lKey.anyNull || lTimeVal == null) {
          numOutputRows += 1
          result(joined(lRow, nullRight))
        } else {
          // drop a carry that can no longer match: different key group,
          // or (forward mode) a candidate now in the past
          if (carry != null && (keyOrd.compare(carryKey, lKey) != 0 ||
              (forward && timeOrd.compare(carryTime, lTimeVal) < 0))) {
            carry = null; carryKey = null; carryTime = null
          }
          // advance the right side. Backward: consume every row with
          // (key, time) at-or-before (lKey, lTime) — the LAST one wins.
          // Forward: consume rows strictly before lTime, then take the
          // FIRST at-or-after. Each consumed qualifying row is copied
          // at consume time — the sort iterator REUSES its UnsafeRow,
          // so a peek-ahead would mutate a row held by reference.
          // Every right row is copied at most once over the whole
          // partition (the pointer only moves forward): O(m) total.
          var advancing = !forward || carry == null
          while (advancing && rBuf.hasNext) {
            val rHead = rBuf.head
            val rKey = rKeyProj(rHead)
            val kc = if (rKey.anyNull) -1 else keyOrd.compare(rKey, lKey)
            if (kc < 0) { rBuf.next(); () } // behind: discard (incl. null keys)
            else if (kc == 0) {
              val rTimeVal = rTimeRef.eval(rHead)
              if (rTimeVal == null) { rBuf.next(); () } // unusable
              else if (!forward) {
                if (timeOrd.compare(rTimeVal, lTimeVal) <= 0) {
                  carry = rBuf.next().copy()
                  carryTime = InternalRow.copyValue(rTimeVal)
                  // the drop block above nulls carryKey on key change,
                  // so a non-null carryKey already equals lKey
                  if (carryKey == null) carryKey = lKey.copy()
                } else advancing = false // same key, future time: stop
              } else {
                if (timeOrd.compare(rTimeVal, lTimeVal) < 0) { rBuf.next(); () } // past: discard
                else {
                  carry = rBuf.next().copy()
                  // copyValue: a UTF8String/complex time value would
                  // otherwise alias the reused row buffer
                  carryTime = InternalRow.copyValue(rTimeVal)
                  carryKey = lKey.copy()
                  advancing = false // first at-or-after wins
                }
              }
            } else advancing = false // right is ahead: stop
          }
          // the true gap is in [0, 2^64): the wrapped difference read
          // unsigned is exact even across the Long extremes
          val withinTol = carry != null && (tolerance match {
            case None => true
            case Some(tol) =>
              val gap = if (forward) toLong(carryTime) - toLong(lTimeVal)
                        else toLong(lTimeVal) - toLong(carryTime)
              java.lang.Long.compareUnsigned(gap, tol) <= 0
          })
          numOutputRows += 1
          if (withinTol) numMatched += 1
          result(joined(lRow, if (withinTol) carry else nullRight))
        }
      }
    }
  }
}
