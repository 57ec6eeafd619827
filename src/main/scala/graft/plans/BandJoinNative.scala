package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.graftshim.Shim

/** Native band (interval) join: all pairs on the same key whose times
  * lie within `width` of each other — as a first-class Catalyst
  * operator, the Flink-interval-join execution shape on Spark.
  *
  * A plain `|lt - rt| <= w` predicate plans a nested loop per key
  * group, and bucketing time into an equi-join on (key, bin) costs a
  * 3× explode of one side, band-edge rows that a post-filter discards,
  * and hash tables over full key groups. This exec instead merges the
  * two (key, time)-sorted, co-partitioned streams with a sliding deque of
  * the right rows currently inside `[leftTime - width, leftTime + width]`:
  * O(n + m + output) work, state bounded by the band's row density —
  * the intrinsic minimum any interval join must hold.
  *
  * Inner-join semantics: left rows with no in-band right rows emit
  * nothing. Time columns must share an integral type (the width
  * arithmetic needs a long view).
  */
object BandJoinNative {

  def join(left: DataFrame, right: DataFrame, key: Seq[String],
      leftTime: String, rightTime: String, width: Long,
      rightSuffix: String = "_r"): DataFrame = {
    require(width > 0, "width must be positive")
    val spark = left.sparkSession
    val r = TemporalJoinResolution.resolve(left, right, key, leftTime, rightTime, rightSuffix)
    AsofJoinExec.timeExtractor(r.leftTime.dataType) // integral time required; fail fast
    Shim.ofRows(spark,
      BandJoinNode(r.leftPlan, r.rightPlan, r.leftKeys, r.rightKeys,
        r.leftTime, r.rightTime, width))
  }
}

case class BandJoinNode(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTime: Attribute, rightTime: Attribute, width: Long) extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ right.output
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): BandJoinNode =
    copy(left = newLeft, right = newRight)
}

object BandJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case BandJoinNode(l, r, lk, rk, lt, rt, w) =>
      BandJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, w) :: Nil
    case _ => Nil
  }
}

/** Physical sliding-window merge. Children arrive co-partitioned by
  * key and sorted by (key, time); the deque holds only right rows
  * whose band can still intersect the (ascending) left times.
  */
case class BandJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTime: Attribute, rightTime: Attribute, width: Long) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

  // emits per left row in left order
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BandJoinExec =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    val keyTypes = leftKeys.map(_.dataType)
    val timeType = leftTime.dataType
    val w = width
    val numOutputRows = longMetric("numOutputRows")
    left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
      val lKeyProj = UnsafeProjection.create(leftKeys, left.output)
      val rKeyProj = UnsafeProjection.create(rightKeys, right.output)
      val lTimeRef = BindReferences.bindReference(leftTime: Expression, left.output)
      val rTimeRef = BindReferences.bindReference(rightTime: Expression, right.output)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val toLong = AsofJoinExec.timeExtractor(timeType)
      val joined = new JoinedRow
      val result = UnsafeProjection.create(output, left.output ++ right.output)

      val rBuf = rIt.buffered
      // sliding band: right rows (copied — sort iterators reuse their
      // UnsafeRow) with the SAME key whose time is >= the eviction
      // horizon; times deque mirrors rows 1:1
      val rows = new java.util.ArrayDeque[InternalRow]()
      val times = new java.util.ArrayDeque[java.lang.Long]()
      var bandKey: UnsafeRow = null

      lIt.flatMap { lRow =>
        val lKey = lKeyProj(lRow)
        val lTimeVal = lTimeRef.eval(lRow)
        if (lKey.anyNull || lTimeVal == null) {
          Iterator.empty
        } else {
          val lt = toLong(lTimeVal)
          // the band [lt - w, lt + w], saturated at the Long extremes
          val lo = if (lt < Long.MinValue + w) Long.MinValue else lt - w
          val hi = if (lt > Long.MaxValue - w) Long.MaxValue else lt + w
          // new key group: the old band can never match again
          if (bandKey == null || keyOrd.compare(bandKey, lKey) != 0) {
            rows.clear(); times.clear()
            bandKey = lKey.copy()
          }
          // evict rows that fell behind the band (left times ascend,
          // so they can't match any later left row either)
          while (!times.isEmpty && times.peekFirst() < lo) {
            times.pollFirst(); rows.pollFirst()
          }
          // pull right rows into the band up to lt + w
          var advancing = true
          while (advancing && rBuf.hasNext) {
            val rHead = rBuf.head
            val rKey = rKeyProj(rHead)
            val kc = if (rKey.anyNull) -1 else keyOrd.compare(rKey, lKey)
            if (kc < 0) { rBuf.next(); () } // behind: discard (incl. null keys)
            else if (kc == 0) {
              val rTimeVal = rTimeRef.eval(rHead)
              if (rTimeVal == null) { rBuf.next(); () } // unusable
              else {
                val rt = toLong(rTimeVal)
                if (rt <= hi) {
                  val row = rBuf.next().copy()
                  if (rt >= lo) { rows.addLast(row); times.addLast(rt) }
                  // rt < lo: consumed and dropped — can't match
                  // this or any later (larger-time) left row
                } else advancing = false // beyond the band: stop
              }
            } else advancing = false // right is ahead: stop
          }
          // every buffered row is inside [lt - w, lt + w]
          import scala.jdk.CollectionConverters._
          rows.iterator().asScala.map { r =>
            numOutputRows += 1
            result(joined(lRow, r))
          }
        }
      }
    }
  }
}
