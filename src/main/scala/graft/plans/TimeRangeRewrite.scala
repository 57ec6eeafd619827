package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, Expression, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.types.{DataType, DateType, LongType, TimestampNTZType, TimestampType}

/** Analyzer rule mirroring the reference's TableScanRewrite
  * (reference: rust/analytics/src/lakehouse/table_scan_rewrite.rs):
  * while a query time range is live, every scan exposing an event-time
  * column is wrapped in `time >= begin AND time < end` — so ad-hoc
  * queries are automatically range-scoped and the predicate reaches
  * the parquet scan (row-group pruning; partition pruning on a
  * date-partitioned layout).
  *
  * The range is per call, like the reference's
  * `client.query(sql, begin, end)`: [[graft.Graft.query]] and
  * `PreparedQuery.run` put it in [[QueryRange]] for the length of their
  * analysis, and this rule reads it from nowhere else.
  *
  * The time column comes from the scan. A scan exposing a DateType
  * `date` whose root carries Materialize's
  * [[graft.operators.Materialize.DayPartitionMarker]] is ranged on the
  * marker's `timeColumn` (a LongType one holds epoch ms, the unit
  * Materialize writes), plus the implied `date` partition predicate.
  * Any other scan is ranged on `ts`. Only a scan with a DateType `date`
  * pays the marker lookup.
  *
  * Injected as a resolution rule (GraftExtensions) so the normal
  * optimizer batches push the added Filter into the source afterwards.
  *
  * Idempotency is two-layered. A tag on each Filter THIS RULE creates
  * marks it final — later re-analyses (derived Datasets re-run the
  * analyzer, possibly inside another query's range) must not stack a
  * second, conflicting range on top. (Tagging the scan LEAF would be
  * wrong — a self-join shares one leaf instance across both sides and
  * would lose its second wrap; each side gets its own injected Filter,
  * so tagging those is safe.) The structural check — scan directly
  * under a Filter semantically containing the range conjuncts — backs
  * the tag up for plan copies that drop tags.
  */
case class TimeRangeRewrite(spark: SparkSession) extends Rule[LogicalPlan] {
  import TimeRangeRewrite.{dateLit, isTime}

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val (begin, end) = QueryRange.get
    if (begin.isEmpty && end.isEmpty) return plan
    // A LongType `ts` is epoch nanos only when the session reads ns
    // parquet as Long (spark.sql.legacy.parquet.nanosAsLong — the one
    // way our readers produce a Long `ts`), else epoch micros.
    val nanosAsLong = spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true")

    /** The injected range condition for `leaf`, if it exposes its time
      * column.
      *
      * On a marked lake the date conjuncts are the derived PARTITION
      * predicate: the materializers write `date` as the UTC day of the
      * marker's time column (every session here pins
      * spark.sql.session.timeZone=UTC), and only a predicate on the
      * partition column prunes whole directories before any IO; the
      * time predicate alone reaches row-group stats but still lists and
      * opens every day's files. This is the 100 TB read path: range →
      * date filter → partition pruning → row-group stats. End is
      * exclusive on time, so its last included day is floor((end−1)/day).
      *
      * An unmarked DateType `date` (business date, non-UTC derivation)
      * gets no date conjuncts: assuming date = UTC day of the ranged
      * time there silently drops rows (ADVICE r9).
      */
    def rangeCond(leaf: LeafNode): Option[Expression] = {
      val marked = leaf.output.find(a => a.name == "date" && a.dataType == DateType)
        .flatMap(d => TimeRangeRewrite.markedTimeColumn(spark, leaf).map(d -> _))
      val timeCol = marked.fold("ts")(_._2)
      leaf.output.find(a => a.name == timeCol && isTime(a.dataType)).map { t =>
        def lit(micros: Long) = t.dataType match {
          case LongType if marked.isDefined => Literal(micros / 1000L, LongType)
          case LongType if nanosAsLong => Literal(micros * 1000L, LongType)
          case dt => Literal(micros, dt)
        }
        val timeConds = begin.map(b => GreaterThanOrEqual(t, lit(b))).toSeq ++
          end.map(e => LessThan(t, lit(e)))
        val dateConds = marked.toSeq.flatMap { case (d, _) =>
          begin.map(b => GreaterThanOrEqual(d, dateLit(b))).toSeq ++
            end.map(e => LessThanOrEqual(d, dateLit(e - 1)))
        }
        (timeConds ++ dateConds).reduce(And)
      }
    }

    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }

    def scoped(leaf: LeafNode, cond: Expression): LogicalPlan = {
      val f = Filter(cond, leaf)
      f.setTagValue(TimeRangeRewrite.InjectedTag, true)
      f
    }

    def inject(p: LogicalPlan): LogicalPlan = p match {
      // A filter WE injected is final, whatever range is live now: a
      // derived Dataset (head's limit, count's agg) re-runs the
      // analyzer later, possibly inside another query's range —
      // re-wrapping would intersect the two ranges and silently return
      // the wrong window. The semantic check covers plan copies that
      // drop tags.
      case f @ Filter(_, _: LeafNode) if f.getTagValue(TimeRangeRewrite.InjectedTag).isDefined => f
      case f @ Filter(cond, leaf: LeafNode) => rangeCond(leaf) match {
        case Some(want) if conjuncts(want).forall(w => conjuncts(cond).exists(_.semanticEquals(w))) => f
        case Some(want) => f.withNewChildren(Seq(scoped(leaf, want)))
        case None => f
      }
      case leaf: LeafNode => rangeCond(leaf).fold(leaf: LogicalPlan)(scoped(leaf, _))
      case other => other.mapChildren(inject)
    }
    inject(plan)
  }
}

object TimeRangeRewrite {
  /** Marks Filters injected by this rule as final across re-analyses. */
  val InjectedTag: TreeNodeTag[Boolean] = TreeNodeTag[Boolean]("graft.queryRange.injected")

  /** Cache of root-path → (marker mtime, marker length, declared time
    * column), validated against the marker file's CURRENT modification
    * time AND length on every lookup (ADVICE r10: a positive-only,
    * path-keyed-for-the-JVM cache kept qualifying a lake that was
    * deleted and re-materialized with a different source time column —
    * silently dropping rows, the exact failure class this gate exists
    * to prevent; ADVICE r11: mtime alone has 1 s granularity on many
    * filesystems, so a delete + re-materialize within the same second
    * could still serve the stale column — the length check closes the
    * common case, since a different timeColumn value almost always
    * changes the marker's byte length). The validation is one
    * getFileStatus per analysis per qualified scan — the same cheap FS
    * metadata call class as the existence probe it replaces, and it
    * doubles as that probe (a deleted marker evicts the entry). What
    * the cache still saves is opening and parsing the file body.
    * NEGATIVE results stay uncached — the materializer may write the
    * marker after a first unmarked read of the same path in this JVM.
    */
  private val markerCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, String)]()

  private val MicrosPerDay = 86400000000L

  private def dateLit(micros: Long): Expression =
    Literal(Math.floorDiv(micros, MicrosPerDay).toInt, DateType)

  private def isTime(dt: DataType): Boolean =
    dt == TimestampType || dt == TimestampNTZType || dt == LongType

  /** The time column every root path of `leaf`'s file relation declares
    * in its [[graft.operators.Materialize.DayPartitionMarker]] as the
    * source of its `date` partition column; None when a root has no
    * marker or the roots disagree. Non-file leaves (views over
    * arbitrary plans, streaming sources) never qualify.
    */
  def markedTimeColumn(spark: SparkSession, leaf: LeafNode): Option[String] = leaf match {
    case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
      lr.relation match {
        case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
          fs.location.rootPaths.map(markerTimeColumn(spark, _)).distinct match {
            case Seq(tc @ Some(_)) => tc
            case _ => None
          }
        case _ => None
      }
    case _ => None
  }

  private def markerTimeColumn(spark: SparkSession,
      root: org.apache.hadoop.fs.Path): Option[String] = {
    val key = root.toString
    try {
      val p = new org.apache.hadoop.fs.Path(root,
        graft.operators.Materialize.DayPartitionMarker)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val st =
        try fs.getFileStatus(p)
        catch { case _: java.io.FileNotFoundException =>
          markerCache.remove(key); return None }
      val mtime = st.getModificationTime
      val len = st.getLen
      markerCache.get(key) match {
        case (t, l, tc) if t == mtime && l == len => Some(tc)
        case _ =>
          val in = fs.open(p)
          val content =
            try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
          val parsed = content.linesIterator
            .collectFirst { case l if l.startsWith("timeColumn=") =>
              l.stripPrefix("timeColumn=").trim }
          parsed match {
            case Some(tc) => markerCache.put(key, (mtime, len, tc))
            case None => markerCache.remove(key) // marker lost its declaration
          }
          parsed
      }
    } catch { case _: Throwable => None }
  }
}
