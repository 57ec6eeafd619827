package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

class TimeRangeRewriteSpec extends SparkSpec with TmpDirSupport with AdaptiveSparkPlanHelper {

  test("marker cache invalidates when the marker file changes or disappears") {
    import graft.plans.TimeRangeRewrite
    import org.apache.spark.sql.catalyst.plans.logical.LeafNode
    val dir = tmpDir("trr_marker")
    spark.sql(
      "select timestamp'2024-01-02 03:04:05' as ts, date'2024-01-02' as date, 1 as v")
      .write.mode("overwrite").parquet(dir)
    def leaf: LeafNode = spark.read.parquet(dir)
      .queryExecution.analyzed.collectLeaves().head.asInstanceOf[LeafNode]
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(dir,
      graft.operators.Materialize.DayPartitionMarker)
    def writeMarker(timeCol: String, mtime: Long): Unit = {
      val os = fs.create(marker, true)
      try os.write(s"timeColumn=$timeCol\ndateColumn=date\n".getBytes("UTF-8"))
      finally os.close()
      // pin mtime explicitly: two writes within the same FS timestamp
      // granularity would otherwise be indistinguishable
      fs.setTimes(marker, mtime, -1)
    }
    writeMarker("ts", 1000000L)
    assert(TimeRangeRewrite.markedTimeColumn(spark, leaf) === Some("ts"))
    // lake re-materialized with a DIFFERENT source time column: the
    // stale cached 'ts' must not keep qualifying the scan (ADVICE r10)
    writeMarker("other_ts", 2000000L)
    assert(TimeRangeRewrite.markedTimeColumn(spark, leaf) === Some("other_ts"))
    // marker deleted (path reused by a non-materializer table): no injection
    fs.delete(marker, false)
    assert(TimeRangeRewrite.markedTimeColumn(spark, leaf) === None)
    // and a fresh marker re-qualifies (negative results are never cached)
    writeMarker("ts", 3000000L)
    assert(TimeRangeRewrite.markedTimeColumn(spark, leaf) === Some("ts"))
  }

  test("session query range is injected into scans and pushed down") {
    val full = Tables.df(spark, sfDir, "events").count()
    // range covering roughly the first half of January 2024 (µs epoch)
    val begin = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L
    val end = java.time.Instant.parse("2024-01-15T00:00:00Z").toEpochMilli * 1000L
    val scoped = Graft.query(spark, sfDir, "SELECT * FROM events", Some(begin), Some(end))
    val n = scoped.count()
    assert(n > 0 && n < full, s"expected partial range, got $n of $full")
    // the range reaches the parquet scan as a pushed filter on the raw ts
    val pushed = collectWithSubqueries(scoped.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.dataFilters
    }.flatten
    assert(pushed.exists(_.references.exists(_.name == "ts")),
      s"range not pushed to the scan: $pushed")
    // equivalent to an explicit filter on the normalized timestamp
    val expected = Tables.df(spark, sfDir, "events")
      .where(col("ts") >= lit("2024-01-01") && col("ts") < lit("2024-01-15")).count()
    assert(n === expected)
  }
}
