package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

class TimeRangeRewriteSpec extends SparkSpec with TmpDirSupport with AdaptiveSparkPlanHelper {

  test("the day-partition marker's presence alone decides the ranged scan") {
    import spark.implicits._
    val dir = tmpDir("trr_marker")
    val dayMs = 86400000L
    // ten days, one row each, `date` the UTC day of `time_bin_ms`: the
    // materializers' layout, without the marker until written below
    Seq.tabulate(10)(i => (i * dayMs + 1000L, i.toLong))
      .toDF("time_bin_ms", "v")
      .withColumn("date", to_date(timestamp_millis(col("time_bin_ms"))))
      .write.mode("overwrite").partitionBy("date").parquet(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(dir,
      graft.operators.Materialize.DayPartitionMarker)
    def writeMarker(text: String): Unit = {
      val os = fs.create(marker, true)
      try os.write(text.getBytes("UTF-8")) finally os.close()
    }
    // sum of v over days [2, 5) when ranged, over all ten days when not
    def rangedSum(): Long = {
      spark.read.parquet(dir).createOrReplaceTempView("trr_marker_lake")
      try Graft.query(spark, sfDir, "SELECT sum(v) FROM trr_marker_lake",
        Some(2L * dayMs * 1000L), Some(5L * dayMs * 1000L)).head().getLong(0)
      finally spark.catalog.dropTempView("trr_marker_lake")
    }
    writeMarker("timeColumn=time_bin_ms\ndateColumn=date\n")
    assert(rangedSum() === 2L + 3L + 4L)
    // marker deleted (path reused by a non-materializer table): no range
    fs.delete(marker, false)
    assert(rangedSum() === (0L to 9L).sum)
    // rewritten, even empty: presence alone qualifies the scan again
    writeMarker("")
    assert(rangedSum() === 2L + 3L + 4L)
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
