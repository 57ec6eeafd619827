package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

/** bulk_ingest analog (reference client.py:533): append into a
  * directory-backed lake table with an exact schema gate, immediately
  * queryable through the registered views.
  */
class BulkIngestSpec extends SparkSpec with TmpDirSupport {
  import spark.implicits._

  private def eventRows(ids: Range, typ: String) = ids.map { i =>
    (i.toLong, new Timestamp(1704067200000L + i * 1000L), (i % 5).toLong,
      typ, i.toDouble, s"p$i")
  }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  /** A lake dir with every registered table present: the non-ingested
    * tables are copied from the sf0.001 fixtures (view registration
    * reads all of them), events arrives via bulkIngest.
    */
  private def seededLake(): String = {
    val dir = tmpDir("bulk_ingest")
    Tables.all.filter(_ != "events").foreach { t =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sfDir/$t.parquet"),
        java.nio.file.Paths.get(s"$dir/$t.parquet"))
    }
    dir
  }

  test("append + immediate queryability through refreshed views") {
    val dir = seededLake()
    assert(Graft.bulkIngest(spark, dir, "events", eventRows(1 to 50, "error")) === 50L)
    val before = Graft.query(spark, dir, "SELECT count(*) AS n FROM events")
      .head().getLong(0)
    assert(before === 50L)
    // second batch appends — and the memoized views must serve it
    // without any manual refresh (bulkIngest refreshes)
    assert(Graft.bulkIngest(spark, dir, "events", eventRows(51 to 80, "view")) === 30L)
    val after = Graft.query(spark, dir, "SELECT count(*) AS n FROM events")
      .head().getLong(0)
    assert(after === 80L)
  }

  test("schema gate: a drifted batch is rejected, table untouched") {
    val dir = tmpDir("bulk_ingest_schema")
    Graft.bulkIngest(spark, dir, "events", eventRows(1 to 10, "error"))
    val drifted = eventRows(11 to 12, "error").withColumn("value", col("value").cast("float"))
    val e = intercept[IllegalArgumentException] {
      Graft.bulkIngest(spark, dir, "events", drifted)
    }
    assert(e.getMessage.contains("schema mismatch"))
    assert(spark.read.parquet(s"$dir/events.parquet").count() === 10L)
  }

  test("schema gate on a warm memo: views registered, a drifted batch is still rejected") {
    val dir = seededLake()
    Graft.bulkIngest(spark, dir, "events", eventRows(1 to 10, "error"))
    assert(Graft.query(spark, dir, "SELECT count(*) FROM events").head().getLong(0) === 10L)
    val drifted = eventRows(11 to 12, "error").withColumn("user_id", col("user_id").cast("int"))
    val e = intercept[IllegalArgumentException] {
      Graft.bulkIngest(spark, dir, "events", drifted)
    }
    assert(e.getMessage.contains("schema mismatch"))
    assert(Graft.query(spark, dir, "SELECT count(*) FROM events").head().getLong(0) === 10L)
  }

  test("schema gate reads an external rewrite, not the memo") {
    val dir = seededLake()
    Graft.bulkIngest(spark, dir, "events", eventRows(1 to 10, "error"))
    assert(Graft.query(spark, dir, "SELECT count(*) FROM events").head().getLong(0) === 10L)
    // another writer replaces the table with a widened schema
    val widened = eventRows(1 to 10, "error").withColumn("host", lit("h1"))
    widened.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalArgumentException] {
      Graft.bulkIngest(spark, dir, "events", eventRows(11 to 12, "error"))
    }
    assert(e.getMessage.contains("schema mismatch"))
    // the new shape is the one the gate now accepts
    assert(Graft.bulkIngest(spark, dir, "events",
      eventRows(11 to 12, "error").withColumn("host", lit("h2"))) === 2L)
    assert(Graft.query(spark, dir, "SELECT count(*) FROM events WHERE host IS NOT NULL")
      .head().getLong(0) === 12L)
  }

  test("single-file source tables are refused, not corrupted") {
    val e = intercept[IllegalArgumentException] {
      Graft.bulkIngest(spark, sfDir, "events", eventRows(1 to 2, "error"))
    }
    assert(e.getMessage.contains("single-file table"))
  }

  test("bad table names are refused before touching the filesystem") {
    intercept[IllegalArgumentException] {
      Graft.bulkIngest(spark, tmpDir("bi"), "../escape", eventRows(1 to 2, "x"))
    }
  }
}
