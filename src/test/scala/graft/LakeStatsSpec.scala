package graft

import org.apache.spark.sql.functions._

/** Tables.rowCount is the metadata path for corpus-size scale knobs
  * (round-9 verdict item 7): it must equal the scanned count exactly
  * and must launch ZERO Spark jobs — the whole point is that deriving
  * K for l_semantic_dedup no longer pays a full scan before the query.
  */
class LakeStatsSpec extends SparkSpec {

  test("footer row count matches the scanned count, with zero Spark jobs") {
    for (t <- Seq("embeddings", "documents", "lineitem")) {
      val (meta, jobs) = jobsDuring(Tables.rowCount(spark, sfDir, t))
      assert(jobs === 0, s"$t: metadata count launched $jobs Spark jobs")
      val scanned = spark.read.parquet(s"$sfDir/$t.parquet").count()
      assert(meta === scanned, s"$t: footer count $meta != scanned $scanned")
    }
  }

  test("footer row count sums a multi-file partitioned lake and skips hidden files") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-rowcount").toString
    Seq.tabulate(100)(i => (i.toLong, i % 5))
      .toDF("id", "p")
      .write.mode("overwrite").partitionBy("p").parquet(s"$out/t.parquet")
    // a root marker file (underscore-hidden) must not break the walk
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$out/t.parquet/_graft_day_partitioned"),
      "timeColumn=ts\n".getBytes("UTF-8"))
    assert(Tables.rowCount(spark, out, "t") === 100L)
  }

  test("l_semantic_dedup derives K without a pre-query full-scan job") {
    // the query itself runs jobs, of course — assert the KNOB
    // derivation alone is job-free by reproducing it here
    val (k, jobs) = jobsDuring(
      math.max(8L, (Tables.rowCount(spark, sfDir, "embeddings") + 1249L) / 1250L).toInt)
    assert(jobs === 0)
    assert(k === 8) // gate SFs all sit below the 10k-vector knee
  }
}
