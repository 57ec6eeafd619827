package graft

import org.apache.spark.sql.functions._

/** Negative-path spill-budget probe (r13 verdict item 5): the unit
  * suite proves the accounting and both cancellation directions, but
  * no BENCH-shaped run had ever actually cancelled. This main builds
  * the Bench session (GraftRun.session) and runs everything through
  * GraftRun.execute: a healthy control, then a deliberately over-cap
  * window query (spill forced via the windowExec buffer thresholds,
  * cap from spark.graft.query.maxSpillMb), then two registry
  * neighbors — and prints ONE JSON line recording that the cancel
  * landed `resource_exhausted` through M87's taxonomy, the marker
  * never misfired on a neighbor, and the session kept serving.
  *
  *   SPARK_GRAFT_MAX_SPILL_MB=1 sbt "runMain graft.SpillProbe target/sf10"
  */
object SpillProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val capMb = sys.env.getOrElse("SPARK_GRAFT_MAX_SPILL_MB", "1")
    val (spark, budget) = GraftRun.session(sfDir, "spark.graft.query.maxSpillMb" -> capMb)
    val audit = QueryAudit.attach(spark, maxRecords = 64)

    def run(df: => org.apache.spark.sql.DataFrame): (Boolean, String) =
      try { GraftRun.execute(spark)(df); (true, "") }
      catch { case e: Exception => (false, QueryAudit.classifyCode(e)) }
    def query(name: String) = run(SparkEntry.queries(name)(spark, sfDir))

    val before = query("q1_agg")
    // the over-cap victim: a full-table window whose group buffers are
    // forced to disk (same spill mechanics the suite uses — honest
    // sf-scale queries are zero-spill by design, so the probe forces
    // the buffers like a pathological user query would)
    // 4096-row buffers: at sf10 every ~23k-row window group spills a
    // few MB of chunks (a tiny threshold like the unit suite's 4
    // would shatter sf10 into millions of spill files and OOM the
    // read-ahead buffers — the probe wants REALISTIC spill, just > cap)
    Seq("spark.sql.windowExec.buffer.in.memory.threshold",
      "spark.sql.windowExec.buffer.spill.threshold").foreach(spark.conf.set(_, "4096"))
    val grp = pmod(col("event_id"), lit(256))
    val victim = run(spark.read.parquet(s"$sfDir/events.parquet")
      .repartition(256, grp)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(grp).orderBy(col("event_id"))))
      .where(col("rnk") > 0))
    Seq("spark.sql.windowExec.buffer.in.memory.threshold",
      "spark.sql.windowExec.buffer.spill.threshold").foreach(spark.conf.unset)
    val after1 = query("q1_agg")
    val after2 = query("l_dedup_minhash")

    // every run drained the listener bus: all audit records have landed
    val recs = audit.recordsRaw()
    val resourceRecs = recs.filter(_.error_class == "resource")
    val okRecs = recs.filter(_.status == "ok")
    val misfires = okRecs.count(r => r.error_class.nonEmpty ||
      r.error_message.contains(SpillBudget.CancelReason))
    println(Seq(
      s""""sf_dir":"$sfDir"""",
      s""""cap_mb":$capMb""",
      s""""control_before_ok":${before._1}""",
      s""""victim_cancelled":${!victim._1}""",
      s""""victim_code":"${victim._2}"""",
      s""""neighbor_q1_ok":${after1._1}""",
      s""""neighbor_dedup_ok":${after2._1}""",
      s""""audit_resource_records":${resourceRecs.size}""",
      s""""audit_ok_records":${okRecs.size}""",
      s""""neighbor_misfires":$misfires""",
      s""""spill_cancels":${budget.cancelCount.get()}""",
      s""""spill_hw_mb":${budget.outstandingHighWater.get() >> 20}""").mkString("{", ",", "}"))
    val pass = before._1 && !victim._1 && victim._2 == "resource_exhausted" &&
      after1._1 && after2._1 && resourceRecs.nonEmpty && misfires == 0
    spark.stop()
    if (!pass) sys.exit(1)
  }
}
