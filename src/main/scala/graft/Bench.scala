package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Headline-query benchmark: times a noop-sink write of each query's
  * full result through [[GraftRun.execute]]. Positional query names
  * time only those queries (the isolated re-run that adjudicates one
  * query's regression without 35 noisy neighbors). Prints TWO JSON lines:
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}
  * and the compact bests-only "best_total" line. The full report also
  * carries the classes Spark's codegen compiled during the timed
  * reps and the milliseconds it spent on them (`codegen_classes`,
  * `codegen_compile_ms`): after the warm-up both read 0 unless a plan
  * missed the codegen cache.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<sfDir> runMain graft.Bench [query ...]
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val (spark, budget) = GraftRun.session(sfDir)
    val headliners = GraftRun.select(args.toSeq)
    GraftRun.warmUp(spark, headliners, sfDir)
    // The machine's timing is noisy (same plan 1-10x across runs, see
    // NOTES_r3); best-of-N per query is the steady-state signal and 3
    // reps proved too few to establish a stable floor (the r3 "4x
    // regressions" did not reproduce). Default is 9 reps; the JSON
    // carries reps plus per-query MEDIANS next to the bests so a noisy
    // outlier round is identifiable from the artifact alone.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "9").toInt.max(1)
    // per-query peak execution memory rides along (the executed
    // plans' Tungsten peakMemory metrics, max over the run's
    // executions): the throughput number alone can hide a plan that got
    // faster by ballooning its hash tables — at cluster scale that
    // trade matters. The spill budget (GraftRun.session) is live under
    // the full sweep: the per-query spill rides next to peak_mem_mb,
    // and the process-wide high-water is the temp-directory-pressure
    // gauge. Its default cap never cancels honest work;
    // spark.graft.query.maxSpillMb overrides.
    val times = collection.mutable.Map.empty[String, List[Double]]
    val peakByQuery = collection.mutable.Map.empty[String, Long]
    val spillByQuery = collection.mutable.Map.empty[String, Long]
    // rep-major with a per-rep SHUFFLED order (fixed seed = rep, so runs
    // are reproducible): with 36 headliners a fixed order gives every
    // query the same heavy neighbor on all reps, and page-cache /GC
    // interference reads as a fake 2x regression of the victim (round-8
    // verdict adjudicated four of those). Shuffling decorrelates the
    // neighbor noise so the median converges to the isolated time.
    val classes0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileNs0 = CodeGenerator.compileTime
    for (rep <- 1 to reps) {
      val order = new scala.util.Random(rep).shuffle(headliners)
      order.foreach { q =>
        // a failed query reports -1 and poisons the total to null below —
        // a failure must never improve the headline number
        val t =
          try {
            val r = GraftRun.execute(spark)(q.fn(spark, sfDir))
            val metrics = r.executions.map(e => QueryAudit.planMetrics(e.qe.executedPlan))
            peakByQuery(q.name) = math.max(peakByQuery.getOrElse(q.name, -1L), metrics.map(_._1).max)
            spillByQuery(q.name) = math.max(spillByQuery.getOrElse(q.name, -1L), metrics.map(_._2).sum)
            r.wallSeconds
          } catch { case e: Throwable =>
            System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}"); -1.0 }
        times(q.name) = t :: times.getOrElse(q.name, Nil)
      }
    }
    val codegenClasses = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - classes0
    val codegenMs = (CodeGenerator.compileTime - compileNs0) / 1e6
    val results = headliners.map { q =>
      val ts = times(q.name)
      val ok = !ts.exists(_ < 0)
      val sorted = ts.sorted
      val median = sorted(reps / 2)
      (q.name, if (ok) ts.min else -1.0, if (ok) median else -1.0,
        peakByQuery.getOrElse(q.name, -1L) match { case -1L => -1L; case p => p >> 20 },
        spillByQuery.getOrElse(q.name, -1L) match { case -1L => -1L; case s => s >> 20 })
    }
    val qs = results.map { case (k, v, _, _, _) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val meds = results.map { case (k, _, m, _, _) => "\"" + k + "\":" + m }.mkString("{", ",", "}")
    val peaks = results.map { case (k, _, _, p, _) => "\"" + k + "\":" + p }.mkString("{", ",", "}")
    val spills = results.map { case (k, _, _, _, s) => "\"" + k + "\":" + s }.mkString("{", ",", "}")
    val failed = results.count(_._2 < 0)
    val total = if (failed > 0) "null" else results.map(_._2).sum.toString
    val report = s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"failed":$failed,"queries":$qs,"medians":$meds,"peak_mem_mb":$peaks,"spill_mb":$spills,"spill_hw_mb":${budget.outstandingHighWater.get() >> 20},"spill_cancels":${budget.cancelCount.get()},"codegen_classes":$codegenClasses,"codegen_compile_ms":${math.rint(codegenMs * 10) / 10},"sf":"$sfDir"}"""
    println(report)
    // ALSO persist the report: the driver keeps only the tail of stdout,
    // which truncated BENCH_r08 into an unparseable artifact (round-8
    // verdict item 1) — a file on disk survives regardless and the round
    // can commit it as the auditable bench record
    val out = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench_report.json"))
    try {
      Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(out, (report + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}") }
    // Compact bests-only line LAST (round-9 verdict item 4): the driver
    // persists only the final ~2 KB of stdout, which truncates the full
    // report above (BENCH_r09 parsed:null). This line is ~1.2 KB — small
    // enough that the kept tail always contains it whole, so the driver
    // artifact alone yields the complete per-query bests map. 4-decimal
    // rounding keeps it compact; the full-precision record is the file.
    def r4(v: Double) = math.rint(v * 1e4) / 1e4
    val qs4 = results.map { case (k, v, _, _, _) => "\"" + k + "\":" + r4(v) }
      .mkString("{", ",", "}")
    val total4 = if (failed > 0) "null" else r4(results.map(_._2).sum).toString
    println(s"""{"metric":"best_total","value":$total4,"unit":"sec","reps":$reps,"failed":$failed,"queries":$qs4,"sf":"$sfDir"}""")
    spark.stop()
  }
}
