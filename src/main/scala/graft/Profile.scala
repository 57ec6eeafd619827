package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.graftshim.Shim

/** Plan and metric profile of registered queries, each run once through
  * [[GraftRun.execute]] after a warm-up — the plan the bench times, so
  * the committed evidence and the attribution describe the timed work.
  *
  * For each query it first prints one `[profile] <query>: build <ms> ms,
  * <n> jobs before the write` line: the time to build the DataFrame and
  * the Spark jobs that build launched (table schema inference on a cold
  * memo, eager checkpoints, driver-side collects). Then it writes the
  * noop write's AQE-final plan to
  * `<outDir>/<query>_<suffix>.txt` and every earlier execution
  * (localCheckpoint segments, internal collects), numbered in
  * completion order, to `<query>_<suffix>_seg<k>.txt`. Then, for every
  * execution, it prints each physical node with its SQLMetrics (timings
  * in ms, sizes in MB: peakMemory, spillSize, a broadcast's dataSize)
  * and, last, one row per completed stage: wall (submission to
  * completion) next to summed task run, CPU and GC time, shuffle and
  * spill — what the node metrics can't show: stragglers, GC stalls and
  * scheduling gaps.
  *
  * Usage: runMain graft.Profile <sfDir> <outDir> <suffix> [query ...]
  * (no query names = every headline query)
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, out, suffix) = args.take(3)
    val outDir = Paths.get(out)
    Files.createDirectories(outDir)
    val (spark, _) = GraftRun.session(sfDir)
    val qs = GraftRun.select(args.drop(3).toSeq)
    val stages = new ConcurrentLinkedQueue[StageInfo]()
    val jobs = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = stages.add(sc.stageInfo)
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    GraftRun.warmUp(spark, qs, sfDir)
    val failed = qs.filterNot { q =>
      stages.clear()
      try {
        var buildMs = 0.0
        var buildJobs = 0
        val r = GraftRun.execute(spark) {
          // execute drained the bus on entry: count from here
          jobs.set(0)
          val t0 = System.nanoTime()
          val df = q.fn(spark, sfDir)
          buildMs = (System.nanoTime() - t0) / 1e6
          Shim.drainListenerBus(spark)
          buildJobs = jobs.get()
          df
        }
        println(f"[profile] ${q.name}: build ${buildMs}%.0f ms, $buildJobs jobs before the write")
        println(f"========== ${q.name}: wall=${r.wallSeconds}%.2fs, ${r.executions.size} executions")
        r.executions.zipWithIndex.foreach { case (e, i) =>
          val plan = e.qe.explainString(FormattedMode)
          val (file, text) =
            if (e eq r.main) (s"${q.name}_$suffix.txt", plan)
            else (s"${q.name}_${suffix}_seg${i + 1}.txt", s"-- segment ${i + 1}: ${e.funcName}\n$plan")
          Files.write(outDir.resolve(file), text.getBytes(UTF_8))
          val (peak, spill, _) = QueryAudit.planMetrics(e.qe.executedPlan)
          println(f"-- $file (${e.funcName}): summed peakMemory ${peak / 1048576.0}%.0f MB, spill ${spill >> 20} MB")
          printNodes(e.qe.executedPlan)
        }
        stages.asScala.toSeq.sortBy(_.stageId).foreach(si => println("  " + stageRow(si)))
        true
      } catch { case NonFatal(e) =>
        System.err.println(s"[profile] ${q.name} failed: ${e.getMessage}"); false }
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  private def printNodes(plan: SparkPlan): Unit = {
    var idx = 0
    QueryAudit.walk(plan) { node =>
      val ms = node.metrics.toSeq.sortBy(_._1).map { case (k, m) =>
        val shown = m.metricType match {
          case "nsTiming" => f"${m.value / 1e6}%.0fms"
          case "timing" => s"${m.value}ms"
          case "size" => f"${m.value / 1048576.0}%.1fMB"
          case _ => m.value.toString
        }
        s"$k=$shown"
      }.mkString(" ")
      println(f"[$idx%3d] ${node.nodeName}%-45s $ms")
      idx += 1
    }
  }

  private def stageRow(si: StageInfo): String = {
    val wall = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s).getOrElse(-1L)
    val m = si.taskMetrics
    f"stage=${si.stageId}%4d tasks=${si.numTasks}%4d wall=${wall}ms " +
      f"run=${m.executorRunTime}ms cpu=${m.executorCpuTime / 1000000}ms " +
      f"gc=${m.jvmGCTime}ms shRead=${m.shuffleReadMetrics.totalBytesRead >> 20}MB " +
      f"shWrite=${m.shuffleWriteMetrics.bytesWritten >> 20}MB " +
      f"spill=${m.memoryBytesSpilled >> 20}MB  ${si.name.takeWhile(_ != '\n').take(60)}"
  }
}
