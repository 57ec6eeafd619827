package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand

/** The plan [[GraftRun.execute]] times must be the plan the oracle
  * checks: a timed action that lets Catalyst prune output-only work
  * (a `count()` drops md5s, graft kernels, outer joins and the final
  * sort) measures a different query.
  */
class GraftRunSpec extends SparkSpec with TmpDirSupport {

  /** graft kernels, md5s and join nodes of an executed plan, by name. */
  private def work(plan: SparkPlan): Map[String, Int] = {
    val names = Seq.newBuilder[String]
    QueryAudit.walk(plan) { node =>
      node.expressions.foreach(_.foreach { e =>
        if (e.prettyName.startsWith("graft_") || e.prettyName == "md5") names += e.prettyName
      })
      if (node.nodeName.contains("Join") || node.nodeName.contains("CartesianProduct")) names += "join"
    }
    names.result().groupBy(identity).map { case (k, v) => k -> v.size }
  }

  /** What `timed` has fewer of than `reference`. */
  private def lost(reference: Map[String, Int], timed: Map[String, Int]): Seq[String] =
    reference.collect { case (k, n) if timed.getOrElse(k, 0) < n => s"$k(${timed.getOrElse(k, 0)}<$n)" }
      .toSeq.sorted

  private def timedWork(q: GraftQuery): Map[String, Int] =
    work(GraftRun.execute(spark)(q.fn(spark, sfDir)).main.qe.executedPlan)

  private def query(name: String): GraftQuery = SparkEntry.allQueries.find(_.name == name).get

  /** One noop write of every headliner, in registry order: each
    * query's timed work. The parity and the codegen-cache tests share
    * it, so the suite runs one first pass, not two.
    */
  private lazy val firstNoopPass: Map[String, Map[String, Int]] =
    SparkEntry.headlineQueries.map(q => q.name -> timedWork(q)).toMap

  test("every headliner's timed plan keeps the verify write's kernels, md5s and joins") {
    val out = tmpDir("graftrun_verify")
    val timed = firstNoopPass
    val checked = SparkEntry.headlineQueries.map { q =>
      val (_, execs) = GraftRun.capture(spark)(Verify.write(q.fn(spark, sfDir), s"$out/${q.name}"))
      val writes = execs.filter(_.qe.analyzed.isInstanceOf[InsertIntoHadoopFsRelationCommand])
      assert(writes.size == 1, s"${q.name}: expected one parquet write among " +
        execs.map(e => s"${e.funcName}:${e.qe.analyzed.nodeName}").mkString(", "))
      val reference = work(writes.head.qe.executedPlan)
      (q.name, reference, lost(reference, timed(q.name)))
    }
    assert(checked.count(_._2.nonEmpty) >= checked.size / 2,
      "most verify plans show no kernels, md5s or joins: the walk misses the write's plan")
    val failures = checked.collect { case (n, _, m) if m.nonEmpty => s"$n: ${m.mkString(", ")}" }
    assert(failures.isEmpty, "timed plans lost work:\n" + failures.mkString("\n"))
  }

  /** Classes a headliner may compile on its second run. One plan of
    * `l_dedup_incremental` has two generated sources: its first run in
    * a JVM hands the new×existing band join's two sides to the distinct
    * in one order, later runs in the other, under the same executed plan
    * (build side and stage sizes included). Each source compiles once.
    */
  private val secondRunClasses = Map("l_dedup_incremental" -> 2L)

  test("a second noop write of every headliner compiles no class: the codegen cache holds a pass") {
    firstNoopPass // the first pass, if the parity test has not run it
    val compiled = SparkEntry.headlineQueries.map { q =>
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      GraftRun.execute(spark)(q.fn(spark, sfDir))
      q.name -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
    }.filter { case (n, c) => c > secondRunClasses.getOrElse(n, 0L) }
    assert(compiled.isEmpty, "classes compiled on the second pass: " +
      compiled.map { case (n, c) => s"$n=$c" }.mkString(", "))
  }

  test("the parity check fires: a count() of l_bpe_merge loses work the noop write keeps") {
    val q = query("l_bpe_merge")
    val (_, execs) = GraftRun.capture(spark)(q.fn(spark, sfDir).count())
    val counted = execs.filter(_.funcName == "count")
    assert(counted.size == 1)
    assert(lost(timedWork(q), work(counted.head.qe.executedPlan)).nonEmpty)
  }

  test("a checkpointing query: the noop write is the main execution, after its segments") {
    val r = GraftRun.execute(spark)(query("m_saturation").fn(spark, sfDir))
    assert(r.executions.count(_.funcName == "localCheckpoint") >= 1)
    assert(r.executions.indexOf(r.main) >= 1, s"main is not after a segment: ${r.executions.map(_.funcName)}")
    assert(r.main.funcName != "localCheckpoint")
  }
}
