package graftbench

import graft.{GraftSession, SparkEntry}

/** One same-window pass of every headline query under the two timed
  * actions graft's history used: `count()`, which lets Catalyst prune
  * output-only work, and the noop-sink write of the full DataFrame.
  * Per query the two alternate, best of `reps` each. Prints one JSON
  * line. Run through count_vs_noop.py.
  */
object CountVsNoop {
  def main(args: Array[String]): Unit = {
    val lake = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = GraftSession.base(lake, cpus.toString).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val qs = SparkEntry.headlineQueries
    qs.foreach(q => Sinks.noop(q.fn(spark, lake))) // warm-up
    def secs(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    val rows = qs.map { q =>
      val pairs = (1 to reps).map { _ =>
        (secs(q.fn(spark, lake).count()), secs(Sinks.noop(q.fn(spark, lake))))
      }
      q.name -> Map("count_s" -> pairs.map(_._1).min, "noop_s" -> pairs.map(_._2).min)
    }
    println(Json.render(Map(
      "lake" -> lake, "cores" -> cpus, "reps" -> reps,
      "count_total_s" -> rows.map(_._2("count_s")).sum,
      "noop_total_s" -> rows.map(_._2("noop_s")).sum,
      "queries" -> rows.toMap)))
    spark.stop()
  }
}
