package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** What a workload's measured window produced. `latMs` holds one
  * latency per operation; `passS` and `qps` are the workload's pass
  * time and throughput (see README.md for each workload's meaning).
  */
final case class Outcome(
    attempted: Int,
    failed: Int,
    latMs: Seq[Double],
    passS: Double,
    qps: Double,
    info: Map[String, Any] = Map.empty,
    layer: Map[String, Double] = Map.empty)

/** Everything a workload needs: the session, its lake, the run's seed
  * and budget, a scratch directory inside the run's temp dir, and the
  * span recorder (disabled on untraced runs).
  */
final class Ctx(val spark: SparkSession, val lake: String, val lakeRoot: String,
    val work: String, val seed: Long, val cpus: Int, val spans: Spans) {
  def sc = spark.sparkContext

  /** Runs `body` with every Spark job it starts tagged by `reqId`. */
  def inGroup[T](reqId: String)(body: => T): T = {
    sc.setJobGroup(reqId, reqId, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }
}

trait Workload {
  /** Builds the workload's lake under `work` (setup time). */
  def prepareLake(lakeRoot: String, work: String, setupIndex: Int): String
  /** Warms the session: first requests, first registration (setup time). */
  def warm(ctx: Ctx): Unit
  /** Runs the measured window. With a tracer, per-layer numbers are
    * filled in; `tracer` is registered only while the window runs.
    */
  def measure(ctx: Ctx, tracer: Option[Tracer], seconds: Double): Outcome
  /** Output checks made outside the timed window; returns failures. */
  def check(ctx: Ctx): Seq[String]
  /** The end-to-end number the tracing overhead is judged on. */
  def overheadBasis(o: Outcome): Double = Stats.median(o.latMs)
  /** Latency percentile reported as `latency_tail_ms`. */
  def tailLevel: Double
}

/** The actions that run a query's full plan. */
object Sinks {
  /** The timed action: every row and column produced, nothing kept. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The noop write with its output rows counted for the tracer, by an
    * observed metric on the written plan.
    */
  def noopCounted(df: DataFrame, t: Tracer, name: String): Unit = {
    val obs = Observation(name)
    noop(df.observe(obs, count(lit(1)).as("n")))
    t.rowsOut.add(scala.concurrent.Await.result(obs.future,
      scala.concurrent.duration.Duration(60, "s")).getLong(0).toDouble)
  }

  /** The verify action: the result as one parquet file, for a check. */
  def parquet(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile (`p` in [0, 1]). */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = p * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

object Main {
  private def arg(argv: Array[String], name: String): Option[String] = {
    val i = argv.indexOf(s"--$name")
    if (i >= 0 && i + 1 < argv.length) Some(argv(i + 1)) else None
  }

  private def need(argv: Array[String], name: String): String =
    arg(argv, name).getOrElse(throw new IllegalArgumentException(s"missing --$name"))

  def main(argv: Array[String]): Unit = {
    val name = need(argv, "workload")
    val seed = need(argv, "seed").toLong
    val seconds = need(argv, "seconds").toDouble
    val traced = need(argv, "trace") == "1"
    val lakeRoot = need(argv, "lake-root")
    val work = need(argv, "work")
    val out = need(argv, "out")
    val launchedAtMs = need(argv, "launched-at-ms").toLong
    val cpus = arg(argv, "cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val wl: Workload = name match {
      case "dashboard" => new Dashboard
      case "batch" => new Batch
      case "ingest" => new Ingest
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // Set-up is measured three times, each from scratch: lake prepared,
    // session built, session warmed. The first one starts at the JVM's
    // launch and is reported on its own (its class loading and JIT
    // warm-up swing with the host); setup_s is the median of the others.
    val setups = scala.collection.mutable.ArrayBuffer[(Double, Double, Double)]()
    var ctx: Ctx = null
    for (i <- 0 until 3) {
      val t0 = if (i == 0) launchedAtMs.toDouble else System.currentTimeMillis().toDouble
      val b0 = System.nanoTime()
      val lake = wl.prepareLake(lakeRoot, work, i)
      val spark = GraftSessionFor(lake, cpus, work)
      val built = (System.nanoTime() - b0) / 1e6
      val w0 = System.nanoTime()
      val c = new Ctx(spark, lake, lakeRoot, s"$work/run$i", seed, cpus, new Spans(traced))
      Files.createDirectories(Paths.get(c.work))
      wl.warm(c)
      val warmed = (System.nanoTime() - w0) / 1e6
      setups += (((System.currentTimeMillis() - t0) / 1000.0, built, warmed))
      if (i < 2) spark.stop() else ctx = c
    }

    val tracer = if (traced) Some(new Tracer(ctx.spark, ctx.spans)) else None
    // Traced runs measure half the window untraced, half traced, so the
    // tracing overhead is known; end-to-end numbers come from untraced
    // runs only.
    val m0 = System.nanoTime()
    val (outcome, overhead) = tracer match {
      case None => (wl.measure(ctx, None, seconds), 0.0)
      case Some(t) =>
        val plain = wl.measure(ctx, None, seconds / 2)
        val withTrace = wl.measure(ctx, Some(t), seconds / 2)
        (withTrace, (wl.overheadBasis(withTrace) / wl.overheadBasis(plain) - 1) * 100)
    }
    val windowS = (System.nanoTime() - m0) / 1e9
    val c0 = System.nanoTime()
    val checkFailures = wl.check(ctx)
    val checkS = (System.nanoTime() - c0) / 1e9
    val registerMs = if (traced) timeRegister(ctx) else 0.0
    val peakRssMb = peakRss()

    val tail = Stats.percentile(outcome.latMs, wl.tailLevel)
    val endToEnd = Map(
      "setup_s" -> Stats.median(setups.tail.map(_._1).toSeq),
      "latency_p50_ms" -> Stats.median(outcome.latMs),
      "latency_tail_ms" -> tail,
      "sustained_qps" -> outcome.qps,
      "pass_s" -> outcome.passS,
      "peak_rss_mb" -> peakRssMb)
    val layer = outcome.layer ++ Map(
      "session.cold_setup_s" -> setups.head._1,
      "session.build_ms" -> Stats.median(setups.tail.map(_._2).toSeq),
      "session.warmup_ms" -> Stats.median(setups.tail.map(_._3).toSeq),
      "graft.register_ms" -> registerMs,
      "harness.tracing_overhead_pct" -> overhead)
    val report = Map(
      "workload" -> name,
      "seed" -> seed,
      "traced" -> traced,
      "seconds" -> seconds,
      "attempted" -> outcome.attempted,
      "failed" -> outcome.failed,
      "check_failures" -> checkFailures,
      "end_to_end" -> endToEnd,
      "per_layer" -> layer,
      "latency_tail_percentile" -> wl.tailLevel * 100,
      "latency_samples" -> outcome.latMs.size,
      "latency_samples_beyond_tail" -> outcome.latMs.count(_ > tail),
      "setup_samples" -> setups.map { case (s, b, w) => Map("setup_s" -> s, "build_ms" -> b, "warm_ms" -> w) }.toSeq,
      "window_s" -> windowS,
      "check_s" -> checkS,
      "lake" -> ctx.lake,
      "spark_cores" -> cpus,
      "spark_version" -> ctx.spark.version,
      "jdk" -> System.getProperty("java.version"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "info" -> outcome.info)
    if (traced) writeSpans(ctx.spans, s"$work/spans.json")
    Files.writeString(Paths.get(out), Json.render(report))
    ctx.spark.stop()
  }

  /** A direct `Graft.registerViews` timing (median of five), the cost
    * every read after an ingest pays once.
    */
  private def timeRegister(ctx: Ctx): Double =
    Stats.median((1 to 5).map { _ =>
      val t0 = System.nanoTime()
      graft.Graft.registerViews(ctx.spark, ctx.lake)
      (System.nanoTime() - t0) / 1e6
    })

  private def peakRss(): Double = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    try status.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(Double.NaN)
    finally status.close()
  }

  private def writeSpans(spans: Spans, path: String): Unit =
    Files.writeString(Paths.get(path), Json.render(spans.all.map(s => Map(
      "id" -> s.id, "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs,
      "parent" -> s.parent, "request_id" -> s.requestId))))
}

/** The session every workload runs on: graft's shared builder plus the
  * benchmark's own placement of Spark's scratch space inside the run's
  * temp dir.
  */
object GraftSessionFor {
  def apply(lake: String, cpus: Int, work: String): SparkSession = {
    val spark = graft.GraftSession.base(lake, cpus.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
