package graftbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, Executors, TimeUnit}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Graft, Lakehouse}

/** One dashboard request: a process-scoped or windowed read of the
  * observability views. Times are epoch microseconds.
  */
final case class Req(id: Int, kind: String, pid: Long, beginUs: Long, endUs: Long)

/** Interactive SQL over the JIT views, over the sf0.1 events table:
  * `nproc` users back to back through blocks of requests for the whole
  * window (the timed latencies and throughput). A traced run ends its
  * window with an open loop at a fixed offered rate, for the generator
  * lag. See README.md for the request mix and the assumptions in it.
  */
final class Dashboard extends Workload {
  import Dashboard._

  private var prepared: Graft.PreparedQuery = _

  def prepareLake(lakeRoot: String, work: String, setupIndex: Int): String =
    Lakes.eventsLake(lakeRoot, s"$work/dash_lake$setupIndex", copyEvents = false)

  def warm(ctx: Ctx): Unit = {
    prepared = Graft.prepareStatement(ctx.spark, ctx.lake, PreparedSql)
    // one request of each kind, at once: code paths loaded
    val pool = Executors.newFixedThreadPool(ctx.cpus)
    try mix(new scala.util.Random(-1L), Kinds.size, 0)
      .map(r => pool.submit(new Callable[Unit] { def call(): Unit = Sinks.noop(frame(ctx, r)) }))
      .foreach(_.get())
    finally pool.shutdown()
  }

  def tailLevel: Double = 0.8

  def measure(ctx: Ctx, tracer: Option[Tracer], seconds: Double): Outcome = {
    val rng = new scala.util.Random(ctx.seed * 7919 + seconds.toLong)
    val pool = Executors.newFixedThreadPool(ctx.cpus)
    try {
      var nextId = 0
      def batch(n: Int): Seq[Req] = { val b = mix(rng, n, nextId); nextId += n; b }
      // a traced window keeps its last part for the open loop
      val closedS = if (tracer.isEmpty) seconds else seconds * 0.6
      tracer.foreach(_.start())
      val t0 = System.nanoTime()
      def elapsedS = (System.nanoTime() - t0) / 1e9
      // as many users as cores, back to back, in whole blocks until the
      // window ends (a block starts if half of one still fits)
      val blocks = scala.collection.mutable.ArrayBuffer[Closed]()
      while (blocks.isEmpty || elapsedS + blocks.last.wallS / 2 <= closedS)
        blocks += runClosed(ctx, pool, batch(BlockRequests), tracer)
      val open = tracer.map(_ => runOpen(ctx, pool,
        batch(math.max(1, (OfferedRate * (seconds - elapsedS)).round.toInt)), rng, tracer))
      tracer.foreach(_.stop())
      val busy = blocks.flatMap(_.results).toSeq
      val all = busy ++ open.map(_.results).getOrElse(Nil)
      val layer = tracer.map { t =>
        t.layer(all.size, ctx.cpus) ++ Map(
          "graft.query_ms" -> Stats.median(ctx.spans.durationsMs("graft.query")),
          "harness.generator_lag_ms" -> Stats.percentile(open.get.lagMs, 0.99))
      }.getOrElse(Map.empty)
      Outcome(
        attempted = all.size,
        failed = all.count(!_.ok),
        latMs = busy.map(_.latMs),
        passS = Stats.median(blocks.map(_.wallS).toSeq),
        qps = busy.size / blocks.map(_.wallS).sum,
        info = Map(
          "closed" -> Map("blocks" -> blocks.size, "requests_per_block" -> BlockRequests,
            "clients" -> ctx.cpus, "block_wall_s" -> blocks.map(_.wallS)),
          "open" -> open.map(o => Map("offered_qps" -> OfferedRate, "requests" -> o.results.size,
            "p50_ms" -> Stats.median(o.results.map(_.latMs)),
            "tail_ms" -> Stats.percentile(o.results.map(_.latMs), tailLevel),
            "drain_ms" -> o.drainMs, "lag_p99_ms" -> Stats.percentile(o.lagMs, 0.99),
            "latencies" -> o.results.map(d => Seq(d.kind, d.latMs))))),
        layer = layer)
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(60, TimeUnit.SECONDS)
    }
  }

  /** A seeded sample of requests, collected outside the timed window
    * and handed to DuckDB for a re-run (see run.py).
    */
  def check(ctx: Ctx): Seq[String] = {
    val rng = new scala.util.Random(ctx.seed * 31 + 5)
    val dir = s"${ctx.work}/dash_check"
    Files.createDirectories(Paths.get(dir))
    val sample = mix(rng, Kinds.size, 0)
    val failures = sample.flatMap { r =>
      try {
        Sinks.parquet(frame(ctx, r), s"$dir/${r.id}")
        None
      } catch { case e: Exception => Some(s"dashboard ${r.kind} #${r.id}: ${e.getMessage}") }
    }
    Files.writeString(Paths.get(s"$dir/requests.json"), Json.render(sample.map(r => Map(
      "id" -> r.id, "kind" -> r.kind, "pid" -> r.pid, "begin_us" -> r.beginUs, "end_us" -> r.endUs))))
    failures
  }

  private def frame(ctx: Ctx, r: Req): DataFrame = {
    val (b, e) = (Some(r.beginUs), Some(r.endUs))
    val spark = ctx.spark
    r.kind match {
      case "tail" => ctx.spans("graft.query")(Graft.query(spark, ctx.lake,
        s"SELECT time_ms, event_id, level, target, msg FROM log_entries " +
          s"WHERE process_id = '${r.pid}' ORDER BY time_ms DESC, event_id DESC LIMIT $TailRows", b, e))
      case "stats" => ctx.spans("graft.query")(Graft.query(spark, ctx.lake,
        "SELECT time_bin_ms, level, CAST(SUM(count) AS BIGINT) AS n FROM log_stats " +
          "GROUP BY time_bin_ms, level ORDER BY time_bin_ms, level", b, e))
      case "spans" => ctx.spans("graft.query")(
        Graft.querySpans(spark, ctx.lake, SpanRows, r.pid.toString, b, e))
      case "measures" => ctx.spans("graft.view_instance")(
        new Lakehouse(spark, ctx.lake).viewInstance("measures", r.pid.toString)
          .groupBy("name")
          .agg(count(lit(1)).as("n"), min("value").as("lo"), max("value").as("hi"))
          .orderBy("name"))
      case "prepared" => ctx.spans("graft.query")(prepared.run(b, e))
    }
  }

  /** Runs one request from its due time (nanoTime); its latency counts
    * from when it was due, so queueing behind busy clients shows.
    */
  private def serve(ctx: Ctx, r: Req, dueNs: Long, tracer: Option[Tracer]): Done = {
    val reqId = s"dash-${r.id}"
    val ok =
      try {
        ctx.inGroup(reqId)(ctx.spans(s"request.${r.kind}", reqId) {
          val df = frame(ctx, r)
          tracer match {
            case Some(t) =>
              t.absorbAnalysis(df.queryExecution)
              ctx.spans("execute")(Sinks.noopCounted(df, t, s"rows_$reqId"))
            case None => ctx.spans("execute")(Sinks.noop(df))
          }
        })
        true
      } catch { case e: Exception =>
        System.err.println(s"[dashboard] ${r.kind} #${r.id} failed: ${e.getMessage}")
        false
      }
    Done(r.kind, (System.nanoTime() - dueNs) / 1e6, ok)
  }

  private def runClosed(ctx: Ctx, pool: java.util.concurrent.ExecutorService,
      reqs: Seq[Req], tracer: Option[Tracer]): Closed = {
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[Req]()
    reqs.foreach(queue.add)
    val t0 = System.nanoTime()
    val workers = (1 to ctx.cpus).map(_ => pool.submit(new Callable[Seq[Done]] {
      def call(): Seq[Done] = Iterator.continually(queue.poll()).takeWhile(_ != null)
        .map(r => serve(ctx, r, System.nanoTime(), tracer)).toList
    }))
    val results = workers.flatMap(_.get())
    Closed(results, (System.nanoTime() - t0) / 1e9)
  }

  private def runOpen(ctx: Ctx, pool: java.util.concurrent.ExecutorService, reqs: Seq[Req],
      rng: scala.util.Random, tracer: Option[Tracer]): Open = {
    // Poisson arrivals with the sampling noise taken out: the gaps are
    // the exponential distribution's quantiles at the offered rate, in
    // a seeded order, so every run offers the same load with the same
    // burstiness
    val gaps = rng.shuffle(reqs.indices.map(i => -math.log(1 - (i + 0.5) / reqs.size) / OfferedRate))
    val offsetsNs = gaps.scanLeft(0.0)(_ + _).init.map(s => (s * 1e9).toLong)
    val t0 = System.nanoTime()
    val lags = new Array[Double](reqs.size)
    val futures = reqs.zip(offsetsNs).zipWithIndex.map { case ((r, off), i) =>
      val due = t0 + off
      val wait = due - System.nanoTime()
      if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
      lags(i) = math.max(0L, System.nanoTime() - due) / 1e6
      pool.submit(new Callable[Done] { def call(): Done = serve(ctx, r, due, tracer) })
    }
    val results = futures.map(_.get())
    // how long the last requests ran past the last arrival: a backlog
    Open(results, lags.toSeq, math.max(0L, System.nanoTime() - (t0 + offsetsNs.last)) / 1e6)
  }

  private def draw(rng: scala.util.Random, id: Int, kind: String, width: Long): Req = {
    val begin = SpanBeginUs + (rng.nextDouble() * (SpanEndUs - width - SpanBeginUs)).toLong
    Req(id, kind, rng.nextInt(Processes).toLong, begin, begin + width)
  }

  /** `n` requests in balanced blocks: every kind once per block, in a
    * seeded order, each kind cycling through the window widths, with
    * seeded processes and window starts.
    */
  private def mix(rng: scala.util.Random, n: Int, firstId: Int): Seq[Req] = {
    val seen = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    Iterator.continually(rng.shuffle(Kinds)).flatten.take(n).zipWithIndex.map { case (k, i) =>
      seen(k) += 1
      draw(rng, firstId + i, k, Widths((firstId + seen(k)) % Widths.size))
    }.toSeq
  }
}

object Dashboard {
  private final case class Done(kind: String, latMs: Double, ok: Boolean)
  private final case class Closed(results: Seq[Done], wallS: Double)
  private final case class Open(results: Seq[Done], lagMs: Seq[Double], drainMs: Double)

  /** The request kinds, in equal shares. Three are scoped to one
    * process; `stats` and `prepared` read the whole window.
    */
  val Kinds: Seq[String] = Seq("tail", "stats", "spans", "measures", "prepared")
  /** Offered rate of a traced run's open loop, requests per second:
    * about half the closed loop's throughput on 4 cores.
    */
  val OfferedRate = 4.0
  /** One closed-loop block: four of each kind, about 2.5 s on 4 cores. */
  val BlockRequests = 20
  val TailRows = 50
  val SpanRows = 100
  val PreparedSql =
    "SELECT target, level, COUNT(*) AS n FROM log_entries GROUP BY target, level ORDER BY target, level"
  // the sf0.1 events: 1500 processes over 2024-01-01 .. 2024-01-31 UTC
  val Processes = 1500
  val SpanBeginUs = 1704067200000000L
  val SpanEndUs = SpanBeginUs + 30L * 86400000000L
  /** Window widths each kind cycles through: an hour, a shift, a day. */
  val Widths: Seq[Long] = Seq(1L, 6L, 24L).map(_ * 3600000000L)
}
