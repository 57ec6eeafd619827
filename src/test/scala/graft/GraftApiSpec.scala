package graft

class GraftApiSpec extends SparkSpec {

  private def micros(iso: String): Long =
    java.time.Instant.parse(iso).toEpochMilli * 1000L

  test("query(sql) over lakehouse views") {
    val df = Graft.query(spark, sfDir,
      "SELECT level, count(*) AS n FROM log_entries GROUP BY level ORDER BY level")
    val rows = df.collect()
    assert(rows.map(_.getInt(0)).toSeq === Seq(2, 4, 5))
    assert(rows.map(_.getLong(1)).sum === 1000L)
  }

  test("query(sql, begin, end) scopes every scan to the range") {
    val all = Graft.query(spark, sfDir, "SELECT count(*) FROM events").head().getLong(0)
    val scoped = Graft.query(spark, sfDir, "SELECT count(*) FROM events",
      Some(micros("2024-01-01T00:00:00Z")), Some(micros("2024-01-15T00:00:00Z")))
      .head().getLong(0)
    assert(scoped > 0 && scoped < all)
  }

  test("prepareStatement: validate once, re-run under different ranges; bad SQL fails at prepare") {
    val ps = Graft.prepareStatement(spark, sfDir, "SELECT count(*) AS n FROM events")
    val all = ps.run().head().getLong(0)
    val firstHalf = ps.run(Some(micros("2024-01-01T00:00:00Z")),
      Some(micros("2024-01-15T00:00:00Z"))).head().getLong(0)
    val secondHalf = ps.run(Some(micros("2024-01-15T00:00:00Z")),
      Some(micros("2024-02-01T00:00:00Z"))).head().getLong(0)
    assert(firstHalf > 0 && secondHalf > 0 && firstHalf < all && secondHalf < all)
    // ranges must not accumulate on the shared parsed tree
    assert(firstHalf + secondHalf === all)
    // unscoped re-run after scoped runs still sees everything
    assert(ps.run().head().getLong(0) === all)
    // streamed read equals run()
    assert(ps.stream(batchRows = 7).map(_.size).sum === 1L)
    // validation happens at prepare time, not first run
    intercept[Exception] {
      Graft.prepareStatement(spark, sfDir, "SELECT nope FROM events")
    }
  }

  test("thread_spans view is queryable and concurrent query() calls don't cross-leak ranges") {
    val spans = Graft.query(spark, sfDir,
      "SELECT process_id, count(*) AS n, max(duration_ms) AS mx FROM thread_spans GROUP BY process_id")
    assert(spans.count() > 0)
    // concurrent ranged + unranged queries on the same session: the
    // unranged one must see ALL rows every time (no range leak in) and
    // the ranged one must see exactly its scoped count every time (no
    // sibling unset/overwrite stripping or changing the range)
    val b = Some(micros("2024-01-01T00:00:00Z"))
    val e = Some(micros("2024-01-15T00:00:00Z"))
    val all = Graft.query(spark, sfDir, "SELECT count(*) FROM events").head().getLong(0)
    val scoped = Graft.query(spark, sfDir, "SELECT count(*) FROM events", b, e).head().getLong(0)
    assert(scoped > 0 && scoped < all)
    val threads = (1 to 4).map { i =>
      new Thread {
        var ok = true
        override def run(): Unit =
          // an exception is as much a race symptom as a wrong count —
          // it must fail the test, not die silently with ok still true
          try (1 to 5).foreach { _ =>
            val (n, want) =
              if (i % 2 == 0)
                (Graft.query(spark, sfDir, "SELECT count(*) FROM events").head().getLong(0), all)
              else
                (Graft.query(spark, sfDir, "SELECT count(*) FROM events", b, e).head().getLong(0), scoped)
            if (n != want) ok = false
          } catch { case _: Throwable => ok = false }
      }
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(threads.forall(_.ok), "a query() observed a sibling's range state")
  }

  test("per-query range is authoritative over a static conf range, and doesn't stack on re-analysis") {
    val b = Some(micros("2024-01-01T00:00:00Z"))
    val e = Some(micros("2024-01-15T00:00:00Z"))
    val ranged = Graft.query(spark, sfDir, "SELECT count(*) FROM events", b, e)
    val scoped = ranged.head().getLong(0)
    // head() re-analyzes the ranged frame inside another query's range —
    // a DIFFERENT, non-overlapping window. The injected filter must stay
    // authoritative (stacking would intersect disjoint windows → 0 rows).
    val n = plans.QueryRange.within(
      Some(micros("2024-03-01T00:00:00Z")), Some(micros("2024-03-15T00:00:00Z"))) {
      ranged.head().getLong(0)
    }
    assert(n === scoped, s"per-query range result changed inside another range: $n vs $scoped")
    assert(scoped > 0)
  }

  test("a session built without GraftExtensions fails loudly at Tables.df and Graft.query") {
    // classic.SparkSession's full constructor is private to its class,
    // so reflection builds a session on the shared context and state
    // with NO extensions: spark.newSession() would carry the parent's,
    // and SparkSession.builder() returns the running default session
    import org.apache.spark.sql.{SparkSessionExtensions, classic}
    val c = spark.asInstanceOf[classic.SparkSession]
    val bare = classOf[classic.SparkSession].getConstructors
      .find(_.getParameterCount == 6).get
      .newInstance(c.sparkContext, Some(c.sharedState), None,
        new SparkSessionExtensions, Map.empty, Map.empty)
      .asInstanceOf[classic.SparkSession]
    for (call <- Seq[() => Any](
        () => Tables.df(bare, sfDir, "events"),
        () => Graft.query(bare, sfDir, "SELECT count(*) FROM events"))) {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("GraftExtensions"), e.getMessage)
    }
  }

  test("observability SQL: histogram over measures via registered functions") {
    val df = Graft.query(spark, sfDir,
      """SELECT name, graft_make_histogram(0.0, 500.0, 10, value) AS h
         FROM measures GROUP BY name""")
    val row = df.where("name = 'error'").select("h.count").head()
    assert(row.getLong(0) > 0)
  }

  test("queryStream: batched partition-at-a-time read == query, range-scoped alike") {
    // the query_stream analog: same rows as query() in the same order
    // semantics (batch concatenation), record-batch granularity honored
    val sql = "SELECT event_id, level FROM log_entries ORDER BY event_id"
    val direct = Graft.query(spark, sfDir, sql).collect().toSeq
    val batches = Graft.queryStream(spark, sfDir, sql, batchRows = 97).toSeq
    assert(batches.nonEmpty)
    assert(batches.init.forall(_.size == 97)) // full batches except the tail
    assert(batches.flatten === direct)
    // ranged stream applies the same pruning as ranged query
    val b = Some(micros("2024-01-01T00:00:00Z"))
    val e = Some(micros("2024-01-15T00:00:00Z"))
    val rangedDirect = Graft.query(spark, sfDir,
      "SELECT count(*) FROM events", b, e).head().getLong(0)
    val rangedStream = Graft.queryStream(spark, sfDir,
      "SELECT event_id FROM events", b, e).map(_.size.toLong).sum
    assert(rangedStream === rangedDirect)
    assert(rangedStream > 0)
  }

  test("client convenience API: find_process / query_streams / query_blocks / query_spans") {
    val p = Graft.findProcess(spark, sfDir, "9").collect()
    assert(p.length == 1 && p.head.getAs[Long]("n_events") > 0)
    assert(Graft.findProcess(spark, sfDir, "no-such'; --").isEmpty)
    // backslash must not re-open the literal (Spark treats \ as an
    // escape inside string literals, so quote-doubling alone injects)
    assert(Graft.findProcess(spark, sfDir, """x\' OR 1=1 -- """).isEmpty)

    val streams = Graft.queryStreams(spark, sfDir, limit = 3, processId = Some("9"))
    assert(streams.count() <= 3)
    assert(streams.select("process_id").distinct().collect().map(_.getString(0)).toSeq == Seq("9"))
    val tagged = Graft.queryStreams(spark, sfDir, limit = 100, tagFilter = Some("view"))
    assert(tagged.select("tag").distinct().collect().map(_.getString(0)).toSeq == Seq("view"))

    val blocks = Graft.queryBlocks(spark, sfDir, limit = 5, processId = "9", tag = "view")
    assert(blocks.count() > 0 && blocks.count() <= 5)

    val spans = Graft.querySpans(spark, sfDir, limit = 10, processId = "9").collect()
    assert(spans.nonEmpty && spans.length <= 10)
    assert(spans.forall(_.getAs[String]("process_id") == "9"))
    // range-scoped variant returns a strict subset (bound at the
    // midpoint of the span time range so both sides are non-empty)
    val all = Graft.querySpans(spark, sfDir, 10000, "9").collect()
    val mid = (all.map(_.getAs[Long]("begin_ms")).min +
      all.map(_.getAs[Long]("begin_ms")).max) / 2
    val ranged = Graft.querySpans(spark, sfDir, limit = 10000, processId = "9",
      beginMicros = Some(mid * 1000L), endMicros = None)
    assert(ranged.count() > 0 && ranged.count() < all.length)
  }

  test("write_process_trace analog produces a well-formed perfetto file") {
    val path = java.nio.file.Files.createTempFile("graft-trace", ".perfetto-trace")
    try {
      val (nChunks, nBytes) = Graft.writeProcessTrace(spark, sfDir, 9L, path.toString)
      val bytes = java.nio.file.Files.readAllBytes(path)
      assert(nChunks > 0 && nBytes == bytes.length.toLong)
      // Trace.packet framing: every chunk starts with field 1, wire 2 → 0x0a
      assert((bytes(0) & 0xff) == 0x0a)
      // accounting matches the distributed query for the same process
      val q = SparkEntry.queries("m_perfetto_chunks")(spark, sfDir)
        .where("user_id = 9")
      assert(q.count().toInt == nChunks)
      val sum = q.groupBy().sum("n_bytes").head().getLong(0)
      assert(sum == nBytes)
    } finally java.nio.file.Files.deleteIfExists(path)
  }

  test("parseTimeDelta parses m/h/d and rejects everything else") {
    assert(Graft.parseTimeDelta("30m").getSeconds == 1800L)
    assert(Graft.parseTimeDelta("2h").getSeconds == 7200L)
    assert(Graft.parseTimeDelta("7d").getSeconds == 7L * 86400L)
    assert(Graft.parseTimeDelta("1m").getSeconds == 60L)
    for (bad <- Seq("", "5x", "h5", "-1h", "1.5h", "5m ", "5s", "5m\n"))
      intercept[IllegalArgumentException](Graft.parseTimeDelta(bad))
    // oversized-but-parseable counts fail loudly, never wrap
    intercept[IllegalArgumentException](Graft.parseTimeDelta("999999999999999d"))
    intercept[IllegalArgumentException](Graft.rangeEndingAt(0L, "200000000d"))
  }

  test("rangeEndingAt anchors a delta window at an explicit end instant") {
    val end = 1706659032194000L // max event micros at sf0.01
    val (b, e) = Graft.rangeEndingAt(end, "1h")
    assert(e == end && b == end - 3600L * 1000000L)
    // and the range actually scopes a query
    val n = Graft.query(spark, sfDir, "SELECT count(*) AS n FROM log_entries",
      Some(b), Some(e)).head().getLong(0)
    val all = Graft.query(spark, sfDir, "SELECT count(*) AS n FROM log_entries")
      .head().getLong(0)
    assert(n < all)
  }
}
