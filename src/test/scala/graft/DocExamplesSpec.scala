package graft

import graft.functions.Histograms
import org.apache.spark.sql.functions._

/** Fidelity check against the reference's OWN documentation: every
  * query shape `doc/how_to_query/README.md` teaches users runs through
  * `Graft.query` on the analog views (schemas differ — our views are
  * derived from the synthetic events stream — but the SHAPES, function
  * surface and range-scoping semantics are the documented ones). A
  * user following the reference's query guide should find each pattern
  * expressible here; this spec is that claim, executable.
  */
class DocExamplesSpec extends SparkSpec {

  // events at sf0.001 span 2024-01; a mid-month window for range tests
  private val begin = 1704067200000000L // 2024-01-01T00:00Z in micros
  private val mid = 1705276800000000L   // 2024-01-15T00:00Z

  test("doc: recent errors — level filter + time range + ORDER BY + LIMIT") {
    // README.md:26 / :152 (the guide's first query)
    val df = Graft.query(spark, sfDir,
      """SELECT time_ms, process_id, level, target, msg
         FROM log_entries WHERE level <= 4
         ORDER BY time_ms DESC LIMIT 10""", Some(begin), Some(mid))
    val rows = df.collect()
    assert(rows.length == 10)
    assert(rows.forall(_.getAs[Int]("level") <= 4))
    // range scoping reached the scan: everything before the mid bound
    assert(rows.forall(_.getAs[Long]("time_ms") * 1000 <= mid))
  }

  test("doc: COUNT(*) and LIMITed metadata listing") {
    // README.md:54 / :58
    val n = Graft.query(spark, sfDir, "SELECT COUNT(*) AS n FROM log_entries")
      .head().getLong(0)
    assert(n > 0)
    val procs = Graft.query(spark, sfDir,
      "SELECT process_id, n_events FROM processes LIMIT 10").collect()
    assert(procs.length == 10 && procs.forall(_.getAs[Long]("n_events") > 0))
  }

  test("doc: measures by name over a time range") {
    // README.md:94 / :104
    val df = Graft.query(spark, sfDir,
      """SELECT time_ms, name, value, unit FROM measures
         WHERE name = 'purchase' ORDER BY time_ms LIMIT 20""",
      Some(begin), Some(mid))
    val rows = df.collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[String]("name") == "purchase"))
  }

  test("doc: property_get over the properties column") {
    // README.md:411 / :536
    val df = Graft.query(spark, sfDir,
      """SELECT graft_property_get(properties, 'k') AS k, COUNT(*) AS n
         FROM log_entries GROUP BY 1 ORDER BY 1""")
    assert(df.count() > 1) // several property values + possibly null
  }

  test("doc: histogram pipeline — make, accessors, re-aggregation") {
    // README.md:634 (make_histogram GROUP BY target), :571 (p95),
    // :654 (sum_histograms re-aggregation)
    val perTarget = Graft.query(spark, sfDir,
      """SELECT name, graft_make_histogram(0.0, 500.0, 100, value) AS h
         FROM measures GROUP BY name""")
    val stats = perTarget.select(col("name"),
      Histograms.countFromHistogram(col("h")).as("n"),
      Histograms.sumFromHistogram(col("h")).as("s"),
      Histograms.varianceFromHistogram(col("h")).as("v"),
      Histograms.quantileFromHistogram(col("h"), 0.95).as("p95")).collect()
    assert(stats.length == 5)
    assert(stats.forall(r => r.getAs[Long]("n") > 0 && r.getAs[Double]("p95") >= 0.0))
    // re-aggregate the per-target sketches into one (the doc's
    // combined_histogram) — count must be conserved exactly
    val combined = perTarget
      .select(Histograms.sumHistograms(col("h")).as("h"))
      .select(Histograms.countFromHistogram(col("h"))).head().getLong(0)
    assert(combined == stats.map(_.getAs[Long]("n")).sum)
  }

  test("doc: view_instance process-scoped JIT view") {
    // README.md:463
    val lk = new Lakehouse(spark, sfDir)
    val inst = lk.viewInstance("log_entries", "9")
    val rows = inst.select("process_id").distinct().collect()
    assert(rows.length == 1 && rows.head.getString(0) == "9")
  }

  test("doc: top error targets — the dashboard GROUP BY shape") {
    // README.md:880
    val df = Graft.query(spark, sfDir,
      """SELECT target, COUNT(*) AS count FROM log_entries
         WHERE level <= 3 GROUP BY target ORDER BY count DESC LIMIT 5""")
    val rows = df.collect()
    assert(rows.nonEmpty && rows.head.getAs[String]("target") == "error")
  }

  test("doc: reference SQL NAMES resolve verbatim — view_instance table function + property_get") {
    // README.md:37-43 — the guide's per-process query, pasted with its
    // REFERENCE function name (schema note: our time column is time_ms)
    val pid = Graft.query(spark, sfDir,
      "SELECT process_id FROM processes ORDER BY n_events DESC, process_id LIMIT 1")
      .head().getString(0)
    val rows = Graft.query(spark, sfDir,
      s"""SELECT time_ms, level, target, msg
          FROM view_instance('log_entries', '$pid')
          WHERE level <= 3 ORDER BY time_ms DESC LIMIT 20""").collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Int]("level") <= 3))
    // instance scoping must equal the explicit process filter
    val n1 = Graft.query(spark, sfDir,
      s"SELECT COUNT(*) AS n FROM view_instance('log_entries', '$pid')").head().getLong(0)
    val n2 = Graft.query(spark, sfDir,
      s"SELECT COUNT(*) AS n FROM log_entries WHERE process_id = '$pid'").head().getLong(0)
    assert(n1 == n2 && n1 > 0)
    // README.md:536 — property_get under its reference name is the SAME
    // expression as graft_property_get (alias, not a fork)
    val a = Graft.query(spark, sfDir,
      "SELECT property_get(properties, 'k') AS k, COUNT(*) AS n FROM log_entries GROUP BY 1 ORDER BY 1").collect()
    val b = Graft.query(spark, sfDir,
      "SELECT graft_property_get(properties, 'k') AS k, COUNT(*) AS n FROM log_entries GROUP BY 1 ORDER BY 1").collect()
    assert(a.toSeq == b.toSeq && a.length > 1)
  }

  test("doc: histogram family under reference names, per-instance (README.md:634/:571)") {
    val pid = Graft.query(spark, sfDir,
      "SELECT process_id FROM processes ORDER BY n_events DESC, process_id LIMIT 1")
      .head().getString(0)
    val stats = Graft.query(spark, sfDir,
      s"""WITH h AS (
            SELECT name AS target,
                   make_histogram(0.0, 1000000.0, 100, duration_ms) AS duration_histogram
            FROM view_instance('thread_spans', '$pid')
            GROUP BY name)
          SELECT target,
                 quantile_from_histogram(duration_histogram, 0.95) AS p95_duration,
                 count_from_histogram(duration_histogram) AS n,
                 sum_from_histogram(duration_histogram) AS total,
                 variance_from_histogram(duration_histogram) AS var
          FROM h ORDER BY target""").collect()
    assert(stats.nonEmpty)
    assert(stats.forall(r => r.getAs[Long]("n") > 0 && r.getAs[Double]("p95_duration") >= 0.0))
    // sum_histograms re-aggregation conserves the count exactly
    val combined = Graft.query(spark, sfDir,
      s"""WITH h AS (
            SELECT name AS target,
                   make_histogram(0.0, 1000000.0, 100, duration_ms) AS duration_histogram
            FROM view_instance('thread_spans', '$pid')
            GROUP BY name)
          SELECT count_from_histogram(sum_histograms(duration_histogram)) AS n FROM h""")
      .head().getLong(0)
    assert(combined == stats.map(_.getAs[Long]("n")).sum)
  }

  test("doc: jsonb family under reference names (README.md:663-736)") {
    // properties here ARE JSON text, so parse/format are identity over
    // it and the accessors agree with property_get (ReferenceNames
    // representation note)
    val rows = Graft.query(spark, sfDir,
      """SELECT jsonb_as_string(jsonb_get(jsonb_parse(properties), 'k')) AS v1,
                jsonb_path_query_first(properties, '$.k') AS v2,
                property_get(properties, 'k') AS v3
         FROM log_entries LIMIT 200""").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => Option(r.getString(0)) == Option(r.getString(2))))
    assert(rows.forall(r => Option(r.getString(1)) == Option(r.getString(2))))
    assert(rows.exists(r => r.getString(0) != null))
  }

  test("doc: the FULL reference UDF name surface resolves in SQL text") {
    // Every scalar name the reference registers (datafusion-extensions
    // lib.rs:62-89 + analytics query.rs:181-182), invoked verbatim with
    // hand-checked values. The histogram family, property_get and
    // view_instance are exercised against real views in the sibling
    // tests; this case closes the tail (VERDICT r11 item 2).
    val r = Graft.query(spark, sfDir,
      """SELECT
           lerp(10.0, 20.0, 0.25) AS lerp_v,
           unlerp(0.0, 500.0, 125.0) AS unlerp_v,
           bin_center(7.4, 5.0) AS bc,
           rgba(1.0, 0.0, 0.0, 1.0) AS red,
           lerp_color(rgba(1.0, 0.0, 0.0, 1.0), rgba(0.0, 0.0, 1.0, 1.0), 0.5) AS mid,
           color_scale('viridis', 0.0, 1.0) AS v0,
           jsonb_array_length(jsonb_parse('[1,2,3]')) AS alen,
           jsonb_object_keys(jsonb_parse('{"a":1,"b":2}')) AS keys,
           jsonb_path_query(jsonb_parse('{"tags":["x","y"]}'), '$.tags[*]') AS pq,
           jsonb_path_query_first(jsonb_parse('{"tags":["x","y"]}'), '$.tags[*]') AS pqf,
           jsonb_as_string(jsonb_get(jsonb_parse('{"k":"v"}'), 'k')) AS js,
           jsonb_as_i64(jsonb_get(jsonb_parse('{"k":7}'), 'k')) AS ji,
           jsonb_as_f64(jsonb_get(jsonb_parse('{"k":7.5}'), 'k')) AS jf,
           jsonb_format_json(jsonb_parse('{"k":1}')) AS jfj,
           properties_to_jsonb('{"a":"1"}') AS pj,
           properties_to_dict('{"a":"1"}') AS pd,
           properties_to_array('{"a":"1","b":"2"}') AS pa,
           properties_length('{"a":"1","b":"2"}') AS pl""").head()
    assert(r.getAs[Double]("lerp_v") == 12.5)
    assert(r.getAs[Double]("unlerp_v") == 0.25)
    assert(r.getAs[Double]("bc") == 5.0) // floor((7.4 + 2.5)/5)*5
    assert(r.getAs[Long]("red") == 4278190335L) // 0xFF0000FF
    assert(r.getAs[Long]("mid") == 128L * 16777216 + 128L * 256 + 255) // 0x800080FF
    assert(r.getAs[Long]("v0") == 68L * 16777216 + 1L * 65536 + 84L * 256 + 255) // viridis t=0
    assert(r.getAs[Long]("alen") == 3L)
    assert(r.getSeq[String](r.fieldIndex("keys")).toSeq == Seq("a", "b"))
    assert(r.getAs[String]("pq") == """["x","y"]""")
    assert(r.getAs[String]("pqf") == "x")
    assert(r.getAs[String]("js") == "v")
    assert(r.getAs[Long]("ji") == 7L)
    assert(r.getAs[Double]("jf") == 7.5)
    assert(r.getAs[String]("jfj") == """{"k":1}""")
    assert(r.getAs[String]("pj") == """{"a":"1"}""")
    assert(r.getAs[String]("pd") == """{"a":"1"}""")
    assert(r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("pa"))
      .map(x => (x.getString(0), x.getString(1))).toSeq == Seq(("a", "1"), ("b", "2")))
    assert(r.getAs[Long]("pl") == 2L)

    // color_scale rejects unknown colormaps loudly (reference
    // color_scale.rs:42 errors too; only viridis is implemented here)
    val err = intercept[Exception] {
      Graft.query(spark, sfDir, "SELECT color_scale('sepia', 0.5, 1.0) AS c").collect()
    }
    assert(err.getMessage.contains("viridis"))

    // generator table functions (lib.rs UDTFs) — constant-document form
    val each = Graft.query(spark, sfDir,
      """SELECT key, value FROM jsonb_each('{"a":"1","b":"2"}') ORDER BY key""").collect()
    assert(each.map(x => (x.getString(0), x.getString(1))).toSeq == Seq(("a", "1"), ("b", "2")))
    val elems = Graft.query(spark, sfDir,
      """SELECT value FROM jsonb_array_elements('["x","y","z"]')""").collect()
    assert(elems.map(_.getString(0)).toSeq == Seq("x", "y", "z"))

    // get_payload(process_id, stream_id, block_id) — one block's bytes,
    // pinned byte-for-byte against the oracle-checked m_block_payload
    // row for the same block (shared synthesis, md5-compared here)
    val blk = Graft.query(spark, sfDir,
      """SELECT process_id, stream_tag, block_start_ms FROM blocks
         ORDER BY nb_objects DESC, process_id, stream_tag, block_start_ms LIMIT 1""").head()
    val (pid, tag, bms) = (blk.getString(0), blk.getString(1), blk.getLong(2))
    val payload = Graft.query(spark, sfDir,
      s"SELECT payload, nb_objects FROM get_payload('$pid', '$tag', '$bms')").head()
    val bytes = payload.getAs[Array[Byte]]("payload")
    assert(bytes.nonEmpty && payload.getAs[Long]("nb_objects") > 0)
    val want = SparkEntry.queries("m_block_payload")(spark, sfDir)
      .where(col("process_id") === pid && col("stream_tag") === tag &&
        col("block_start_ms") === bms).head()
    val gotMd5 = java.security.MessageDigest.getInstance("MD5").digest(bytes)
      .map("%02x".format(_)).mkString
    assert(gotMd5 == want.getAs[String]("payload_md5"))
    assert(bytes.length.toLong == want.getAs[Long]("payload_bytes"))
  }

  test("doc: expand_histogram table function (lib.rs:58, expand.rs)") {
    // the reference's documented usage verbatim (expand.rs doc
    // comment): a scalar subquery over make_histogram
    val rows = Graft.query(spark, sfDir,
      """SELECT bin_center, count FROM expand_histogram(
           (SELECT make_histogram(0.0, 100.0, 10, value)
            FROM measures WHERE name = 'purchase'))
         ORDER BY bin_center""").collect()
    assert(rows.length == 10)
    assert(rows.map(_.getLong(1)).sum > 0)
    // pinned against the oracle-checked operator path (m_histo_expand's
    // Histograms.expand — shared semantics, never forked)
    val h = new Lakehouse(spark, sfDir).measures.where(col("name") === "purchase")
      .agg(Histograms.makeHistogram(0.0, 100.0, 10, col("value")).as("h"))
    val want = Histograms.expand(h, col("h"), Seq.empty).orderBy("bin_idx")
      .select(col("bin_center"), col("count").cast("long")).collect()
    assert(rows.map(r => (r.getDouble(0), r.getLong(1))).toSeq ==
      want.map(r => (r.getDouble(0), r.getLong(1))).toSeq)
    // edge cases the reference documents: NULL expands to zero rows
    // (expand.rs:92); zero-width range uses unit bin width (expand.rs:104)
    assert(Graft.query(spark, sfDir,
      "SELECT * FROM expand_histogram(NULL)").collect().isEmpty)
    val zw = Graft.query(spark, sfDir,
      """SELECT bin_center FROM expand_histogram(
           (SELECT make_histogram(5.0, 5.0, 4, value)
            FROM measures WHERE name = 'purchase'))
         ORDER BY bin_center""").collect()
    assert(zw.map(_.getDouble(0)).toSeq == Seq(5.5, 6.5, 7.5, 8.5))
  }

  test("doc: remaining lakehouse table-function names resolve in SQL (query.rs:104-176)") {
    // list_view_sets() — one row per registered view set, schema hash
    // matching the M49 schema-version hash of the view's plan schema
    val lk = new Lakehouse(spark, sfDir)
    val vs = Graft.query(spark, sfDir,
      "SELECT * FROM list_view_sets() ORDER BY view_set_name").collect()
    assert(vs.map(_.getAs[String]("view_set_name")).toSeq == lk.viewSets.sorted)
    val lsRow = vs.find(_.getAs[String]("view_set_name") == "log_stats").get
    assert(lsRow.getAs[String]("current_schema_hash") ==
      operators.Materialize.schemaHash(lk.viewInstance("log_stats", "0").schema))
    assert(!vs.find(_.getAs[String]("view_set_name") == "images").get
      .getAs[Boolean]("global_instance_available"))

    // process_spans(pid[, span_types]) — pinned against the same span
    // assemblies the decoder-closed perfetto family encodes
    val pid = Lakehouse.perfettoThreadSpans(spark, sfDir)
      .groupBy("user_id").count().orderBy(col("count").desc, col("user_id"))
      .head().get(0).toString
    val thr = Graft.query(spark, sfDir,
      s"SELECT * FROM process_spans('$pid') ORDER BY begin_ms, span_id").collect()
    val wantThr = Lakehouse.perfettoThreadSpans(spark, sfDir)
      .where(col("user_id").cast("string") === pid).count()
    assert(thr.length.toLong == wantThr && wantThr > 0)
    assert(thr.forall(r => r.getAs[String]("span_type") == "thread" &&
      r.getAs[Long]("duration_ms") == r.getAs[Long]("end_ms") - r.getAs[Long]("begin_ms")))
    val both = Graft.query(spark, sfDir,
      s"SELECT span_type, COUNT(*) AS n FROM process_spans('$pid', 'both') GROUP BY 1")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val wantAsync = Lakehouse.perfettoAsyncSpans(spark, sfDir)
      .where(col("user_id").cast("string") === pid).count()
    assert(both == Map("thread" -> wantThr, "async" -> wantAsync))

    // parse_block('process/stream/start_ms') — objects reassemble to
    // the get_payload bytes (shared synthesis with m_block_payload)
    val blk = Graft.query(spark, sfDir,
      """SELECT process_id, stream_tag, block_start_ms FROM blocks
         ORDER BY nb_objects DESC, process_id, stream_tag, block_start_ms LIMIT 1""").head()
    val (bp, bt, bs) = (blk.getString(0), blk.getString(1), blk.getLong(2))
    val objs = Graft.query(spark, sfDir,
      s"SELECT * FROM parse_block('$bp/$bt/$bs') ORDER BY object_index").collect()
    assert(objs.nonEmpty && objs.forall(_.getAs[String]("type_name") == bt))
    assert(objs.map(_.getAs[Long]("object_index")).toSeq == objs.indices.map(_.toLong))
    val reassembled = objs.map(r => new String(r.getAs[Array[Byte]]("value"), "UTF-8"))
      .mkString("\n")
    val want = Graft.query(spark, sfDir,
      s"SELECT payload FROM get_payload('$bp', '$bt', '$bs')").head().getAs[Array[Byte]](0)
    assert(reassembled == new String(want, "UTF-8"))
    // malformed block ids get the FRIENDLY rejection, never a raw
    // NumberFormatException (ADVICE r13: '12-3' used to pass the
    // validation and crash in toLong)
    Seq(s"$bp/$bt/12-3", s"$bp/$bt/99999999999999999999", s"$bp/$bt/-").foreach { badId =>
      val e = intercept[Exception](Graft.query(spark, sfDir,
        s"SELECT * FROM parse_block('$badId')"))
      assert(e.getMessage.contains("block_id is"), s"for '$badId': ${e.getMessage}")
    }

    // perfetto_trace_chunks(pid, 'both', begin, end) over the full
    // range == the oracle-registered m_perfetto_chunks rows for pid
    val chunks = Graft.query(spark, sfDir,
      s"""SELECT chunk_id, n_packets, n_bytes, chunk_md5
          FROM perfetto_trace_chunks('$pid', 'both', 0, ${Long.MaxValue})
          ORDER BY chunk_id""").collect()
    val wantChunks = SparkEntry.queries("m_perfetto_chunks")(spark, sfDir)
      .where(col("user_id").cast("string") === pid)
      .orderBy("chunk_id")
      .select("chunk_id", "n_packets", "n_bytes", "chunk_md5").collect()
    assert(chunks.length == wantChunks.length && chunks.nonEmpty)
    chunks.zip(wantChunks).foreach { case (g, w) =>
      assert(g.getAs[String]("chunk_md5") == w.getAs[String]("chunk_md5"))
      assert(g.getAs[Long]("n_bytes") == w.getAs[Long]("n_bytes"))
    }
    // span_types is validated like the reference's
    val bad = intercept[Exception](Graft.query(spark, sfDir,
      s"SELECT * FROM perfetto_trace_chunks('$pid', 'banana', 0, 1)"))
    assert(bad.getMessage.contains("span_types"))
  }

  test("doc: admin table-function five — is_admin gated, command semantics") {
    val root = java.nio.file.Files.createTempDirectory("graft_admin_tf").toString
    try {
      // non-admin: the admin names are NOT REGISTERED (reference:
      // registered only for is_admin sessions) — GraftExtensions never
      // installs them, and no conf or SQL statement elevates a session
      val denied = intercept[Exception](Graft.query(spark, sfDir,
        s"SELECT * FROM materialize_partitions('log_stats', '$root')"))
      assert(denied.getMessage.toLowerCase.contains("materialize_partitions"))

      // host code with an authenticated admin registers explicitly —
      // the only elevation path, unreachable from SQL
      functions.ReferenceNames.registerAdmin(spark)
      // ...and it elevates that one session: a sibling built with the
      // same extensions still lacks the admin five
      val stillDenied = intercept[Exception](spark.newSession().sql(
        s"SELECT * FROM materialize_partitions('log_stats', '$root')"))
      assert(stillDenied.getMessage.toLowerCase.contains("materialize_partitions"))
      // materialize_partitions builds the day-partitioned lake
      val mat = Graft.query(spark, sfDir,
        s"SELECT * FROM materialize_partitions('log_stats', '$root')").head()
      assert(mat.getAs[Long]("rows_written") > 0)
      // list_partitions over the explicit root == the operator's listing
      val listed = Graft.query(spark, sfDir,
        s"SELECT * FROM list_partitions('$root') ORDER BY date").collect()
      val wantListed = operators.Materialize.listPartitions(spark, root)
        .orderBy("date").collect()
      assert(listed.map(_.toSeq).toSeq == wantListed.map(_.toSeq).toSeq && listed.nonEmpty)
      // ...and via the ambient conf root, no argument
      spark.conf.set(functions.ReferenceNames.PartitionRootKey, root)
      assert(Graft.query(spark, sfDir,
        "SELECT COUNT(*) AS n FROM list_partitions()").head().getLong(0) == listed.length.toLong)

      // retire_partition_by_file drops one file; regenerate repairs it
      val day = listed.head.getAs[String]("date")
      val dir = new java.io.File(s"$root/date=$day")
      val file = dir.listFiles().filter(_.getName.endsWith(".parquet")).head.getName
      val ret = Graft.query(spark, sfDir,
        s"SELECT * FROM retire_partition_by_file('$root', 'date=$day/$file')").head()
      assert(ret.getAs[Boolean]("retired"))
      val reg = Graft.query(spark, sfDir,
        s"SELECT * FROM regenerate_partitions('log_stats', '$root', '$day')").head()
      assert(reg.getAs[Long]("rows_written") > 0)

      // retire_partition_by_metadata: schemas all current → retires none
      val meta = Graft.query(spark, sfDir,
        s"SELECT COUNT(*) AS n FROM retire_partition_by_metadata('$root')").head()
      assert(meta.getLong(0) == 0L)

      // retire_partitions(before_date) with the ambient root retires
      // every day strictly before the last one
      val lastDay = listed.last.getAs[String]("date")
      val retired = Graft.query(spark, sfDir,
        s"SELECT * FROM retire_partitions('$lastDay')").head()
      assert(retired.getAs[Long]("days_retired") == (listed.length - 1).toLong)
      assert(operators.Materialize.listPartitions(spark, root).count() == 1L)
    } finally {
      spark.conf.unset(functions.ReferenceNames.PartitionRootKey)
      // de-register the admin five so the rest of the suite runs
      // against the non-admin surface again
      val ss = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
      Seq("retire_partitions", "materialize_partitions", "regenerate_partitions",
        "retire_partition_by_file", "retire_partition_by_metadata").foreach { n =>
        ss.tableFunctionRegistry.dropFunction(
          org.apache.spark.sql.catalyst.FunctionIdentifier(n)): Unit
      }
      val p = java.nio.file.Paths.get(root)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("doc: spans and otel_spans surfaces") {
    // README.md:802 (thread span columns), otel attribute surface
    val spans = Graft.query(spark, sfDir,
      """SELECT process_id, name, duration_ms FROM thread_spans
         WHERE duration_ms >= 0 ORDER BY duration_ms DESC LIMIT 10""").collect()
    assert(spans.length == 10)
    val otel = Graft.query(spark, sfDir,
      """SELECT trace_id, span_id, kind, status FROM otel_spans LIMIT 10""").collect()
    assert(otel.length == 10 && otel.forall(_.getAs[String]("trace_id").length == 32))
  }
}
