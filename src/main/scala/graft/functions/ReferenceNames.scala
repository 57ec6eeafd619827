package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, GetJsonObject, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

/** The reference engine's OWN SQL names, registered over graft's
  * expressions — so a user migrating from the reference can paste the
  * function calls from its query guide (reference:
  * doc/how_to_query/README.md §Functions — `property_get`,
  * `make_histogram`, `sum_histograms`, `quantile_from_histogram`,
  * `variance_from_histogram`, `count_from_histogram`,
  * `sum_from_histogram`, the `jsonb_*` family, and the
  * `view_instance(view, id)` table function) and have them resolve
  * unchanged. Aliases only: each name binds the expression tree the
  * graft-prefixed name already uses, so the oracle-checked semantics
  * are shared, never forked.
  *
  * Representation note: the reference's JSONB is an engine-native
  * binary format; here the properties/JSON columns ARE JSON text, so
  * `jsonb_parse`/`jsonb_format_json` are identity over that text and
  * the accessor family evaluates against it — same observable
  * semantics (`jsonb_as_string(jsonb_get(jsonb_parse(p), 'k'))` returns
  * what the reference returns), different wire format.
  */
object ReferenceNames {

  /** A string the caller must supply as a foldable literal (function
    * names, JSON paths — things the reference also requires constant).
    */
  private def litString(e: Expression, fn: String): String = e match {
    case l: Literal if l.foldable && l.value != null => l.value.toString
    case other => throw new IllegalArgumentException(
      s"$fn expects a constant string argument, got: $other")
  }

  private def litDouble(e: Expression, fn: String): Double = e match {
    case l: Literal if l.foldable && l.value != null => l.value.toString.toDouble
    case other => throw new IllegalArgumentException(
      s"$fn expects a constant numeric argument, got: $other")
  }

  /** Column-helper bridge: apply a Column function to expression args. */
  private def viaColumn(f: Seq[org.apache.spark.sql.Column] => org.apache.spark.sql.Column)(
      args: Seq[Expression]): Expression =
    Shim.expression(f(args.map(Shim.column)))

  private val graftBuilders = GraftFunctions.builders.toMap

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "property_get" -> graftBuilders("graft_property_get"),
    "make_histogram" -> graftBuilders("graft_make_histogram"),
    "sum_histograms" -> graftBuilders("graft_sum_histograms"),
    "quantile_from_histogram" -> { args =>
      require(args.length == 2, "quantile_from_histogram(histogram, quantile)")
      val q = litDouble(args(1), "quantile_from_histogram")
      viaColumn(cs => Histograms.quantileFromHistogram(cs.head, q))(args.take(1))
    },
    "variance_from_histogram" -> { args =>
      require(args.length == 1, "variance_from_histogram(histogram)")
      viaColumn(cs => Histograms.varianceFromHistogram(cs.head))(args)
    },
    "count_from_histogram" -> { args =>
      require(args.length == 1, "count_from_histogram(histogram)")
      viaColumn(cs => Histograms.countFromHistogram(cs.head))(args)
    },
    "sum_from_histogram" -> { args =>
      require(args.length == 1, "sum_from_histogram(histogram)")
      viaColumn(cs => Histograms.sumFromHistogram(cs.head))(args)
    },
    // jsonb family over JSON text (see representation note above)
    "jsonb_parse" -> { args =>
      require(args.length == 1, "jsonb_parse(json_string)")
      Cast(args(0), StringType)
    },
    "jsonb_format_json" -> { args =>
      require(args.length == 1, "jsonb_format_json(jsonb)")
      Cast(args(0), StringType)
    },
    "jsonb_get" -> { args =>
      require(args.length == 2, "jsonb_get(jsonb, key)")
      val key = litString(args(1), "jsonb_get")
      // GetJsonObject's JsonPath grammar has no escape syntax inside
      // ['…'] — the name token excludes ' and ?, so a key containing
      // them either silently changes which field is read or nulls the
      // whole lookup. The reference's jsonb_get is a byte-exact key
      // lookup for ANY key; since that's not addressable via JsonPath,
      // reject loudly instead of misreading (ADVICE r10).
      require(!key.exists(c => c == '\'' || c == '\\' || c == '?'),
        s"jsonb_get: key containing ', \\ or ? is not addressable via " +
          s"GetJsonObject's JsonPath grammar (no escape syntax): '$key'")
      GetJsonObject(args(0), Literal(s"$$['$key']"))
    },
    "jsonb_as_string" -> { args =>
      require(args.length == 1, "jsonb_as_string(jsonb_value)")
      Cast(args(0), StringType)
    },
    "jsonb_as_f64" -> { args =>
      require(args.length == 1, "jsonb_as_f64(jsonb_value)")
      Cast(args(0), DoubleType)
    },
    "jsonb_as_i64" -> { args =>
      require(args.length == 1, "jsonb_as_i64(jsonb_value)")
      Cast(args(0), LongType)
    },
    "jsonb_path_query_first" -> { args =>
      require(args.length == 2, "jsonb_path_query_first(jsonb, path)")
      val path = litString(args(1), "jsonb_path_query_first")
      viaColumn(cs => Jsonb.pathQueryFirst(cs.head, path))(args.take(1))
    },
    "jsonb_path_query" -> { args =>
      require(args.length == 2, "jsonb_path_query(jsonb, path)")
      val path = litString(args(1), "jsonb_path_query")
      viaColumn(cs => Jsonb.pathQuery(cs.head, path))(Seq(Cast(args(0), StringType)))
    },
    "jsonb_array_length" -> { args =>
      require(args.length == 1, "jsonb_array_length(jsonb)")
      // reference array_length.rs returns Int64
      viaColumn(cs => org.apache.spark.sql.functions.json_array_length(cs.head).cast("long"))(
        Seq(Cast(args(0), StringType)))
    },
    "jsonb_object_keys" -> { args =>
      require(args.length == 1, "jsonb_object_keys(jsonb)")
      // reference keys.rs: the object's keys; served as a native
      // array<string> (the Spark-idiomatic form of a jsonb string array)
      viaColumn(cs => org.apache.spark.sql.functions.json_object_keys(cs.head))(
        Seq(Cast(args(0), StringType)))
    },
    // —— properties family (reference datafusion-extensions properties/
    // + analytics/src/properties/properties_to_{jsonb,dict}_udf.rs).
    // Properties here ARE JSON text (representation note above), so the
    // jsonb/dict conversions are identity over that text: the
    // reference's dictionary encoding is a physical-layout optimization
    // (identical property sets stored once) with no observable query
    // semantics, and the jsonb conversion is a wire-format change. The
    // accessor compositions users write — property_get(...),
    // jsonb_get(properties_to_jsonb(p), 'k') — evaluate identically.
    "properties_to_jsonb" -> { args =>
      require(args.length == 1, "properties_to_jsonb(properties)")
      Cast(args(0), StringType)
    },
    "properties_to_dict" -> { args =>
      require(args.length == 1, "properties_to_dict(properties)")
      Cast(args(0), StringType)
    },
    "properties_to_array" -> { args =>
      require(args.length == 1, "properties_to_array(properties)")
      // list<struct<key,value>> in property appearance order
      // (properties_udf.rs:76 PropertiesToArray)
      viaColumn { cs =>
        import org.apache.spark.sql.functions._
        map_entries(from_json(cs.head, org.apache.spark.sql.types.MapType(StringType, StringType)))
      }(Seq(Cast(args(0), StringType)))
    },
    "properties_length" -> { args =>
      require(args.length == 1, "properties_length(properties)")
      viaColumn { cs =>
        import org.apache.spark.sql.functions._
        size(map_keys(from_json(cs.head,
          org.apache.spark.sql.types.MapType(StringType, StringType)))).cast("long")
      }(Seq(Cast(args(0), StringType)))
    },
    // —— math/binning family (reference datafusion-extensions/src/math/
    // lerp.rs, unlerp.rs + binning/bin_center.rs; all Float64→Float64,
    // null-propagating — Spark's default null semantics match, and
    // double division by zero yields ±Infinity/NaN in both engines)
    "lerp" -> { args =>
      require(args.length == 3, "lerp(a, b, t)")
      viaColumn(cs => cs(0) + (cs(1) - cs(0)) * cs(2))(args.map(Cast(_, DoubleType)))
    },
    "unlerp" -> { args =>
      require(args.length == 3, "unlerp(a, b, x)")
      viaColumn(cs => (cs(2) - cs(0)) / (cs(1) - cs(0)))(args.map(Cast(_, DoubleType)))
    },
    "bin_center" -> { args =>
      require(args.length == 2, "bin_center(coord, cell_size)")
      // bin_center.rs:82 — ((c + cs*0.5)/cs).floor() * cs
      viaColumn { cs =>
        import org.apache.spark.sql.functions._
        floor((cs(0) + cs(1) * lit(0.5)) / cs(1)) * cs(1)
      }(args.map(Cast(_, DoubleType)))
    },
    // —— color family (reference datafusion-extensions/src/color/;
    // packed 0xRRGGBBAA — BIGINT here, the reference's UInt32 doesn't
    // fit a signed int, Colors.scala representation note)
    "rgba" -> { args =>
      require(args.length == 4, "rgba(r, g, b, a)")
      viaColumn(cs => Colors.rgba(cs(0), cs(1), cs(2), cs(3)))(args.map(Cast(_, DoubleType)))
    },
    "lerp_color" -> { args =>
      require(args.length == 3, "lerp_color(c1, c2, t)")
      viaColumn(cs => Colors.lerpColor(cs(0), cs(1), cs(2)))(
        Seq(Cast(args(0), LongType), Cast(args(1), LongType), Cast(args(2), DoubleType)))
    },
    "color_scale" -> { args =>
      require(args.length == 3, "color_scale(name, t, alpha)")
      val name = litString(args(0), "color_scale")
      require(name.equalsIgnoreCase("viridis"),
        s"color_scale: colormap '$name' is not implemented here — 'viridis' is " +
          "(the reference recognizes viridis, magma, plasma, inferno, cividis, " +
          "turbo; color_scale.rs:15)")
      viaColumn(cs => Colors.colorScaleViridis(cs(0), cs(1)))(
        Seq(Cast(args(1), DoubleType), Cast(args(2), DoubleType)))
    })

  /** `view_instance(view_name, instance_id)` — the reference's JIT
    * per-process/per-stream view table function (reference:
    * rust/analytics/src/lakehouse/view_instance_table_function.rs;
    * doc/how_to_query/README.md §view_instance). Resolves against the
    * lake dir the session's views were registered for (Graft.query /
    * registerViews), the same session-scoped resolution the reference's
    * FlightSQL service applies. The instance scope is pushed to the raw
    * source column so it prunes at the parquet reader
    * (Lakehouse.viewInstance).
    */
  def viewInstanceBuilder(spark: SparkSession)(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 2, "view_instance(view_name, instance_id)")
    val view = litString(args(0), "view_instance")
    val id = litString(args(1), "view_instance")
    val dir = graft.Graft.registeredDir(spark).getOrElse(throw new IllegalStateException(
      "view_instance: no lake registered on this session — call Graft.query/registerViews first"))
    new graft.Lakehouse(spark, dir).viewInstance(view, id).queryExecution.logical
  }

  /** `get_payload(process_id, stream_id, block_id)` — the reference's
    * raw-block-payload fetch (reference:
    * rust/analytics/src/lakehouse/get_payload_function.rs — a scalar
    * (Utf8, Utf8, Utf8) → Binary UDF doing one object-store GET per
    * row). Served here as a TABLE function over literal ids: the
    * reference's scalar form exists so one block's bytes can be
    * SELECTed by id, and per-row blob fetches inside a projection are
    * exactly what a distributed plan shouldn't do — the relational
    * bulk form is `Lakehouse.blockPayloads`. The plan filters the raw
    * scan on the process/stream ids (prunes at the parquet reader,
    * like view_instance) and synthesizes the block's payload bytes
    * (same deterministic synthesis as the oracle-checked
    * m_block_payload — shared code, never forked).
    */
  def getPayloadBuilder(spark: SparkSession)(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 3, "get_payload(process_id, stream_id, block_id)")
    val pid = litString(args(0), "get_payload")
    val stream = litString(args(1), "get_payload")
    val block = litString(args(2), "get_payload")
    require(block.forall(c => c.isDigit || c == '-'),
      s"get_payload: block_id is the block's start epoch-ms here, got: '$block'")
    val dir = graft.Graft.registeredDir(spark).getOrElse(throw new IllegalStateException(
      "get_payload: no lake registered on this session — call Graft.query/registerViews first"))
    new graft.Lakehouse(spark, dir).getPayload(pid, stream, block.toLong)
      .queryExecution.logical
  }

  /** `jsonb_each(jsonb)` / `jsonb_array_elements(jsonb)` — the
    * reference's jsonb generator table functions (reference
    * datafusion-extensions/src/jsonb/each.rs:79 — (key Utf8, value
    * jsonb) rows — and array_elements.rs:75 — (value jsonb) rows;
    * both registered as UDTFs in lib.rs). DataFusion UDTFs take
    * constant arguments, so the verbatim form serves a literal JSON
    * document; the per-ROW generator idiom in Spark is `LATERAL VIEW
    * explode(...)` over the same from_json trees (the oracle-checked
    * m_jsonb_each / m_jsonb_elements queries). Values come through
    * the string converter — the same jsonb_as_string view the scalar
    * family serves.
    */
  def jsonbEachBuilder(spark: SparkSession)(args: Seq[Expression]): LogicalPlan = {
    import org.apache.spark.sql.functions._
    require(args.length == 1, "jsonb_each(jsonb)")
    val j = litString(args(0), "jsonb_each")
    spark.range(1)
      .select(explode(from_json(lit(j),
        org.apache.spark.sql.types.MapType(StringType, StringType))))
      .select("key", "value")
      .queryExecution.logical
  }

  def jsonbArrayElementsBuilder(spark: SparkSession)(args: Seq[Expression]): LogicalPlan = {
    import org.apache.spark.sql.functions._
    require(args.length == 1, "jsonb_array_elements(jsonb)")
    val j = litString(args(0), "jsonb_array_elements")
    spark.range(1)
      .select(explode(from_json(lit(j),
        org.apache.spark.sql.types.ArrayType(StringType))).as("value"))
      .queryExecution.logical
  }

  /** `expand_histogram(histogram)` — the reference's histogram UDTF
    * (datafusion-extensions/src/histogram/expand.rs, registered in
    * lib.rs:58): one histogram — typically a scalar subquery over
    * `make_histogram` — expanded to (bin_center Float64, count) rows.
    * The row synthesis is [[Histograms.expand]], the operator the
    * oracle-checked `m_histo_expand` pins (shared, never forked); on
    * top of it this verbatim form adds the reference's two documented
    * edge cases: a NULL histogram expands to zero rows (posexplode of
    * null already does), and a zero-width range (start == end within
    * f64 epsilon) uses unit bin width (expand.rs:104-108).
    */
  def expandHistogramBuilder(spark: SparkSession)(args: Seq[Expression]): LogicalPlan = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.expressions.ScalarSubquery
    import org.apache.spark.sql.catalyst.plans.logical.{OneRowRelation, Project}
    import org.apache.spark.sql.catalyst.expressions.Alias
    require(args.length == 1, "expand_histogram(histogram)")
    args.head match {
      // a bare NULL literal expands to zero rows (expand.rs:92-94);
      // handled here because NullType has no `start`/`bins` fields to
      // resolve against. A null histogram VALUE from a subquery takes
      // the normal path — posexplode of a null array emits nothing.
      case l: Literal if l.value == null =>
        return spark.range(0)
          .select(org.apache.spark.sql.functions.lit(0.0).as("bin_center"),
            org.apache.spark.sql.functions.lit(0L).as("count"))
          .queryExecution.logical
      case _ => ()
    }
    val src = args.head match {
      // the documented usage: expand_histogram((SELECT make_histogram(...) FROM ...))
      case s: ScalarSubquery => Shim.ofRows(spark, s.plan)
      // any other expression: evaluate it once over a one-row relation,
      // exactly expand.rs's LogicalPlanBuilder::empty(true).project(expr)
      case other => Shim.ofRows(spark, Project(Seq(Alias(other, "h")()), OneRowRelation()))
    }
    require(src.schema.length == 1,
      s"expand_histogram: the argument must produce exactly one histogram column, " +
        s"got ${src.schema.length}")
    // the subquery's output column is often named after the aggregate
    // call ("make_histogram(0.0, …)") — dots and parens a col() lookup
    // would misparse; rename it
    val renamed = src.toDF("h")
    val h = col("h")
    val eps = lit(2.220446049250313e-16) // f64::EPSILON, expand.rs:104
    val zeroWidth = abs(h.getField("end") - h.getField("start")) < eps
    val width = when(zeroWidth, lit(1.0))
      .otherwise((h.getField("end") - h.getField("start")) / size(h.getField("bins")).cast("double"))
    renamed.select(h.getField("start").as("__start"), width.as("__width"),
        posexplode(h.getField("bins")).as(Seq("__idx", "count")))
      .select((col("__start") + (col("__idx").cast("double") + lit(0.5)) * col("__width"))
          .as("bin_center"),
        col("count").cast("long").as("count"))
      .queryExecution.logical
  }

  // -------------------------------------------------------------------
  // Remaining lakehouse table functions (reference query.rs:104-176):
  // list_partitions / list_view_sets / process_spans / parse_block /
  // perfetto_trace_chunks, plus the admin five behind is_admin.
  // Each name binds the operator the oracle-checked queries already
  // use — never a fork.
  // -------------------------------------------------------------------

  private def registeredLakeDir(spark: SparkSession, fn: String): String =
    graft.Graft.registeredDir(spark).getOrElse(throw new IllegalStateException(
      s"$fn: no lake registered on this session — call Graft.query/registerViews first"))

  /** Session conf naming the materialized-partition lake root. The
    * reference's partition store is ambient (its Postgres metadata DB);
    * here partition lakes are directories, so the ambient root is a
    * conf — or pass the root as the function's explicit first argument.
    */
  val PartitionRootKey = "spark.graft.partitionRoot"

  private def partitionRoot(spark: SparkSession, arg: Option[Expression],
      fn: String): String =
    arg.map(litString(_, fn)).orElse(
      Option(spark.conf.get(PartitionRootKey, null))).getOrElse(
      throw new IllegalStateException(
        s"$fn: no partition lake — pass a root path argument or set $PartitionRootKey"))

  /** `list_partitions([root])` — reference
    * list_partitions_table_function.rs: the lakehouse partition
    * inventory. Day-granular here ([[graft.operators.Materialize]]'s
    * update unit): (date, n_files, bytes) from a filesystem listing,
    * never a data read.
    */
  def listPartitionsBuilder(spark: SparkSession)(args: Seq[Expression]): LogicalPlan = {
    require(args.length <= 1, "list_partitions([lake_root])")
    val root = partitionRoot(spark, args.headOption, "list_partitions")
    graft.operators.Materialize.listPartitions(spark, root).queryExecution.logical
  }

  /** `list_view_sets()` — reference list_view_sets_table_function.rs:
    * one row per registered view set with its current schema hash and
    * schema. Schemas come from the views' PLANS (no execution); the
    * hash is [[graft.operators.Materialize.schemaHash]] — the same
    * hash the schema-version partition retirement keys on. `images` is
    * instance-only in the reference (images_view.rs bails on "global"),
    * hence global_instance_available = false for it.
    */
  def listViewSetsBuilder(spark: SparkSession)(args: Seq[Expression]): LogicalPlan = {
    require(args.isEmpty, "list_view_sets()")
    val lk = new graft.Lakehouse(spark, registeredLakeDir(spark, "list_view_sets"))
    val rows = lk.viewSets.map { name =>
      val schema = lk.viewInstance(name, "0").schema
      (name, graft.operators.Materialize.schemaHash(schema), schema.toDDL,
        true, name != "images")
    }
    spark.createDataFrame(rows).toDF("view_set_name", "current_schema_hash",
      "schema", "has_view_maker", "global_instance_available")
      .queryExecution.logical
  }

  /** `process_spans(process_id[, span_types])` — reference
    * process_spans_table_function.rs: one process's spans, thread
    * and/or async ('thread' default; 'async'; 'both'), served from the
    * same span assemblies the perfetto export encodes
    * (Lakehouse.perfettoThreadSpans / perfettoAsyncSpans — the
    * decoder-closed m_perfetto_* family). The process filter pushes
    * through the assembly to the raw scan like view_instance. The
    * reference's stream_id/thread_name dictionary columns have no
    * analog in the synthetic lake (processes are single-streamed);
    * span_type takes that discriminating role.
    */
  def processSpansBuilder(spark: SparkSession)(args: Seq[Expression]): LogicalPlan = {
    import org.apache.spark.sql.functions._
    require(args.nonEmpty && args.length <= 2, "process_spans(process_id[, span_types])")
    val pid = litString(args(0), "process_spans")
    val types = if (args.length > 1) litString(args(1), "process_spans") else "thread"
    require(Set("thread", "async", "both")(types),
      s"process_spans: span_types must be 'thread', 'async', or 'both', given: $types")
    val dir = registeredLakeDir(spark, "process_spans")
    def scoped(df: org.apache.spark.sql.DataFrame, t: String) =
      df.where(col("user_id").cast("string") === pid)
        .select(lit(t).as("span_type"), col("span_id").cast("long").as("span_id"),
          col("name"), col("depth").cast("long").as("depth"),
          col("begin_ms").cast("long").as("begin_ms"),
          col("end_ms").cast("long").as("end_ms"),
          (col("end_ms") - col("begin_ms")).cast("long").as("duration_ms"))
    val thread = scoped(graft.Lakehouse.perfettoThreadSpans(spark, dir), "thread")
    val async = scoped(graft.Lakehouse.perfettoAsyncSpans(spark, dir), "async")
    (types match {
      case "thread" => thread
      case "async" => async
      case _ => thread.unionAll(async)
    }).queryExecution.logical
  }

  /** `parse_block(block_id)` — reference
    * parse_block_table_function.rs: one block's payload parsed into
    * (object_index, type_name, value Binary) rows. The reference's
    * block_id is an opaque UUID from its metadata DB; blocks here are
    * keyed (process_id, stream_tag, block_start_ms) — the composite
    * 'process_id/stream_tag/block_start_ms' string is this engine's
    * block id (the same key get_payload takes as three args). The
    * payload is the deterministic synthesis the oracle-checked
    * m_block_payload pins (shared Lakehouse.getPayload — never
    * forked); objects are its newline-framed lines in block order.
    */
  def parseBlockBuilder(spark: SparkSession)(args: Seq[Expression]): LogicalPlan = {
    import org.apache.spark.sql.functions._
    require(args.length == 1, "parse_block(block_id)")
    val id = litString(args(0), "parse_block")
    val parts = id.split("/", -1)
    require(parts.length == 3 && parts(2).matches("-?\\d+") &&
      scala.util.Try(parts(2).toLong).isSuccess,
      s"parse_block: block_id is 'process_id/stream_tag/block_start_ms' here, got: '$id'")
    val lk = new graft.Lakehouse(spark, registeredLakeDir(spark, "parse_block"))
    lk.getPayload(parts(0), parts(1), parts(2).toLong)
      .select(posexplode(split(col("payload").cast("string"), "\n")))
      .select(col("pos").cast("long").as("object_index"),
        lit(parts(1)).as("type_name"),
        col("col").cast("binary").as("value"))
      .queryExecution.logical
  }

  /** `perfetto_trace_chunks(process_id, span_types, begin_ms, end_ms)`
    * — reference perfetto_trace_table_function.rs: streamable trace
    * chunks for one process over a time range, span_types ∈
    * {'thread', 'async', 'both'}. Chunks come from the SAME encoder as
    * the decoder-closed m_perfetto_chunks (Perfetto.traceChunksDf);
    * the range keeps spans OVERLAPPING [begin, end) — the reference's
    * block-overlap scoping. Timestamps are epoch-ms literals (this
    * lake's time unit).
    */
  def perfettoTraceChunksBuilder(spark: SparkSession)(args: Seq[Expression]): LogicalPlan = {
    import org.apache.spark.sql.functions._
    require(args.length == 4,
      "perfetto_trace_chunks(process_id, span_types, begin_ms, end_ms)")
    val pid = litString(args(0), "perfetto_trace_chunks")
    val types = litString(args(1), "perfetto_trace_chunks")
    require(Set("thread", "async", "both")(types),
      s"perfetto_trace_chunks: span_types must be 'thread', 'async', or 'both', given: $types")
    val begin = litDouble(args(2), "perfetto_trace_chunks").toLong
    val end = litDouble(args(3), "perfetto_trace_chunks").toLong
    val dir = registeredLakeDir(spark, "perfetto_trace_chunks")
    def scoped(df: org.apache.spark.sql.DataFrame) =
      df.where(col("user_id").cast("string") === pid &&
        col("end_ms") >= begin && col("begin_ms") < end)
    val thread = scoped(graft.Lakehouse.perfettoThreadSpans(spark, dir))
    val async = scoped(graft.Lakehouse.perfettoAsyncSpans(spark, dir))
    (types match {
      case "thread" => graft.operators.Perfetto.traceChunksDf(spark, thread, "user_id")
      case "async" =>
        graft.operators.Perfetto.traceChunksDf(spark, thread.where(lit(false)),
          "user_id", Some(async))
      case _ => graft.operators.Perfetto.traceChunksDf(spark, thread, "user_id", Some(async))
    }).queryExecution.logical
  }

  /** `retire_partitions(root, before_date)` — admin
    * (retire_partitions_table_function.rs). Day-granular retention
    * over the partition lake; returns the stats row the reference's
    * UDTF streams back. The action runs at PLAN time, like a Spark SQL
    * command — admin RPCs are commands, not scans.
    */
  def retirePartitionsBuilder(spark: SparkSession)(args: Seq[Expression]): LogicalPlan = {
    require(args.length <= 2, "retire_partitions([root,] before_date)")
    val (root, before) = args.length match {
      case 2 => (litString(args(0), "retire_partitions"), litString(args(1), "retire_partitions"))
      case _ => (partitionRoot(spark, None, "retire_partitions"),
        litString(args(0), "retire_partitions"))
    }
    val stats = graft.operators.Materialize.retireByDay(spark, root, before)
    spark.createDataFrame(Seq((before, stats.daysRetired)))
      .toDF("before_date", "days_retired").queryExecution.logical
  }

  /** `materialize_partitions(view_set, root)` — admin
    * (materialize_partitions_table_function.rs). Materializes the
    * named view set into the partition lake via the incremental
    * day-update (closed days untouched). `log_stats` is the
    * materializable set in this engine (the reference resolves the
    * name through its view factory the same way).
    */
  def materializePartitionsBuilder(spark: SparkSession)(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 2, "materialize_partitions(view_set_name, root)")
    val viewSet = litString(args(0), "materialize_partitions")
    require(viewSet == "log_stats",
      s"materialize_partitions: '$viewSet' is not materializable here — 'log_stats' is")
    val root = litString(args(1), "materialize_partitions")
    val lk = new graft.Lakehouse(spark, registeredLakeDir(spark, "materialize_partitions"))
    val stats = graft.operators.Materialize.updateByDay(spark, lk.logStats, root)
    spark.createDataFrame(Seq((viewSet, stats.daysRecomputed, stats.rowsWritten)))
      .toDF("view_set_name", "days_recomputed", "rows_written").queryExecution.logical
  }

  /** `regenerate_partitions(view_set, root, date)` — admin
    * (regenerate_partitions_table_function.rs): rebuild exactly one
    * day partition from source, the repair path after a by-file
    * retirement.
    */
  def regeneratePartitionsBuilder(spark: SparkSession)(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 3, "regenerate_partitions(view_set_name, root, date)")
    val viewSet = litString(args(0), "regenerate_partitions")
    require(viewSet == "log_stats",
      s"regenerate_partitions: '$viewSet' is not materializable here — 'log_stats' is")
    val root = litString(args(1), "regenerate_partitions")
    val date = litString(args(2), "regenerate_partitions")
    val lk = new graft.Lakehouse(spark, registeredLakeDir(spark, "regenerate_partitions"))
    val rows = graft.operators.Materialize.regenerateDay(spark, lk.logStats, root, date)
    spark.createDataFrame(Seq((viewSet, date, rows)))
      .toDF("view_set_name", "date", "rows_written").queryExecution.logical
  }

  /** `retire_partition_by_file(root, rel_path)` — admin
    * (retire_partition_by_file_udf.rs). The reference registers this
    * as a scalar UDF; a side-effecting scalar inside a distributed
    * projection is exactly what a Spark plan must not contain, so the
    * honest mapping is a one-row table function (command shape).
    */
  def retireByFileBuilder(spark: SparkSession)(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 2, "retire_partition_by_file(root, rel_path)")
    val root = litString(args(0), "retire_partition_by_file")
    val rel = litString(args(1), "retire_partition_by_file")
    val retired = graft.operators.Materialize.retireByFile(spark, root, rel)
    spark.createDataFrame(Seq((rel, retired)))
      .toDF("file_path", "retired").queryExecution.logical
  }

  /** `retire_partition_by_metadata(root)` — admin
    * (retire_partition_by_metadata_udf.rs). Metadata-keyed retirement:
    * drops exactly the partitions whose stored schema hash disagrees
    * with the current log_stats schema (the M49 schema-version
    * contract); returns the retired inventory.
    */
  def retireByMetadataBuilder(spark: SparkSession)(args: Seq[Expression]): LogicalPlan = {
    require(args.length <= 1, "retire_partition_by_metadata([root])")
    val root = partitionRoot(spark, args.headOption, "retire_partition_by_metadata")
    val lk = new graft.Lakehouse(spark, registeredLakeDir(spark, "retire_partition_by_metadata"))
    graft.operators.Materialize
      .retireIncompatiblePartitions(spark, root, lk.logStats.schema)
      .queryExecution.logical
  }

  /** Every non-admin table function, name → builder over its session.
    * [[GraftExtensions]] installs them, bound to the session active
    * when the call is resolved.
    */
  val tableFunctions: Seq[(String, SparkSession => Seq[Expression] => LogicalPlan)] = Seq(
    "view_instance" -> (viewInstanceBuilder(_)),
    "get_payload" -> (getPayloadBuilder(_)),
    "jsonb_each" -> (jsonbEachBuilder(_)),
    "jsonb_array_elements" -> (jsonbArrayElementsBuilder(_)),
    "expand_histogram" -> (expandHistogramBuilder(_)),
    "list_partitions" -> (listPartitionsBuilder(_)),
    "list_view_sets" -> (listViewSetsBuilder(_)),
    "process_spans" -> (processSpansBuilder(_)),
    "parse_block" -> (parseBlockBuilder(_)),
    "perfetto_trace_chunks" -> (perfettoTraceChunksBuilder(_)))

  /** Register the admin five (retire/materialize/regenerate_partitions,
    * retire_partition_by_file/by_metadata) on an ADMIN session — the
    * reference's `is_admin` gate (query.rs:150-176: the admin table
    * functions are registered only after its server authenticated the
    * caller). [[GraftExtensions]] never installs them, and the SQL
    * surface has no path to this call: a session is admin only when
    * host code that has authenticated an admin out-of-band calls it.
    */
  def registerAdmin(spark: SparkSession): Unit = {
    val ss = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    ss.tableFunctionRegistry.createOrReplaceTempFunction(
      "retire_partitions", retirePartitionsBuilder(spark), "scala_udf")
    ss.tableFunctionRegistry.createOrReplaceTempFunction(
      "materialize_partitions", materializePartitionsBuilder(spark), "scala_udf")
    ss.tableFunctionRegistry.createOrReplaceTempFunction(
      "regenerate_partitions", regeneratePartitionsBuilder(spark), "scala_udf")
    ss.tableFunctionRegistry.createOrReplaceTempFunction(
      "retire_partition_by_file", retireByFileBuilder(spark), "scala_udf")
    ss.tableFunctionRegistry.createOrReplaceTempFunction(
      "retire_partition_by_metadata", retireByMetadataBuilder(spark), "scala_udf")
  }
}
