package graft.queries

import graft.functions.Colors
import graft.{GraftQuery, QuerySuite}
import graft.queries.{round => round} // DuckDB-compatible rounding (see package.scala)
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, MapType, StringType}

/** Properties and scalar functions (SURVEY §2 observability): property
  * access, the JSON/JSONB function family, colors and math UDFs.
  */
object Properties extends QuerySuite {

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery("m_property_get", (s, dir) => {
      events(s, dir).select(col("event_id"), col("event_type"),
          call_function("graft_property_get", col("props"), lit("k")).cast("int").as("k"))
        .orderBy("event_id")
    }, Some("""
      SELECT event_id, event_type,
        CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INTEGER) AS k
      FROM events ORDER BY event_id""")),

    GraftQuery("m_json_funcs", (s, dir) => {
      val e = events(s, dir)
      val k = get_json_object(col("props"), "$.k")
      e.select(col("event_type"), k.cast("long").as("k_i"), k.cast("double").as("k_f"))
        .groupBy("event_type")
        .agg(count(col("k_i")).as("n_k"),
          sum(col("k_i")).as("sum_k"),
          round(avg(col("k_f")), 4).as("avg_k"))
        .orderBy("event_type")
    }, Some("""
      SELECT event_type,
        CAST(count(k) AS BIGINT) AS n_k,
        CAST(sum(k) AS BIGINT) AS sum_k,
        round(avg(CAST(k AS DOUBLE)), 4) AS avg_k
      FROM (SELECT event_type, CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k FROM events)
      GROUP BY event_type ORDER BY event_type""")),

    GraftQuery("m_json_each", (s, dir) => {
      // jsonb_each shape: explode an object into (key, value) rows
      val e = table(s, dir, "events").where(col("event_id") < 2000)
      val parsed = from_json(col("props"), MapType(StringType, StringType))
      e.select(col("event_id"), explode(parsed).as(Seq("key", "value")))
        .orderBy("event_id", "key")
    }, Some("""
      SELECT event_id, u.k AS key,
        json_extract_string(props, '$.' || u.k) AS value
      FROM events, UNNEST(json_keys(props)) u(k)
      WHERE event_id < 2000
      ORDER BY event_id, key""")),

    GraftQuery("m_json_elements", (s, dir) => {
      // jsonb_array_elements shape: explode a JSON array with ordinality
      val e = table(s, dir, "events").where(col("event_id") < 2000)
      val k = get_json_object(col("props"), "$.k")
      val arr = concat(lit("["), k, lit(","), (col("event_id") % 5).cast("string"), lit(",7]"))
      e.select(col("event_id"),
          posexplode(from_json(arr, ArrayType(LongType))).as(Seq("idx", "elem")))
        .select(col("event_id"), col("idx").cast("long").as("idx"), col("elem"))
        .orderBy("event_id", "idx")
    }, Some("""
      WITH j AS (
        SELECT event_id,
          '[' || regexp_extract(props, '"k": ([0-9]+)', 1) || ',' ||
          CAST(event_id % 5 AS VARCHAR) || ',7]' AS arr
        FROM events WHERE event_id < 2000)
      SELECT event_id, CAST(i.range AS BIGINT) AS idx,
        CAST(json_extract_string(arr, '$[' || CAST(i.range AS VARCHAR) || ']') AS BIGINT) AS elem
      FROM j CROSS JOIN range(0, 3) i
      ORDER BY event_id, idx""")),

    GraftQuery("m_json_path", (s, dir) => {
      // enrich the flat props into nested JSON, then exercise the
      // jsonb_get / path_query / array_length / object_keys family
      val e = events(s, dir).where(col("event_id") < 2000)
      val j = concat(lit("{\"k\":"), get_json_object(col("props"), "$.k"),
        lit(",\"tags\":[\""), col("event_type"), lit("\",\"x\"],\"nested\":{\"v\":"),
        (col("event_id") % 7).cast("string"), lit("}}"))
      e.select(col("event_id"), j.as("j"))
        .select(col("event_id"),
          get_json_object(col("j"), "$.nested.v").cast("long").as("nested_v"),
          json_array_length(get_json_object(col("j"), "$.tags")).cast("long").as("tags_len"),
          get_json_object(col("j"), "$.tags[0]").as("first_tag"),
          // jsonb_path_query_first: first result of a MULTI-match path,
          // a single-match wildcard (Spark unwraps the match-set array
          // there — the coalesce fallback this pins), and a plain path
          graft.functions.Jsonb.pathQueryFirst(col("j"), "$.tags[*]").as("first_of_tags"),
          graft.functions.Jsonb.pathQueryFirst(col("j"), "$.nested.*").as("first_of_nested"),
          graft.functions.Jsonb.pathQueryFirst(col("j"), "$.nested.v").as("first_nested"),
          array_join(json_object_keys(col("j")), ",").as("keys"))
        .orderBy("event_id")
    }, Some("""
      WITH e AS (
        SELECT event_id,
          '{"k":' || regexp_extract(props, '"k": ([0-9]+)', 1) ||
          ',"tags":["' || event_type || '","x"],"nested":{"v":' ||
          CAST(event_id % 7 AS VARCHAR) || '}}' AS j
        FROM events WHERE event_id < 2000)
      SELECT event_id,
        CAST(json_extract_string(j, '$.nested.v') AS BIGINT) AS nested_v,
        CAST(json_array_length(j, '$.tags') AS BIGINT) AS tags_len,
        json_extract_string(j, '$.tags[0]') AS first_tag,
        json_extract_string(j, '$.tags[*]')[1] AS first_of_tags,
        json_extract_string(j, '$.nested.*')[1] AS first_of_nested,
        json_extract_string(j, '$.nested.v') AS first_nested,
        array_to_string(json_keys(j), ',') AS keys
      FROM e ORDER BY event_id""")),

    GraftQuery("m_props_jsonb", (s, dir) => {
      // properties_to_jsonb / property_get / properties_length shape:
      // normalize the properties into canonical JSON + basic accessors
      val e = events(s, dir)
      val parsed = from_json(col("props"), org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.IntegerType))
      e.select(col("event_id"),
          to_json(parsed).as("props_jsonb"),
          size(map_keys(parsed)).cast("long").as("n_props"),
          array_join(map_keys(parsed), ",").as("prop_keys"))
        .orderBy("event_id")
    }, Some("""
      SELECT event_id,
        CAST(json(props) AS VARCHAR) AS props_jsonb,
        CAST(len(json_keys(props)) AS BIGINT) AS n_props,
        array_to_string(json_keys(props), ',') AS prop_keys
      FROM events ORDER BY event_id""")),

    GraftQuery("m_props_array", (s, dir) => {
      // properties_to_array / properties_length / jsonb_format_json
      // family (properties_udf.rs:76,147, format_json.rs:37): flat
      // properties → sorted key=value entry array + canonical JSON.
      // Props are enriched to a 3-key map first (the raw table is
      // single-key, which wouldn't exercise ordering).
      val e = events(s, dir).where(col("event_id") < 2000)
      val m = map(
        lit("k"), get_json_object(col("props"), "$.k"),
        lit("type"), col("event_type"),
        lit("m7"), (col("event_id") % 7).cast("string"))
      e.select(col("event_id"),
          size(map_keys(m)).cast("long").as("n_props"),
          array_join(sort_array(transform(map_entries(m),
            ent => concat(ent.getField("key"), lit("="), ent.getField("value")))), ",").as("kv"),
          to_json(m).as("props_json"))
        .orderBy("event_id")
    }, Some("""
      WITH e AS (
        SELECT event_id,
          regexp_extract(props, '"k": ([0-9]+)', 1) AS kv_k,
          event_type AS kv_type,
          CAST(event_id % 7 AS VARCHAR) AS kv_m7
        FROM events WHERE event_id < 2000)
      SELECT event_id,
        CAST(3 AS BIGINT) AS n_props,
        'k=' || kv_k || ',m7=' || kv_m7 || ',type=' || kv_type AS kv,
        '{"k":"' || kv_k || '","type":"' || kv_type || '","m7":"' || kv_m7 || '"}' AS props_json
      FROM e ORDER BY event_id""")),

    GraftQuery("m_props_dict", (s, dir) => {
      // property-set dictionary encoding (reference: rust/analytics/
      // src/properties/property_set_jsonb_dictionary_builder.rs —
      // identical property sets are stored ONCE and rows reference
      // them by dictionary index). The relational formulation: the
      // dictionary is the distinct props values with dense ids in
      // first-appearance order (min event_id), plus the reference
      // count each entry carries. The global window runs over the
      // DICTIONARY (bounded by construction — distinct property
      // sets, the very thing dictionary encoding exploits), never
      // over event rows; the reference's builder is likewise
      // per-block bounded.
      val e = events(s, dir)
      val dict = e.groupBy("props")
        .agg(min("event_id").as("first_event_id"), count(lit(1)).as("n_rows"))
      dict.withColumn("props_id",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy("first_event_id")).cast("long"))
        .select("props_id", "props", "first_event_id", "n_rows")
        .orderBy("props_id")
    }, Some("""
      WITH d AS (
        SELECT props, MIN(event_id) AS first_event_id, COUNT(*) AS n_rows
        FROM events GROUP BY props)
      SELECT ROW_NUMBER() OVER (ORDER BY first_event_id) AS props_id,
        props, first_event_id, CAST(n_rows AS BIGINT) AS n_rows
      FROM d ORDER BY props_id""")),

    GraftQuery("m_color_funcs", (s, dir) => {
      val e = events(s, dir).where(col("event_id") < 2000)
      val t = least(greatest(col("value") / lit(500.0), lit(0.0)), lit(1.0))
      val red = Colors.rgba(lit(1.0), lit(0.0), lit(0.0), lit(1.0))
      val blue = Colors.rgba(lit(0.0), lit(0.0), lit(1.0), lit(1.0))
      e.select(col("event_id"),
          red.as("c_red"),
          Colors.lerpColor(red, blue, t).as("c_lerp"),
          Colors.colorScaleViridis(t, lit(1.0)).as("c_viridis"))
        .orderBy("event_id")
    }, Some("""
      WITH e AS (
        SELECT event_id, LEAST(GREATEST(value/500.0, 0.0), 1.0) AS t FROM events
        WHERE event_id < 2000),
      seg AS (
        SELECT event_id, t,
          LEAST(CAST(FLOOR(t*8.0) AS BIGINT), 7) AS sg
        FROM e),
      chan AS (
        SELECT event_id, t, sg, t*8.0 - CAST(sg AS DOUBLE) AS fr,
          [68,72,62,49,38,31,53,109,253] AS vr,
          [1,40,74,104,130,158,183,205,231] AS vg,
          [84,120,137,142,142,137,121,89,37] AS vb
        FROM seg)
      SELECT event_id,
        CAST(4278190335 AS BIGINT) AS c_red,
        (CAST(FLOOR(LEAST(GREATEST(255.0 + (0.0-255.0)*t + 0.5, 0.0), 255.0)) AS BIGINT) * 16777216
         + 0 * 65536
         + CAST(FLOOR(LEAST(GREATEST(0.0 + (255.0-0.0)*t + 0.5, 0.0), 255.0)) AS BIGINT) * 256
         + 255) AS c_lerp,
        (CAST(FLOOR(LEAST(GREATEST(CAST(vr[sg+1] AS DOUBLE) + (CAST(vr[sg+2] AS DOUBLE)-CAST(vr[sg+1] AS DOUBLE))*fr + 0.5, 0.0), 255.0)) AS BIGINT) * 16777216
         + CAST(FLOOR(LEAST(GREATEST(CAST(vg[sg+1] AS DOUBLE) + (CAST(vg[sg+2] AS DOUBLE)-CAST(vg[sg+1] AS DOUBLE))*fr + 0.5, 0.0), 255.0)) AS BIGINT) * 65536
         + CAST(FLOOR(LEAST(GREATEST(CAST(vb[sg+1] AS DOUBLE) + (CAST(vb[sg+2] AS DOUBLE)-CAST(vb[sg+1] AS DOUBLE))*fr + 0.5, 0.0), 255.0)) AS BIGINT) * 256
         + 255) AS c_viridis
      FROM chan ORDER BY event_id""")),

    GraftQuery("m_math_funcs", (s, dir) => {
      // lerp/unlerp/bin_center (reference: datafusion-extensions/src/math, binning)
      val e = events(s, dir).where(col("event_id") < 1000)
      val v = col("value")
      val lerp = lit(10.0) + (lit(20.0) - lit(10.0)) * (v / lit(500.0))
      val unlerp = (v - lit(0.0)) / (lit(500.0) - lit(0.0))
      val binIdx = least(greatest(floor(v / lit(10.0)).cast("long"), lit(0L)), lit(49L))
      val binCenter = lit(0.0) + (binIdx.cast("double") + lit(0.5)) * lit(10.0)
      e.select(col("event_id"),
          round(lerp, 6).as("lerp_v"),
          round(unlerp, 6).as("unlerp_v"),
          round(binCenter, 4).as("bin_center"))
        .orderBy("event_id")
    }, Some("""
      SELECT event_id,
        round(10.0 + (20.0 - 10.0) * (value / 500.0), 6) AS lerp_v,
        round((value - 0.0) / (500.0 - 0.0), 6) AS unlerp_v,
        round(0.0 + (CAST(LEAST(GREATEST(CAST(FLOOR(value/10.0) AS BIGINT), 0), 49) AS DOUBLE) + 0.5) * 10.0, 4) AS bin_center
      FROM events WHERE event_id < 1000 ORDER BY event_id"""))
  )
}
