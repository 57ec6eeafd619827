package graft

import org.apache.spark.sql.functions._

class PropertyGetSpec extends SparkSpec {
  import spark.implicits._

  private def get(json: String, key: String): String = {
    Seq(json).toDF("j")
      .select(call_function("graft_property_get", col("j"), lit(key)))
      .head().getString(0)
  }

  test("numeric, string, spaced, and missing keys") {
    assert(get("""{"k": 87}""", "k") === "87")
    assert(get("""{"a":"x","k":"hello world"}""", "k") === "hello world")
    assert(get("""{ "k" :  -3.5 , "z": 1}""", "k") === "-3.5")
    assert(get("""{"k": 87}""", "missing") === null)
    assert(get("""{"kk": 1, "k": 2}""", "k") === "2")
    assert(get("""{"s": "has \" quote"}""", "s") === "has \" quote")
    assert(get("""{"o": {"n": 1}}""", "o") === null) // nested: out of scope
  }

  test("quote/escape-aware scan: key-shaped text inside a value never matches") {
    assert(get("""{"msg":"see \"k\": 1","k":2}""", "k") === "2")
    assert(get("""{"msg":"see \"k\": 1"}""", "k") === null)
    assert(get("""{"a":"\"x\": 9","x":"real"}""", "x") === "real")
  }

  test("decodes standard JSON escapes") {
    assert(get("""{"k":"a\nb"}""", "k") === "a\nb")
    assert(get("""{"k":"a\tb\r"}""", "k") === "a\tb\r")
    assert(get("{\"k\":\"A\\u00e9\"}", "k") === "Aé") // \uXXXX decoding
    assert(get("""{"k":"back\\slash"}""", "k") === "back\\slash")
    assert(get("""{"k":"sl\/ash"}""", "k") === "sl/ash")
  }

  test("ASCII-case-insensitive key match (reference eq_ignore_ascii_case)") {
    assert(get("""{"Key": 1}""", "key") === "1")
    assert(get("""{"KEY": "v"}""", "kEy") === "v")
  }

  test("skips nested values and continues to later keys") {
    assert(get("""{"o": {"k": "inner", "a": [1,2]}, "k": "outer"}""", "k") === "outer")
    assert(get("""{"arr": [ {"k": 0}, "s\"t" ], "k": 7}""", "k") === "7")
  }

  test("malformed input returns null") {
    assert(get("""not json""", "k") === null)
    assert(get("""{"k": "unterminated""", "k") === null)
    assert(get("""[1,2,3]""", "k") === null)
  }

  test("matches get_json_object over the events table") {
    val e = Tables.df(spark, sfDir, "events")
    val diff = e.select(
        call_function("graft_property_get", col("props"), lit("k")).as("a"),
        get_json_object(col("props"), "$.k").as("b"))
      .where(!(col("a") <=> col("b"))).count()
    assert(diff === 0L)
  }
}
