package graft

import graft.functions.Jsonb
import org.apache.spark.sql.functions._

/** jsonb_path_query_first across the wildcard shapes its contract
  * names (reference: rust/datafusion-extensions/src/jsonb/path_query.rs
  * — first match in document order). DuckDB ground truth:
  * `json_extract_string(j, path)[1]`.
  */
class JsonbSpec extends SparkSpec {
  import spark.implicits._

  private val doc =
    """{"a":1,"tags":["t0","t1"],"one":["solo"],"o":{"x":7,"y":"s","z":{"n":2}},"single":{"k":3}}"""

  private def first(path: String): Option[String] = {
    val r = Seq(doc).toDF("j").select(Jsonb.pathQueryFirst(col("j"), path)).head()
    Option(r.getString(0))
  }

  test("plain path passes through") {
    assert(first("$.a") === Some("1"))
    assert(first("$.missing") === None)
  }

  test("array wildcard: multi-match takes element 0, single match unwraps") {
    assert(first("$.tags[*]") === Some("t0"))
    assert(first("$.one[*]") === Some("solo")) // Spark unwraps 1-match sets
  }

  test("object wildcard: first value in document order, raw JSON for non-strings") {
    assert(first("$.o.*") === Some("7"))          // number → raw text
    assert(first("$.single.*") === Some("3"))     // single-key object
    assert(first("$.o.z.*") === Some("2"))        // nested prefix
    assert(first("$.missing.*") === None)         // absent prefix → null
  }

  test("jsonb_get: keys with spaces/dots/brackets resolve; unaddressable keys rejected") {
    val odd = """{"plain":1,"a key":2,"a.b":3,"a[0]":4,"it's":5}"""
    Seq(odd).toDF("j").createOrReplaceTempView("jb")
    def get(k: String): Option[String] = {
      val r = spark.sql(s"select jsonb_as_string(jsonb_get(jsonb_parse(j), '$k')) from jb").head()
      Option(r.getString(0))
    }
    assert(get("plain") === Some("1"))
    assert(get("a key") === Some("2"))
    assert(get("a.b") === Some("3"))   // bracket path: '.' is literal, not a step
    assert(get("a[0]") === Some("4"))
    assert(get("missing") === None)
    // ' has no escape in GetJsonObject's JsonPath grammar → loud error,
    // not a silently misread field (ADVICE r10)
    val e = intercept[Exception] {
      spark.sql("select jsonb_get(jsonb_parse(j), 'it\\'s') from jb").head()
    }
    assert(e.getMessage.contains("not addressable"), e.getMessage)
  }
}
