package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One operator exposed through the driver contract: a Spark
  * implementation plus (when SQL-expressible) a DuckDB oracle that must
  * produce byte-identical rows on the same parquet inputs.
  *
  * `headline` marks queries included in the Bench timing loop.
  */
final case class GraftQuery(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    headline: Boolean = false)

/** A domain suite of [[GraftQuery]]s; [[SparkEntry]] lists every suite once. */
trait QuerySuite {
  def queries: Seq[GraftQuery]
}
