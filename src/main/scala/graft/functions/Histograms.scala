package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Column-level histogram API.
  *
  * `make_histogram` / `sum_histograms` are custom Catalyst aggregates
  * (see [[HistogramAgg]]) that the session's [[GraftExtensions]]
  * installs; they are invoked via `call_function`, so they work from both the DataFrame API
  * and `spark.sql`. The accessors below are pure compositions of
  * built-in (codegen'd) expressions — no UDFs.
  *
  * Reference semantics: rust/datafusion-extensions/src/histogram/.
  */
object Histograms {

  /** Aggregate: build a histogram struct {start,end,sum,sum_sq,count,bins}. */
  def makeHistogram(start: Double, end: Double, nbBins: Int, value: Column): Column =
    call_function("graft_make_histogram", lit(start), lit(end), lit(nbBins), value.cast("double"))

  /** Aggregate: merge histogram structs (minute→hour rollups etc.). */
  def sumHistograms(histo: Column): Column =
    call_function("graft_sum_histograms", histo)

  def countFromHistogram(h: Column): Column = h.getField("count")

  def sumFromHistogram(h: Column): Column = h.getField("sum")

  /** Sample variance from exact moments, matching
    * variance_from_histogram (reference variance.rs:10-13):
    * ((sum_sq/n) - mean^2) * n/(n-1).
    */
  def varianceFromHistogram(h: Column): Column = {
    val n = h.getField("count").cast("double")
    val mean = h.getField("sum") / n
    ((h.getField("sum_sq") / n) - mean * mean) * (n / (n - lit(1.0)))
  }

  /** Linear-interpolated quantile estimate from the bins, exactly the
    * reference's walk (quantile.rs:15-41), expressed as a codegen'd
    * `aggregate` (fold) over the bins array — no UDF, no collect.
    */
  def quantileFromHistogram(h: Column, ratio: Double): Column = {
    val bins = h.getField("bins")
    val start = h.getField("start")
    val end = h.getField("end")
    val qc = h.getField("count").cast("double") * lit(ratio)
    val width = (end - start) / size(bins).cast("double")
    val zero = struct(
      lit(0.0).as("i"), lit(0.0).as("cum"), lit(-1.0).as("idx"),
      lit(0.0).as("cumBefore"), lit(0.0).as("cnt"))
    val folded = aggregate(bins, zero, (acc, x) => {
      val xd = x.cast("double")
      val newCum = acc.getField("cum") + xd
      val hit = acc.getField("idx") < lit(0.0) && newCum >= qc && xd > lit(0.0)
      struct(
        (acc.getField("i") + lit(1.0)).as("i"),
        newCum.as("cum"),
        when(hit, acc.getField("i")).otherwise(acc.getField("idx")).as("idx"),
        when(hit, acc.getField("cum")).otherwise(acc.getField("cumBefore")).as("cumBefore"),
        when(hit, xd).otherwise(acc.getField("cnt")).as("cnt"))
    })
    val idx = folded.getField("idx")
    val bucketRatio = (qc - folded.getField("cumBefore")) / folded.getField("cnt")
    val beginBucket = start + idx * width
    val endBucket = start + (idx + lit(1.0)) * width
    when(idx < lit(0.0), end)
      .otherwise((lit(1.0) - bucketRatio) * beginBucket + bucketRatio * endBucket)
  }

  /** Expand a histogram column into rows (bin_idx, bin_center, count) —
    * the expand_histogram table function (reference expand.rs), done the
    * Spark way with posexplode.
    */
  def expand(df: DataFrame, h: Column, extraCols: Seq[Column]): DataFrame = {
    val width = (h.getField("end") - h.getField("start")) / size(h.getField("bins")).cast("double")
    df.select(extraCols :+ h.getField("start").as("__start") :+ width.as("__width") :+
        posexplode(h.getField("bins")).as(Seq("bin_idx", "count")): _*)
      .withColumn("bin_center", col("__start") + (col("bin_idx").cast("double") + lit(0.5)) * col("__width"))
      .drop("__start", "__width")
  }
}
