package graft

import graft.functions.Histograms
import org.apache.spark.sql.functions._

class HistogramSpec extends SparkSpec {
  import spark.implicits._

  private def histo(values: Seq[Double], start: Double = 0.0, end: Double = 10.0, bins: Int = 5) =
    values.toDF("v").agg(Histograms.makeHistogram(start, end, bins, col("v")).as("h"))

  test("make_histogram bins, moments and clamping") {
    // -1 clamps into bin 0; 99 clamps into the last bin (reference accumulator semantics)
    val row = histo(Seq(-1.0, 0.5, 1.0, 2.5, 5.0, 9.9, 99.0))
      .select(col("h.count"), col("h.sum"), col("h.sum_sq"), col("h.bins")).head()
    assert(row.getLong(0) === 7L)
    assert(math.abs(row.getDouble(1) - 116.9) < 1e-9)
    assert(row.getSeq[Long](3) === Seq(3L, 1L, 1L, 0L, 2L))
  }

  test("sum_histograms merge equals direct histogram") {
    val df = Seq.tabulate(100)(i => (i % 4, i.toDouble % 17)).toDF("g", "v")
    val direct = df.agg(Histograms.makeHistogram(0, 20, 10, col("v")).as("h"))
      .select(col("h.bins")).head().getSeq[Long](0)
    val merged = df.groupBy("g").agg(Histograms.makeHistogram(0, 20, 10, col("v")).as("h"))
      .agg(Histograms.sumHistograms(col("h")).as("h"))
      .select(col("h.bins")).head().getSeq[Long](0)
    assert(direct === merged)
  }

  test("quantile_from_histogram matches the reference walk") {
    // 100 uniform values in [0,100) with 10 bins of 10 → p50 estimate 50.0
    val vals = Seq.tabulate(100)(i => i + 0.5)
    val h = histo(vals, 0, 100, 10)
    val q = h.select(Histograms.quantileFromHistogram(col("h"), 0.5)).head().getDouble(0)
    assert(math.abs(q - 50.0) < 1e-9)
    val q99 = h.select(Histograms.quantileFromHistogram(col("h"), 0.99)).head().getDouble(0)
    assert(q99 > 90.0 && q99 <= 100.0)
  }

  test("variance_from_histogram equals var_samp") {
    val vals = Seq(1.0, 2.0, 4.0, 8.0, 16.0)
    val v = histo(vals).select(Histograms.varianceFromHistogram(col("h"))).head().getDouble(0)
    val expected = vals.toDF("v").agg(var_samp(col("v"))).head().getDouble(0)
    assert(math.abs(v - expected) < 1e-9)
  }

  test("histogram works via SQL through the registered function") {
    Seq(1.0, 2.0, 3.0).toDF("v").createOrReplaceTempView("hv")
    val bins = spark.sql("SELECT graft_make_histogram(0.0, 4.0, 4, v) AS h FROM hv")
      .select(col("h.bins")).head().getSeq[Long](0)
    assert(bins === Seq(0L, 1L, 1L, 1L))
  }
}
