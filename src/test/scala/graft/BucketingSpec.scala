package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

/** At cluster scale, fact-to-fact joins co-locate via bucketing: both
  * tables bucketed on the join key join with zero shuffle. This spec
  * proves the engine's layout recommendation works as claimed.
  */
class BucketingSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("bucketed join on the bucket key runs without a shuffle") {
    val wh = java.nio.file.Files.createTempDirectory("graft-wh").toString
    val o = Tables.df(spark, sfDir, "orders")
    val l = Tables.df(spark, sfDir, "lineitem")
    o.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/orders_b").saveAsTable("orders_b")
    l.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/lineitem_b").saveAsTable("lineitem_b")
    // the shared session's own threshold comes back afterwards: unset
    // would drop it to Spark's default, not to the session's value
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
      val joined = spark.table("orders_b")
        .join(spark.table("lineitem_b"), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority").agg(sum("l_quantity").as("q"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan
      val shufflesBeforeAgg = collectWithSubqueries(plan) {
        case s: ShuffleExchangeLike => s
      }
      // exactly one exchange (the groupBy); the join itself is shuffle-free
      assert(shufflesBeforeAgg.size <= 1,
        s"expected bucketed join without shuffle, got ${shufflesBeforeAgg.size} exchanges")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }
}
