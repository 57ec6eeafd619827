package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.Shim
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one JVM, reused via getOrCreate). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sfDir: String = "/root/testdata/sf0.001"

  /** `body`'s value and the number of Spark jobs it launched from this
    * thread. Jobs are tagged with a fresh local property, so work left
    * running by another suite is not counted; the listener bus is
    * drained before the count is read.
    */
  protected def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null && js.properties.getProperty(SparkSpec.JobTag) == tag)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setLocalProperty(SparkSpec.JobTag, tag)
    try {
      val a = body
      Shim.drainListenerBus(spark)
      (a, jobs.get())
    } finally {
      sc.setLocalProperty(SparkSpec.JobTag, null)
      sc.removeSparkListener(l)
    }
  }
}

object SparkSpec {
  private val JobTag = "graft.test.jobTag"

  lazy val session: SparkSession = {
    // Overridable so plan-audit specs (BroadcastBudgetSpec) can run
    // against generated decade lakes at full width:
    //   GRAFT_TEST_CPUS=32 GRAFT_BCAST_SF=target/sf1 sbt "testOnly ..."
    val cpus = sys.env.getOrElse("GRAFT_TEST_CPUS", "4")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Scan size estimates are FILE bytes x column fraction, but
      // snappy parquet expands 24-31x in memory (sf10 audit: the
      // customer/part dims hid a decade of growth under the broadcast
      // threshold and statically built 192 MB hash relations). 16x
      // keeps the estimate within ~2x of built size, so scan-backed
      // broadcast picks demote on schedule while AQE still re-converts
      // genuinely small sides from ACTUAL compressed bytes.
      .config("spark.sql.sources.fileCompressionFactor", "16")
      // Tungsten page size scales with heap/cores (64 MB in this 8 GB
      // local[4] JVM), and HashedRelation.estimatedSize — what the
      // BroadcastExchange dataSize metric reports — is ALLOCATED pages,
      // not bytes of data: with 64 MB pages every nontrivial broadcast
      // reads as a 64 MB multiple and a size-budget audit
      // (BroadcastBudgetSpec) can't discriminate. 1 MB pages make the
      // metric meaningful at MB granularity; perf impact on tests is nil.
      .config("spark.buffer.pageSize", "1m")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
