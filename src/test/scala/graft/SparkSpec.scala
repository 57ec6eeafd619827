package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.Shim
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one JVM, reused via getOrCreate). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sfDir: String = SparkSpec.SfDir

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
  val SfDir = "/root/testdata/sf0.001"

  /** The mains' builder ([[GraftSession.base]]) on the [[SfDir]] lake,
    * so specs plan under graft's config, its codegen cache size
    * included: the cache is sized once per JVM, and every suite runs in
    * this one.
    */
  lazy val session: SparkSession = {
    // Overridable so plan-audit specs (BroadcastBudgetSpec) can run
    // against generated decade lakes at full width:
    //   GRAFT_TEST_CPUS=32 GRAFT_BCAST_SF=target/sf1 sbt "testOnly ..."
    val cpus = sys.env.getOrElse("GRAFT_TEST_CPUS", "4")
    val s = GraftSession.base(SfDir, cpus)
      // Tungsten page size scales with heap/cores (64 MB in this 8 GB
      // local[4] JVM), and HashedRelation.estimatedSize — what the
      // BroadcastExchange dataSize metric reports — is ALLOCATED pages,
      // not bytes of data: with 64 MB pages every nontrivial broadcast
      // reads as a 64 MB multiple and a size-budget audit
      // (BroadcastBudgetSpec) can't discriminate. 1 MB pages make the
      // metric meaningful at MB granularity; perf impact on tests is nil.
      .config("spark.buffer.pageSize", "1m")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
