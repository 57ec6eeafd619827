package graft

import java.sql.Timestamp

import graft.streaming.AsofStream
import graft.streaming.AsofStream.{AsofEvent, AsofMatch}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Event-time-correct streaming as-of: probes answer only after the
  * watermark passes them, out-of-order rows within the watermark are
  * still matched, watermark-late rows drop, and results agree with
  * the batch operator.
  */
class AsofStreamSpec extends SparkSpec {
  import spark.implicits._

  private def t(minute: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:$sec%02d")

  private def measure(ts: Timestamp, key: Long, id: Long, v: Double) =
    AsofEvent(ts, key, 0, id, v)
  private def probe(ts: Timestamp, key: Long, id: Long) =
    AsofEvent(ts, key, 1, id, 0.0)

  private def collected(name: String): Map[Long, (Option[Long], Option[Double])] =
    spark.table(name).as[AsofMatch].collect()
      .map(m => m.probeId -> ((m.measureId, m.value))).toMap

  test("answers probes after watermark passes, handling out-of-order arrival") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[AsofEvent]
    val q = AsofStream.asof(mem.toDS().withWatermark("ts", "5 minutes"))
      .writeStream.format("memory").queryName("asof_stream_t1")
      .outputMode("append").start()
    try {
      // out of (event-time) order arrival within one batch
      mem.addData(
        probe(t(4), 1L, 100L), measure(t(3), 1L, 900L, 3.0),
        measure(t(1), 1L, 901L, 1.0), probe(t(2), 1L, 101L),
        probe(t(0, 30), 1L, 102L)) // before any measure
      q.processAllAvailable()
      assert(collected("asof_stream_t1").isEmpty) // watermark still behind

      // advance watermark past the probes (different key), twice so the
      // commit actually lands before the timeout check
      mem.addData(measure(t(30), 9L, 999L, 0.0))
      q.processAllAvailable()
      mem.addData(measure(t(31), 9L, 998L, 0.0))
      q.processAllAvailable()
      val out = collected("asof_stream_t1")
      assert(out(100L) === ((Some(900L), Some(3.0)))) // latest <= 10:04 is t=3
      assert(out(101L) === ((Some(901L), Some(1.0)))) // latest <= 10:02 is t=1
      assert(out(102L) === ((None, None)))            // nothing at-or-before
    } finally q.stop()
  }

  test("late rows drop (operator-level watermark filter); carry persists") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[AsofEvent]
    val q = AsofStream.asof(mem.toDS().withWatermark("ts", "5 minutes"))
      .writeStream.format("memory").queryName("asof_stream_t2")
      .outputMode("append").start()
    try {
      mem.addData(measure(t(2), 1L, 900L, 2.0))
      mem.addData(measure(t(40), 9L, 999L, 0.0)) // watermark → 10:35
      q.processAllAvailable()
      mem.addData(measure(t(41), 9L, 998L, 0.0))
      q.processAllAvailable()
      // late probe at 10:03 (watermark is 10:35): dropped
      mem.addData(probe(t(3), 1L, 100L))
      q.processAllAvailable()
      // late measure at 10:10: dropped by the operator's late-input
      // filter (never reaches the state function)
      mem.addData(measure(t(10), 1L, 901L, 10.0))
      q.processAllAvailable()
      // fresh probe at 10:37 (strictly beyond the 10:36 watermark —
      // t <= wm counts as late), then advance the watermark past it
      mem.addData(probe(t(37), 1L, 101L))
      mem.addData(measure(t(50), 9L, 997L, 0.0))
      q.processAllAvailable()
      mem.addData(measure(t(51), 9L, 996L, 0.0))
      q.processAllAvailable()
      val out = collected("asof_stream_t2")
      assert(!out.contains(100L), "late probe must be dropped")
      // the late 10:10 measure was dropped; the carry is still the
      // in-time 10:02 measure
      assert(out(101L) === ((Some(900L), Some(2.0))))
    } finally q.stop()
  }

  test("agrees with the batch native operator on the same data") {
    implicit val sc = spark.sqlContext
    val rnd = new scala.util.Random(5)
    val measures = Seq.tabulate(40)(i =>
      measure(t(rnd.nextInt(25), rnd.nextInt(60)), rnd.nextInt(3).toLong, 900L + i, i.toDouble))
    val probes = Seq.tabulate(40)(i =>
      probe(t(rnd.nextInt(25), rnd.nextInt(60)), rnd.nextInt(3).toLong, 100L + i))
    val mem = MemoryStream[AsofEvent]
    val q = AsofStream.asof(mem.toDS().withWatermark("ts", "1 minute"))
      .writeStream.format("memory").queryName("asof_stream_t3")
      .outputMode("append").start()
    try {
      mem.addData(measures ++ probes: _*)
      q.processAllAvailable()
      mem.addData(measure(t(59), 9L, 999L, 0.0)) // push watermark past all
      q.processAllAvailable()
      mem.addData(measure(t(59, 30), 9L, 998L, 0.0))
      q.processAllAvailable()
      val streamed = collected("asof_stream_t3").collect {
        case (pid, (Some(mid), _)) => pid -> mid
      }
      // batch reference: equal-time measures resolve by id, as in
      // the stream's (t, id) order
      import org.apache.spark.sql.functions.col
      val l = probes.toDF().select(col("key"), col("id").as("pid"), col("ts"))
      val r = measures.toDF().select(col("key"), col("id").as("mid"), col("ts").as("mts"))
      val batch = graft.plans.AsofJoinNative.join(l, r, Seq("key"), "ts", "mts",
          rightTiebreak = Seq("mid"))
        .select("pid", "mid").as[(Long, Option[Long])].collect()
        .collect { case (pid, Some(mid)) => pid -> mid }.toMap
      assert(streamed === batch)
    } finally q.stop()
  }
}
