package graft

import java.sql.Timestamp

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.types.{BinaryType, StringType}

/** Tables.schemaOf memoizes Spark's parquet schema inference per file
  * set: a repeat read of unchanged files launches no job, and any file
  * or inference-conf change re-infers, so the memo never serves a stale
  * schema.
  */
class TableSchemaSpec extends SparkSpec with TmpDirSupport {
  import spark.implicits._

  /** A private copy of every sf0.001 table, so no other suite has
    * warmed the memo for these paths.
    */
  private def copiedLake(prefix: String, tables: Seq[String] = Tables.all): String = {
    val dir = tmpDir(prefix)
    tables.foreach { t =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sfDir/$t.parquet"),
        java.nio.file.Paths.get(s"$dir/$t.parquet"))
    }
    dir
  }

  test("a second registerViews on an unchanged lake launches no Spark job") {
    val dir = copiedLake("schema_register")
    val (_, cold) = jobsDuring(Graft.registerViews(spark, dir))
    // one inference per table; the nine event-derived views re-read
    // events and hit the memo
    assert(cold === Tables.all.size)
    val (_, warm) = jobsDuring(Graft.registerViews(spark, dir))
    assert(warm === 0)
  }

  test("after bulkIngest the next query re-infers events once and sees every row") {
    val dir = copiedLake("schema_ingest", Tables.all.filter(_ != "events"))
    def batch(ids: Range) = ids.map { i =>
      (i.toLong, new Timestamp(1704067200000L + i * 1000L), (i % 5).toLong,
        "log", i.toDouble, s"p$i")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    Graft.bulkIngest(spark, dir, "events", batch(1 to 40))
    assert(Graft.query(spark, dir, "SELECT count(*) FROM events").head().getLong(0) === 40L)
    Graft.bulkIngest(spark, dir, "events", batch(41 to 65))
    val (df, jobs) = jobsDuring(Graft.query(spark, dir, "SELECT event_id FROM events"))
    assert(jobs === 1)
    assert(df.as[Long].collect().sorted.sameElements(1L to 65L))
  }

  test("files replaced by files with an added column: the next read has the new schema") {
    val dir = tmpDir("schema_rewrite")
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$dir/t.parquet")
    assert(Tables.df(spark, dir, "t").columns.toSeq === Seq("id", "s"))
    Seq((2L, "b", 3.0)).toDF("id", "s", "x").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val df = Tables.df(spark, dir, "t")
    assert(df.columns.toSeq === Seq("id", "s", "x"))
    assert(df.as[(Long, String, Double)].collect().toSeq === Seq((2L, "b", 3.0)))
  }

  test("an inference conf change misses the memo; restoring it hits") {
    val dir = tmpDir("schema_conf")
    // written by plain parquet-mr: a file Spark wrote carries its own
    // schema in the footer, and binaryAsString would not apply to it
    val conf = spark.sparkContext.hadoopConfiguration
    val file = new org.apache.hadoop.fs.Path(s"$dir/t.parquet/part-0.parquet")
    val schema = MessageTypeParser.parseMessageType("message t { required int64 id; optional binary b; }")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(file, conf))
      .withType(schema).withConf(conf).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("id", 1L).append("b", "hi"))
    finally w.close()
    val key = "spark.sql.parquet.binaryAsString"
    def read() = jobsDuring(Tables.df(spark, dir, "t").schema("b").dataType)
    assert(read()._1 === BinaryType)
    try {
      spark.conf.set(key, "true")
      assert(read() === (StringType, 1))
    } finally spark.conf.unset(key)
    assert(read() === (BinaryType, 0))
  }
}
