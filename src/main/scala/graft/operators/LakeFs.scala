package graft.operators

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession

/** Hadoop filesystem access shared by the table loaders
  * ([[graft.Tables]]) and the partition stores ([[Materialize]]'s day
  * lake, [[JitPartitions]]' insert-range lake): one way to get a lake
  * root's FileSystem, one recursive file lister, footer row counts and
  * table sizes, and one reader and writer for the small hidden
  * ('_'-prefixed) metadata files kept beside the data. Hadoop FS API
  * throughout, so file:/hdfs://s3a:// lakes all work.
  */
private[graft] object LakeFs {

  /** The FileSystem serving `dir`, with `dir` as a Path. */
  def apply(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** The text of a hidden metadata file, or None when it is absent. */
  def readText(fs: FileSystem, p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    }

  /** Writes (or replaces) a hidden metadata file. */
  def writeText(fs: FileSystem, p: Path, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  /** Every file beneath `p`, recursively (`p` itself if it is one);
    * FileNotFoundException when `p` is absent.
    */
  def files(fs: FileSystem, p: Path): Seq[FileStatus] = {
    def walk(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(walk)
      else Seq(st)
    walk(fs.getFileStatus(p))
  }

  /** Exact row count of the parquet files beneath `dir`, from their
    * FOOTERS only: no Spark job, no data pages read, O(files) footer
    * reads on the driver. Hidden files (`_` markers, crc) are skipped by
    * the `.parquet` suffix filter, matching what a scan would read.
    */
  def footerRows(spark: SparkSession, dir: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val (fs, p) = LakeFs(spark, dir)
    files(fs, p).filter(_.getPath.getName.endsWith(".parquet")).map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** Bytes beneath `p` (one getContentSummary), or 0 when the listing
    * fails: an absent optional table counts as empty. The failure is
    * logged rather than swallowed (ADVICE r11: a silent 0 masked a wrong
    * lake dir), and fatal errors propagate. Takes a bare Configuration
    * because session sizing runs before any session exists.
    */
  def bytes(conf: Configuration, p: Path): Long =
    try p.getFileSystem(conf).getContentSummary(p).getLength
    catch { case NonFatal(e) =>
      System.err.println(s"graft: size listing failed for $p " +
        s"(${e.getClass.getSimpleName}: ${e.getMessage}); counting 0 bytes")
      0L
    }
}
