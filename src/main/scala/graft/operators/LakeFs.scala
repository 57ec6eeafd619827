package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Hadoop filesystem access shared by the partition stores
  * ([[Materialize]]'s day lake, [[JitPartitions]]' insert-range lake):
  * one way to get a lake root's FileSystem, and one reader and writer
  * for the small hidden ('_'-prefixed) metadata files they keep beside
  * the data. Hadoop FS API throughout, so file:/hdfs://s3a:// lakes all
  * work.
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
}
