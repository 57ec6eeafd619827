package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental materialization of aggregated views into a
  * date-partitioned parquet lake — the Spark analog of the reference's
  * live-ETL partition maintenance (rust/analytics/src/lakehouse/
  * batch_update.rs, merge.rs: per-partition update of materialized
  * view data as new blocks arrive, closed partitions left untouched).
  *
  * The update unit is a DAY partition: on each run, only the lake's
  * newest ("open") day and anything after it is recomputed — the open
  * day may have been written from partial data, exactly the
  * reference's active-partition problem. Earlier days are closed:
  * their files are not rewritten (asserted by spec via file listing),
  * so repeated updates over a growing source do O(new data) work, not
  * O(history). Dynamic partition overwrite makes the day swap atomic
  * per partition.
  *
  * At cluster scale the same code materializes hour/minute partition
  * granularities by swapping the `date` derivation; the source
  * aggregation is partial-agg friendly so each update shuffles only
  * (bin, key) group rows.
  */
object Materialize {

  final case class UpdateStats(daysRecomputed: Long, rowsWritten: Long)

  /** Marker file written at the lake root by the day-partition
    * materializers, recording WHICH time column the `date` partition
    * column is derived from (the UTC day of that column). The name
    * starts with '_' so Spark's and DuckDB's file listings treat it as
    * hidden metadata, never data. TimeRangeRewrite ranges a scan that
    * carries this marker on the marker's time column, and injects its
    * derived date-partition predicate ONLY into such scans — a `date`
    * column on an arbitrary table (business date, non-UTC derivation, a
    * different base timestamp) must never be assumed to equal the UTC
    * day of the ranged timestamp (ADVICE r9: that assumption silently
    * drops rows). A LongType time column named here holds epoch
    * milliseconds (`time_bin_ms`), the only unit the materializers write.
    */
  val DayPartitionMarker = "_graft_day_partitioned"

  private def writeDayMarker(spark: SparkSession, outDir: String,
      timeColumn: String): Unit = {
    val (fs, root) = LakeFs(spark, outDir)
    LakeFs.writeText(fs, new Path(root, DayPartitionMarker),
      s"timeColumn=$timeColumn\ndateColumn=date\n")
  }

  private val IsoDate = "\\d{4}-\\d{2}-\\d{2}"

  /** The `date=` partitions directly under `dir` as (ISO date, path),
    * oldest first — the ONE listing of the day layout. DIRECTORY NAMES
    * alone: no file listing inside partitions, no parquet footer reads,
    * so it is O(days), not O(history). Only real ISO dates: a null
    * time_bin would have produced a date=__HIVE_DEFAULT_PARTITION__
    * directory that sorts after every date ('_' > '9') and would poison
    * the open-day filter forever. ISO dates: lexicographic ==
    * chronological.
    */
  private def dayDirs(fs: FileSystem, dir: Path): Seq[(String, Path)] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("date="))
      .map(s => (s.getPath.getName.stripPrefix("date="), s.getPath))
      .filter(_._1.matches(IsoDate))
      .sortBy(_._1)

  /** The parquet files of one partition directory, sorted by name (so a
    * probed file is deterministic across filesystems: listStatus order
    * is unspecified).
    */
  private def parquetFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.filter(_.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)

  /** The lake's newest day — the open day an update recomputes from. */
  private def openDay(spark: SparkSession, outDir: String): Option[String] = {
    val (fs, root) = LakeFs(spark, outDir)
    dayDirs(fs, root).lastOption.map(_._1)
  }

  /** Incrementally materialize `stats` (any frame with an epoch-ms
    * `time_bin_ms` column) into `outDir`, partitioned by derived
    * `date`. Returns what was recomputed.
    */
  final case class RetireStats(daysRetired: Long)

  /** The `date=` subdirectories of `dir` strictly older than
    * `beforeDate` — the ONE definition of "expired day partition",
    * shared by [[retireByDay]] and [[sweepExpired]] so the two
    * retention paths cannot diverge. ISO dates: lexicographic ==
    * chronological.
    */
  private def expiredDayDirs(fs: FileSystem, dir: Path, beforeDate: String): Seq[Path] =
    dayDirs(fs, dir).collect { case (d, p) if d < beforeDate => p }

  /** Partition retirement — the reference's `retire_partitions` admin
    * table function (rust/analytics/src/lakehouse/
    * retire_partitions_table_function.rs): drop every day partition
    * strictly OLDER than `beforeDate` (ISO yyyy-MM-dd). Retention is a
    * directory-level operation: no data is read or rewritten, so
    * retiring a year of history costs O(days) filesystem calls — on a
    * catalog-backed lake (Delta/Iceberg) the same call becomes a
    * metadata-only drop.
    */
  def retireByDay(spark: SparkSession, outDir: String, beforeDate: String): RetireStats = {
    require(beforeDate.matches(IsoDate),
      s"retireByDay: beforeDate must be ISO yyyy-MM-dd, got $beforeDate")
    val (fs, root) = LakeFs(spark, outDir)
    val victims = expiredDayDirs(fs, root, beforeDate)
    victims.foreach(fs.delete(_, true))
    RetireStats(victims.size.toLong)
  }

  /** Surgical single-file retirement — the reference's
    * `retire_partition_by_file` admin UDF (rust/analytics/src/lakehouse/
    * retire_partition_by_file_udf.rs): drop ONE partition file by path,
    * leaving every other file in the lake untouched and queryable.
    * `relPath` is relative to the lake root (e.g.
    * "date=2024-01-03/part-0000….parquet"). Returns whether the file
    * existed. Directory traversal is rejected — an admin typo must not
    * be able to delete outside the lake.
    */
  def retireByFile(spark: SparkSession, outDir: String, relPath: String): Boolean = {
    require(!relPath.contains(".."), s"retireByFile: path escapes the lake: $relPath")
    require(relPath.endsWith(".parquet"), s"retireByFile: not a partition file: $relPath")
    val (fs, path) = LakeFs(spark, s"$outDir/$relPath")
    fs.exists(path) && fs.delete(path, false)
  }

  /** Re-materialize ONE day partition from source — the
    * `regenerate_partitions` table function analog (rust/analytics/src/
    * lakehouse/regenerate_partitions_table_function.rs), the repair
    * path after a by-file retirement. Only the named `date` partition
    * is rewritten (dynamic overwrite); the source aggregation is
    * filtered to that day first, so the scan prunes to it.
    */
  def regenerateDay(spark: SparkSession, stats: DataFrame, outDir: String,
      date: String): Long = {
    require(date.matches(IsoDate),
      s"regenerateDay: date must be ISO yyyy-MM-dd, got $date")
    val day = stats
      .withColumn("date", to_date(timestamp_millis(col("time_bin_ms"))))
      .where(col("date") === to_date(lit(date)))
      .persist()
    try {
      val rows = day.count()
      if (rows > 0) {
        day.write.option("partitionOverwriteMode", "dynamic")
          .mode("overwrite").partitionBy("date").parquet(outDir)
        writeDayMarker(spark, outDir, "time_bin_ms")
      }
      else {
        // dynamic overwrite of an empty frame touches nothing — the
        // damaged files being repaired would survive; an empty source
        // day repairs to an ABSENT partition
        val (f, p) = LakeFs(spark, s"$outDir/date=$date")
        if (f.exists(p)) f.delete(p, true)
      }
      rows
    } finally day.unpersist()
  }

  /** Partition inventory — the reference's `list_partitions` metadata
    * function applied to a materialized lake: one row per day partition
    * with file count and byte size, from the filesystem listing alone.
    */
  def listPartitions(spark: SparkSession, outDir: String): DataFrame = {
    import spark.implicits._
    val (fs, root) = LakeFs(spark, outDir)
    dayDirs(fs, root).map { case (d, p) =>
      val files = parquetFiles(fs, p)
      (d, files.size.toLong, files.map(_.getLen).sum)
    }.toDF("date", "n_files", "bytes")
  }

  final case class ReplicationStats(daysCopied: Long, daysDropped: Long)

  /** Lake-to-lake incremental replication — the reference's
    * replication path (rust/analytics/src/replication.rs: pull
    * metadata + blocks from a remote lake, insert idempotently with
    * ON CONFLICT DO NOTHING). At day-partition granularity the same
    * contract is: ship every day whose file signature (names + byte
    * sizes — metadata only, no data read) differs from the replica's,
    * verbatim — replicated files are bitwise the source, never
    * re-encoded. Unchanged days are skipped (the conflict-skip), so a
    * re-run against an unchanged source is a filesystem-listing no-op;
    * a day the source rewrote (its open day closing, a regenerateDay
    * repair) is detected by the signature change and refreshed.
    * Replica-only days are DROPPED — replication mirrors the source,
    * so a retention run on the source (retireByDay) propagates;
    * without this the replica would diverge forever while reporting
    * no-op, and retired data would keep being served from it.
    */
  def replicate(spark: SparkSession, srcDir: String, dstDir: String): ReplicationStats = {
    val (fs, src) = LakeFs(spark, srcDir)
    if (!fs.exists(src)) return ReplicationStats(0, 0)
    val (dstFs, dst) = LakeFs(spark, dstDir)
    def days(p: Path, f: FileSystem): Set[String] = dayDirs(f, p).map(_._1).toSet
    def sig(root: Path, f: FileSystem, d: String): Map[String, Long] = {
      val p = new Path(root, s"date=$d")
      if (!f.exists(p)) Map.empty
      else parquetFiles(f, p).map(s => s.getPath.getName -> s.getLen).toMap
    }
    val srcDays = days(src, fs)
    val toCopy = srcDays.toSeq.sorted
      .filter(d => sig(src, fs, d) != sig(dst, dstFs, d))
    toCopy.foreach { d =>
      val to = new Path(dst, s"date=$d")
      if (dstFs.exists(to)) dstFs.delete(to, true)
      FileUtil.copy(fs, new Path(src, s"date=$d"), dstFs, to,
        false /* deleteSource */, true /* overwrite */, spark.sparkContext.hadoopConfiguration)
    }
    val toDrop = (days(dst, dstFs) -- srcDays).toSeq.sorted
    toDrop.foreach(d => dstFs.delete(new Path(dst, s"date=$d"), true))
    ReplicationStats(toCopy.size.toLong, toDrop.size.toLong)
  }

  final case class SweepStats(blocksDeleted: Long, streamsDeleted: Long, processesDeleted: Long)

  /** Cascading retention sweep — the reference's expiry path
    * (rust/analytics/src/delete.rs: delete_expired_blocks, then
    * delete_empty_streams, then delete_empty_processes — blocks whose
    * insert_time passed the expiration go first, and containers that
    * become empty are cascaded away). The Spark-lake layout analog is
    * `root/<process>/<stream>/date=YYYY-MM-DD/` parquet: expired day
    * partitions (the block granularity; the day-dir name is the
    * insert-time proxy, as in [[retireByDay]]) are deleted, then
    * stream directories left with no partitions, then process
    * directories left with no streams. Pure directory-level metadata
    * work — no data is read or rewritten, so sweeping a year of
    * history across thousands of processes costs O(directories). The
    * reference's batch_size=1000 inner loop is a Postgres-transaction
    * artifact with no filesystem analog; the loop-until-done contract
    * (delete_expired_blocks drains ALL expired blocks) is what this
    * reproduces.
    */
  def sweepExpired(spark: SparkSession, root: String, beforeDate: String): SweepStats = {
    require(beforeDate.matches(IsoDate),
      s"sweepExpired: beforeDate must be ISO yyyy-MM-dd, got $beforeDate")
    val (fs, rootPath) = LakeFs(spark, root)
    if (!fs.exists(rootPath)) return SweepStats(0, 0, 0)
    def subdirs(p: Path) =
      fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath)
    var blocks = 0L; var streams = 0L; var processes = 0L
    subdirs(rootPath).foreach { proc =>
      subdirs(proc).foreach { stream =>
        expiredDayDirs(fs, stream, beforeDate).foreach { d =>
          fs.delete(d, true); blocks += 1
        }
        if (fs.listStatus(stream).isEmpty) { fs.delete(stream, true); streams += 1 }
      }
      if (fs.listStatus(proc).isEmpty) { fs.delete(proc, true); processes += 1 }
    }
    SweepStats(blocks, streams, processes)
  }

  /** Version hash of a data schema — the analog of the reference's
    * per-view `current_schema_hash` (admin.py documents these as
    * version markers compared for exact equality, not cryptographic
    * commitments; a digest of the ordered name:type list gives the
    * same contract without a hand-maintained counter). Order-sensitive
    * on purpose: a column reorder is a schema change for positional
    * parquet readers.
    */
  def schemaHash(schema: org.apache.spark.sql.types.StructType): String = {
    // length-prefixed name/type tokens: unambiguous even if a column
    // name contains ':' or ',' (plain joining would let two different
    // schemas collide on the same canonical string)
    val canon = schema.fields
      .map(f => s"${f.name.length}:${f.name}|${f.dataType.sql.length}:${f.dataType.sql}")
      .mkString(",")
    java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Partitions whose file schema no longer matches the view's current
    * schema — `micromegas.admin.list_incompatible_partitions`
    * (python/micromegas/micromegas/admin.py:14): after a view's schema
    * evolves, day partitions written under the old schema are ignored
    * by (schema-pinned) queries but keep occupying storage. One row
    * per incompatible partition with both hashes, so the retirement
    * below can target exactly these by metadata. Each day's schema is
    * Spark's inference over one of its files, through the
    * [[graft.Tables.schemaOf]] memo: one small inference job per day on
    * the first call, none on a repeat over unchanged files. No data scan.
    */
  def listIncompatiblePartitions(spark: SparkSession, outDir: String,
      current: org.apache.spark.sql.types.StructType): DataFrame = {
    import spark.implicits._
    val currentHash = schemaHash(current)
    val (fs, root) = LakeFs(spark, outDir)
    dayDirs(fs, root).flatMap { case (d, p) =>
      val files = parquetFiles(fs, p)
      files.headOption.map { f =>
        // partition dirs are single-schema by construction (each day
        // is written in one atomic swap), so one file decides
        val schema = graft.Tables.schemaOf(spark, f.getPath.toString)
        (d, schemaHash(schema), currentHash, files.size.toLong, files.map(_.getLen).sum)
      }
    }.filter { case (_, fileHash, curHash, _, _) => fileHash != curHash }
      .toDF("date", "incompatible_schema_hash", "current_schema_hash", "n_files", "bytes")
  }

  /** Retire exactly the schema-incompatible partitions —
    * `micromegas.admin.retire_incompatible_partitions` (admin.py:87):
    * targets only the partitions [[listIncompatiblePartitions]]
    * identified, by their metadata (date key), never touching a
    * compatible partition. Returns the retired inventory (what the
    * reference reports as retirement results). Irreversible, like the
    * reference — the repair path for a wrongly-retired day is
    * [[regenerateDay]] from source.
    */
  def retireIncompatiblePartitions(spark: SparkSession, outDir: String,
      current: org.apache.spark.sql.types.StructType): DataFrame = {
    val victims = listIncompatiblePartitions(spark, outDir, current)
    val (fs, root) = LakeFs(spark, outDir)
    victims.collect().foreach(r => fs.delete(new Path(root, s"date=${r.getString(0)}"), true))
    victims
  }

  def updateByDay(spark: SparkSession, stats: DataFrame, outDir: String): UpdateStats = {
    val withDate = stats.withColumn("date", to_date(timestamp_millis(col("time_bin_ms"))))
    val fresh = (openDay(spark, outDir) match {
      case Some(d) => withDate.where(col("date") >= to_date(lit(d)))
      case None => withDate
    }).persist() // written AND counted below — never recompute the source agg twice
    try {
      // per-write option, not session conf: a conf toggle would race
      // concurrent writers on the same session
      fresh.write.option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").partitionBy("date").parquet(outDir)
      writeDayMarker(spark, outDir, "time_bin_ms")
      val agg = fresh.agg(countDistinct("date"), count(lit(1))).head()
      UpdateStats(agg.getLong(0), agg.getLong(1))
    } finally fresh.unpersist()
  }
}
