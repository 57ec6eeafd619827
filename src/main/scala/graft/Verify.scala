package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftshim.Shim
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Runs on
  * [[GraftRun.session]], so the oracle checks the plans the bench times. */
object Verify {
  /** The oracle's action: the full result as one parquet file. */
  def write(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet // optional query-name filter (local debugging)
    // spill budget live in the gate itself (reference: the temp-dir
    // cap is always on, 100 GB default) — intentional behavior note
    // (ADVICE r13): a query spilling past the cap is CANCELLED
    // mid-gate and recorded as a failure, exactly the reference's
    // always-on default. If a sanctioned large-spill query ever
    // appears, raise or disable the cap via spark.graft.query
    // .maxSpillMb rather than weakening the gate; the default never
    // cancels honest work (the full sf10 sweep runs zero-spill).
    val (spark, _) = GraftRun.session(sfDir)
    new java.io.File(outDir).mkdirs()
    // forensics lives OUTSIDE outDir: the driver globs every entry of
    // outDir as a query parquet dir, and a _forensics subdir breaks its read
    val fDir = outDir.stripSuffix("/") + "_forensics"
    new java.io.File(fDir).mkdirs()
    // and scrub any stale in-outDir forensics a previous round left behind
    val stale = Paths.get(s"$outDir/_forensics")
    if (Files.exists(stale)) {
      import scala.jdk.CollectionConverters._
      Files.walk(stale).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    }
    // per-query resource profile (reference #1406's audit applied to
    // the gate itself): peak memory / spill / wall duration from the
    // executed plans' Tungsten metrics, written next to the forensics
    val audit = QueryAudit.attach(spark, maxRecords = 16)
    val profile = scala.collection.mutable.LinkedHashMap[String, (Long, Long, Double)]()
    var lastAuditId = 0L
    SparkEntry.queries.filter(kv => only.isEmpty || only(kv._1)).foreach { case (name, fn) =>
      try {
        write(fn(spark, sfDir), s"$outDir/$name")
        // hash decomposition of the EXACT bytes the driver will read
        // (re-read from the written file, not the live plan) — see
        // Forensics; a driver-side hash mismatch diffs against this.
        // Diagnostics-only: its own failure must never delete the
        // fresh, successfully-written result above (the outer catch
        // does exactly that), and its driver-side collect is skipped
        // for results too large to decompose cheaply.
        try {
          val written = spark.read.parquet(s"$outDir/$name")
          if (written.count() <= 200000)
            Files.writeString(Paths.get(s"$fDir/$name.json"),
              Forensics.report(written))
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name forensics skipped: ${e.getMessage}")
        }
        // listener delivery is async: drain the bus, then attribute
        // everything newer than the previous query's high-water id to
        // this query
        Shim.drainListenerBus(spark)
        val recs = audit.recordsRaw().filter(_.query_id > lastAuditId)
        if (recs.nonEmpty) {
          lastAuditId = recs.map(_.query_id).max
          profile(name) = (recs.map(_.peak_memory_bytes).max,
            recs.map(_.spilled_bytes).sum, recs.map(_.duration_ms).sum)
        }
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a failed query must not leave a stale (previous-run) result
        // behind — the comparator would read it and report a pass
        val dir = java.nio.file.Paths.get(s"$outDir/$name")
        if (java.nio.file.Files.exists(dir)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
            .foreach(java.nio.file.Files.deleteIfExists(_))
        }
        Files.deleteIfExists(Paths.get(s"$fDir/$name.json"))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val prof = profile.map { case (n, (peak, spill, ms)) =>
      s"${q(n)}: {\"peak_memory_bytes\": $peak, \"spilled_bytes\": $spill, " +
        s"\"duration_ms\": ${"%.1f".format(ms)}}"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$fDir/_resource_profile.json"), prof)
    spark.stop()
  }
}
