package graft

import org.apache.spark.sql.SparkSession

/** The ONE session builder of the mains: [[GraftRun.session]] builds
  * every main's session (Bench, Verify, Profile, SpillProbe) on
  * [[base]], so the plan a diagnostic profiles and the plan the oracle
  * checks are the plan the bench times.
  *
  * Config rationale (applies to every runner):
  *  - master `local[$cpus]` with `cpus` from `$SPARK_GRAFT_CPUS`: the
  *    driver re-runs the bench at a lower core count to measure
  *    scaling, so the master must never be hard-coded.
  *  - `fileCompressionFactor=16`: scan size estimates are FILE bytes ×
  *    column fraction, but snappy parquet expands 24-31x in memory
  *    (sf10 audit: the customer/part dims hid a decade of growth under
  *    the broadcast threshold and statically built 192 MB hash
  *    relations). 16x keeps the estimate within ~2x of built size, so
  *    scan-backed broadcast picks demote on schedule while AQE still
  *    re-converts genuinely small sides from ACTUAL compressed bytes.
  *  - `coalescePartitions.initialPartitionNum` from the LAKE size (1
  *    per 2 MB of input, clamped to [cores, 1024]): the pinned
  *    shuffle.partitions = cores floor spilled 219 GB at the third
  *    decade (25M pair-agg rows per partition, PLANS.md r10); AQE
  *    coalescing collapses the extra width for free at small SFs. Ops
  *    sets the same knob per deployment size on a real cluster.
  *  - `coalescePartitions.minPartitionSize` stays at its DEFAULT
  *    (1 MB). r15 floored it to 64 KB to keep CPU-dense small
  *    exchanges parallel (m_perfetto_chunks ran its two heavy stages
  *    on 2-3 of 32 cores), but the driver's r15 bench showed the
  *    global floor cost 15-35% on ~20 untouched multi-exchange
  *    queries at sf0.1 (scheduling overhead of ~32-task stages whose
  *    work fits in 2-5 tasks) for one query's 1.14x. REVERTED in r16;
  *    the CPU-dense paths that genuinely need small-byte parallelism
  *    (the Perfetto per-process encode) now carry a targeted explicit
  *    repartition(Tables.workPartitions(...)) instead, which helps at
  *    every scale rather than only where partitions are under 64 KB.
  *  - `autoBroadcastJoinThreshold=64m`: paired with the 16x
  *    compression factor above; estimates are inflated 16x so the
  *    threshold rises with them.
  */
object GraftSession {

  /** The shared builder. Callers may layer more `.config(...)` on top
    * (later wins) before `.getOrCreate()`.
    */
  def base(sfDir: String, cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.sources.fileCompressionFactor", "16")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        Tables.initialShufflePartitions(sfDir, cpus.toInt).toString)
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
}
