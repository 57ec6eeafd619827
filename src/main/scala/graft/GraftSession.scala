package graft

import org.apache.spark.sql.SparkSession

/** The ONE session builder: [[GraftRun.session]] builds every main's
  * session (Bench, Verify, Profile, SpillProbe) on [[base]], and so do
  * graftbench and the specs' shared session, so the plan a diagnostic
  * profiles and the plan the oracle checks are the plan the bench times.
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
  *  - `codegen.cache.maxEntries=8192`: codegen is a one-time cost per
  *    plan shape. Spark keeps compiled classes in an LRU cache of 100
  *    entries by default, fewer than one graftbench batch pass of six
  *    headliners compiles (152), so a repeated pass never hit and
  *    recompiled ~24 classes per query. One noop pass over all 249
  *    registered queries plus the five graftbench dashboard request
  *    shapes, on sf0.01 with 4 cores, compiles 2,597 distinct classes
  *    (the `CodegenMetrics.METRIC_COMPILATION_TIME` count delta); 8192
  *    is the power of two above twice that. At this size Verify on
  *    sf0.01 (all 249 queries in one JVM) compiles 3,111 classes and
  *    ends with 208 MB of metaspace used and a peak RSS of 3,429 MB;
  *    at 100 entries it compiled 6,326, with 185 MB and 3,330 MB.
  *    A long-lived session fills the cache with the classes that
  *    dashboard requests compile for their own literals (see
  *    `useIdInClassName` below), and holds them until they are
  *    evicted: one graftbench dashboard JVM run for 600 s (3 GB heap,
  *    4 cores, about 12,000 requests) peaked at 363 MB of metaspace
  *    and 4,096 MB RSS, against 245 MB and 3,041 MB at 100 entries,
  *    where each metadata-triggered full GC unloads what was evicted.
  *    The catch: the cache is sized ONCE per JVM, from `SQLConf.get`
  *    in `CodeGenerator$`'s static initializer (Spark 4.1.2's
  *    `CodeGenerator$.<clinit>` calls `SQLConf.codegenCacheMaxEntries`),
  *    so the size holds only when the JVM's first codegen runs under a
  *    session built here; a later session cannot resize it.
  *  - `codegen.useIdInClassName=false`: the cache key is the generated
  *    source, and by default a whole-stage class is named after its
  *    codegen stage id. AQE numbers stages in the order it creates
  *    them, which follows the order earlier stages finish, so the same
  *    stage can come back under another id: `l_curation_v2` recompiled
  *    14 classes on every repeat. Without the id in the name, the id
  *    sits only in a comment, which the key leaves out. What still
  *    compiles on a repeat is a class whose source inlines a literal
  *    that changed, such as a dashboard request's process id or range
  *    bounds: about two classes per request.
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
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
}
