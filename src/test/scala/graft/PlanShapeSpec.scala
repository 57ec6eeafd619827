package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Pins the shuffle/broadcast shapes PLANS.md claims for the round-4
  * additions: the partitioning-reuse and broadcast-probe structure is
  * load-bearing for the 100 TB posture, so it must not silently decay
  * into extra exchanges under a refactor.
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(df: DataFrame) = {
    df.collect() // force AQE to finalize the physical plan
    df.queryExecution.executedPlan
  }

  /** Count nodes matching `f`, descending through AQE wrappers
    * (finalized exchanges hide inside QueryStageExec.plan) and
    * counting reused exchanges as instances of the reused node.
    */
  private def count(p: SparkPlan, f: SparkPlan => Boolean): Int = {
    val self = if (f(p)) 1 else 0
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case other => other.children
    }
    self + kids.map(count(_, f)).sum
  }

  private def countShuffles(df: DataFrame): Int =
    count(plan(df), _.isInstanceOf[ShuffleExchangeLike])

  private def countBroadcasts(df: DataFrame): Int =
    count(plan(df), _.isInstanceOf[BroadcastExchangeLike])

  test("l_containment: no joins, no broadcasts, exactly the two corpus-keyed exchanges") {
    // the r10 shape (PLANS.md round-10): one text pass, one exchange by
    // shingle computing (df, posting list) in a single aggregate,
    // in-place pair explosion, pair aggregate keyed (a, sz_a, b, sz_b)
    // — NO join anywhere (the old self-join shape silently broadcast a
    // 3.4 GB posting table at sf10), and the only exchanges are the
    // docs repartition, the shingle agg, the pair agg, and the output
    // sort. If a refactor re-introduces a join or a broadcast of a
    // corpus-sized side, this trips.
    val df = SparkEntry.queries("l_containment")(spark, sfDir)
    val p = plan(df)
    assert(countBroadcasts(df) == 0, "corpus-sized side got broadcast")
    assert(count(p, n => n.nodeName.contains("Join")) == 0,
      "the no-join containment shape regressed to a join")
    assert(countShuffles(df) <= 4,
      "expected docs-repartition + shingle agg + pair agg + output sort only")
    // and the scan side of the first exchange must not evaluate the
    // shingle expression (InferFiltersFromGenerate regression guard):
    // walk below every ShuffleExchange and reject Filters with HOFs
    def belowExchanges(n: SparkPlan, below: Boolean): Seq[SparkPlan] = {
      val kids: Seq[SparkPlan] = n match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case other => other.children
      }
      val here = if (below) Seq(n) else Nil
      here ++ kids.flatMap(k =>
        belowExchanges(k, below || n.isInstanceOf[ShuffleExchangeLike]))
    }
    val scanSideHofFilter = belowExchanges(p, below = false).exists {
      case f: org.apache.spark.sql.execution.FilterExec =>
        val s = f.condition.toString
        s.contains("transform(") || s.contains("array_distinct")
      case _ => false
    }
    // NB: only the FIRST exchange's scan side matters for the serial-
    // scan defect, but no Filter anywhere below an exchange should
    // re-evaluate the shingle expression either
    assert(!scanSideHofFilter,
      "a pushed-down inferred filter re-evaluates the shingle expression below an exchange")
  }

  test("l_bloom_dedup: broadcast probes, groupBy reuses the doc_id partitioning") {
    val df = SparkEntry.queries("l_bloom_dedup")(spark, sfDir)
    // measured shape: 3× repartition(doc_id) (one per branch read of
    // the single-file scan — a test-data artifact, input splits
    // replace them on a real lake), the two tiny ref-side distincts
    // (bits: ≤m rows, fps: ref fingerprints), the output sort, and —
    // r12 — the probe-side fp exchange of the exact-hit join (the ref
    // fingerprint set is a CORPUS slice, 15 MB built at sf10, so it is
    // pinned shuffle_hash instead of broadcast; both sides shuffle).
    // The load-bearing assertion stays: the probe-side groupBy(doc_id,
    // fp) does NOT re-shuffle probe rows (hash partitioning on doc_id
    // satisfies clustering on (doc_id, fp)) — so 7 total, not 8.
    assert(countShuffles(df) <= 7, "probe-side groupBy re-shuffled")
    assert(countBroadcasts(df) >= 1, "bit table must broadcast (fps pinned shuffle_hash, r12)")
  }

  test("l_dsir_weights and l_oov_score: broadcast dictionary, no per-doc re-shuffle") {
    val dsir = SparkEntry.queries("l_dsir_weights")(spark, sfDir)
    // repartition(doc_id), bucket-count agg (tiny after partial agg),
    // output sort; the per-doc agg reuses the doc_id partitioning
    assert(countShuffles(dsir) <= 4, "per-doc agg re-shuffled")
    assert(countBroadcasts(dsir) >= 1, "bucket table must broadcast")
    val oov = SparkEntry.queries("l_oov_score")(spark, sfDir)
    assert(countShuffles(oov) <= 5) // + vocab top-k sort-limit
    assert(countBroadcasts(oov) >= 1, "vocab must broadcast")
  }

  test("l_c4_rules rides the scan: no shuffle except the output sort") {
    val df = SparkEntry.queries("l_c4_rules")(spark, sfDir)
    assert(countShuffles(df) <= 1)
    assert(countBroadcasts(df) == 0)
  }

  test("m_perfetto_chunks: all shuffles keyed by process or bounded") {
    val df = SparkEntry.queries("m_perfetto_chunks")(spark, sfDir)
    // measured shape: 3 user_id-keyed window exchanges inside the two
    // span assemblies (inherent to the assembly, same as
    // m_span_assembly), the groupByKey for per-process encoding
    // (opaque lambda key → Catalyst can't prove it equals the
    // existing user_id partitioning), and the output sort.
    assert(countShuffles(df) <= 5)
  }

  test("l_ann_pq: codebook/ADC broadcast; encoding shuffles one row per (vec, sub)") {
    val df = SparkEntry.queries("l_ann_pq")(spark, sfDir)
    // measured shape: encoding agg (packed-long argmin — HashAggregate
    // partials, so the exchange carries 1 row per (vec, sub), not K
    // candidates), candidate-sum agg, top-k window, output sort = 4;
    // codebook + ADC table broadcast (2). The corpus itself never
    // hash-joins against anything non-broadcast.
    assert(countShuffles(df) <= 4, "PQ corpus path grew an extra shuffle")
    assert(countBroadcasts(df) >= 2, "codebook and ADC tables must broadcast")
  }

  test("l_ann_ivfadc: only broadcast joins; no unbucketed corpus join") {
    val df = SparkEntry.queries("l_ann_ivfadc")(spark, sfDir)
    // coarse assignment agg, lists join, residual-code agg,
    // candidate-sum agg, probe top-k, final top-k, output sort — all
    // small keyed exchanges; every join side that isn't the corpus is
    // broadcast (coarse centroids ×2 sides, codebook ×2, ADC, probes).
    assert(countShuffles(df) <= 8)
    assert(countBroadcasts(df) >= 4)
    val p = plan(df)
    assert(count(p, _.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]) <= 1,
      "corpus-side joins must stay broadcast/hash, not sort-merge")
  }

  test("m_retention_plan: three chained aggs, no extra exchange") {
    val df = SparkEntry.queries("m_retention_plan")(spark, sfDir)
    // blocks agg → streams agg → process agg → output sort: the
    // stream-level agg runs partition-local where the block keys
    // subsume it; 4 exchanges total, zero joins.
    assert(countShuffles(df) <= 4)
    assert(countBroadcasts(df) == 0)
  }

  test("l_heavy_hitters: CMS cells broadcast to the probe; cell-bounded shuffles") {
    val df = SparkEntry.queries("l_heavy_hitters")(spark, sfDir)
    // post-checkpoint: top-k agg + output sort; the 1024-cell sketch
    // reaches the probe join as a broadcast, never a shuffle side
    assert(countShuffles(df) <= 2, "probe join must not shuffle the corpus")
    assert(countBroadcasts(df) >= 1, "CMS cell table must broadcast")
  }

  test("l_gram_matrix: map-side partial cells, no joins") {
    val df = SparkEntry.queries("l_gram_matrix")(spark, sfDir)
    // repartition(vec_id) + the 2080-cell agg + output sort; the
    // double posexplode must collapse BEFORE the exchange
    assert(countShuffles(df) <= 3)
    assert(countBroadcasts(df) == 0, "Gram has no join to broadcast")
  }

  test("m_deploy_compare: span chain computed once, branches read the cut") {
    val df = SparkEntry.queries("m_deploy_compare")(spark, sfDir)
    // the (name, period) median frame is localCheckpoint'd — without
    // the cut the before/after branches replay the whole span
    // assembly + rank chain (~9 exchanges measured)
    assert(countShuffles(df) <= 3, "before/after branches re-derived the span chain")
  }

  test("m_burn_rate: bin-bounded aggregates, window table broadcasts") {
    val df = SparkEntry.queries("m_burn_rate")(spark, sfDir)
    // hourly agg (post-checkpoint) + 6h-window agg + sort; the 120-row
    // window table joins back by broadcast
    assert(countShuffles(df) <= 2)
    assert(countBroadcasts(df) >= 1)
  }

  private def countWindows(df: DataFrame): Int =
    count(plan(df), _.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec])

  test("m_downsample: single HashAggregate does OHLC — no window, no second pass") {
    val df = SparkEntry.queries("m_downsample")(spark, sfDir)
    // the load-bearing claim: first/last election rides struct min/max
    // inside the ONE grouping aggregate (the oracle needs two window
    // row_numbers; the Spark plan must not decay to that shape)
    assert(countWindows(df) == 0, "OHLC election fell back to a window")
    assert(countShuffles(df) <= 2, "agg exchange + output sort only")
  }

  test("m_concurrency: ordered cum-sum window is fed by the minute-grid aggregate") {
    // spans collapse to per-minute deltas BEFORE the global cum-sum
    // window: an aggregate must sit below the unpartitioned window, so
    // the single-partition stage sees minutes, not span endpoints
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val p = plan(SparkEntry.queries("m_concurrency")(spark, sfDir))
    // collect every WindowExec with NO partitionSpec (the cum-sum one;
    // span-assembly windows are per-process)
    def collect[T](n: SparkPlan, f: PartialFunction[SparkPlan, T]): Seq[T] = {
      val kids: Seq[SparkPlan] = n match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case o => o.children
      }
      (if (f.isDefinedAt(n)) Seq(f(n)) else Nil) ++ kids.flatMap(collect(_, f))
    }
    val global = collect(p, { case w: WindowExec if w.partitionSpec.isEmpty => w })
    assert(global.nonEmpty, "expected the global cum-sum window")
    assert(global.forall(w =>
        collect[SparkPlan](w.child, { case a: BaseAggregateExec => a }).nonEmpty),
      "cum-sum window is not fed by the minute-grid aggregate")
  }

  test("l_vocab_curve: thresholds and total broadcast; rank window over types only") {
    val df = SparkEntry.queries("l_vocab_curve")(spark, sfDir)
    assert(countBroadcasts(df) >= 2, "thresholds/total tables must broadcast")
  }

  test("l_temperature_mixture: totals broadcast, corpus reduced before arithmetic") {
    val df = SparkEntry.queries("l_temperature_mixture")(spark, sfDir)
    assert(countBroadcasts(df) >= 1, "totals scalar must broadcast")
    assert(countShuffles(df) <= 4)
  }

  test("round-6 pair queries: no cartesian products") {
    // every pair-generating query must go through a keyed join (bands,
    // posting lists, fingerprints) — an unkeyed all-pairs plan is the
    // scale failure these operators exist to avoid. (Scalar 1-row
    // broadcasts plan as BroadcastNestedLoopJoin and are fine.)
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    for (q <- Seq("l_containment", "l_minhash_calib", "l_dedup_incremental", "m_heatmap")) {
      val p = plan(SparkEntry.queries(q)(spark, sfDir))
      assert(count(p, _.isInstanceOf[CartesianProductExec]) == 0, s"$q: cartesian product")
    }
  }

  test("round-7 tranche: exchange budgets hold, no cartesian anywhere") {
    // measured shapes (sf0.001, AQE final plans) with one unit of
    // headroom where AQE could legitimately re-split; the assert is
    // the SHAPE class — keyed partial aggs + bounded-grid windows +
    // broadcast dims — not the exact exchange count.
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    val budgets = Seq(
      // (query, max shuffles, min broadcasts)
      ("m_apdex", 5, 0),             // span-assembly windows + pivot pairing (r11: the
                                     // begins⋈ends broadcast join became a conditional
                                     // agg — zero broadcasts is the FIXED shape) + apdex agg
      ("m_alert_flapping", 3, 0),    // (series, day) lag window + sort
      ("m_series_novelty", 6, 1),    // series-grain min election + day grid
      ("m_thread_utilization", 5, 0),// root filter below one partial agg (r11: pivot pairing
                                     // replaced the span-assembly broadcast join)
      ("m_latency_trend", 7, 0),     // daily medians + 5-row per-name regression (r11:
                                     // span pivot pairing removed the broadcast)
      ("m_error_budget", 3, 0),      // day-grid agg + cumulative window
      ("l_intradoc_rep", 3, 0),      // per-row arithmetic; shuffles are repartition artifact + sort
      ("l_zipf_curve", 8, 1),        // rank buckets; vocab-bounded window
      ("l_dedup_impact", 6, 1),      // before/after partial aggs
      ("l_cluster_health", 7, 3),    // centroids broadcast to the assignment join
      ("l_quality_len_corr", 4, 0),  // one moment-sum agg per source
      ("l_dup_size_histogram", 4, 0),// two keyed partial aggs + sort
      ("l_split_bias", 4, 5),        // per-split grids; share scalars broadcast
      ("l_novelty_curve", 7, 3),     // first-day election + per-day distinct
      ("m_compaction_plan", 4, 0),   // per-stream prefix-sum window + group agg + sort
      ("m_depth_profile", 5, 0),     // span assembly (r11 pivot pairing, no broadcast) + partial agg
      ("m_seasonal_baseline", 6, 1), // (name,day,hod) agg + keyed window; day-count broadcast
      ("m_hll_daily_merge", 7, 1),   // daily registers → merge → estimate; exact companion broadcast
      ("l_fertility", 3, 0),         // one conditional-agg pass
      ("l_suffix_families", 4, 0),   // one HashAggregate on the suffix hash
      ("l_mixture_epochs", 5, 1),    // per-source agg; scalars broadcast; source-rank window
      ("l_gopher_rules", 2, 0),      // rides the scan; output sort only
      ("m_histo_calib", 3, 0))       // one shared groupBy; 5-row tail
    for ((q, maxSh, minBc) <- budgets) {
      val p = plan(SparkEntry.queries(q)(spark, sfDir))
      assert(count(p, _.isInstanceOf[ShuffleExchangeLike]) <= maxSh, s"$q: shuffle budget")
      assert(count(p, _.isInstanceOf[BroadcastExchangeLike]) >= minBc, s"$q: expected broadcasts")
      assert(count(p, _.isInstanceOf[CartesianProductExec]) == 0, s"$q: cartesian product")
    }
  }

  test("round-8 tranche: exchange budgets hold, no cartesian anywhere") {
    // measured shapes (sf0.001, AQE final plans) + one unit
    // of headroom; min-broadcast only where the broadcast is structural
    // (threshold/grid/term/scalar tables), not an AQE size decision.
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    val budgets = Seq(
      ("m_block_gaps", 4, 0),          // blocks agg + per-stream lag window + group agg
      ("m_tail_attribution", 5, 0),    // span assembly + per-name rank; thresholds broadcast —
                                       // but at sf0.001 the tail is empty and AQE collapses the
                                       // tree to EmptyRelation, so no exchange survives to count
      ("m_log_anomaly_mad", 6, 2),     // hourly agg (checkpointed) + 2 rank windows; med/mad broadcast
      ("m_top_talkers", 5, 1),         // process agg + fleet-bounded rank/cum window; total broadcast
      ("m_scrape_gaps", 4, 0),         // per-series lag + rank windows + final agg
      ("l_dedup_threshold_curve", 9, 1), // banded candidates (checkpointed) + joins; 5-row grid
                                         // broadcast. r11: the two shingle-set attach joins are
                                         // pinned shuffle_hash (the corpus side was being
                                         // statically broadcast — BroadcastBudgetSpec), adding
                                         // their exchanges to the budget
      ("l_ann_nprobe_curve", 15, 3),   // ONE index build + probe sweep; cents/probes/grid broadcast
      ("l_embed_norms", 4, 0),         // per-row array math + one partial agg
      ("l_keyword_topk", 3, 1),        // posting lists (checkpointed); term set broadcast; TakeOrdered
      ("l_gate_agreement", 3, 1),      // one conditional-agg pass; kappa scalars broadcast
      ("m_transition_matrix", 5, 0),   // per-user lag window + 25-cell matrix agg
      ("m_correlated_bursts", 4, 0),   // two keyed partial aggs: process-hour → hour
      ("l_quality_threshold_curve", 6, 2), // scored scan × broadcast grid; total broadcast
      ("l_dup_family_sources", 5, 0),  // two keyed HashAggregates, no pair join
      ("m_rate_resets", 3, 0),         // per-series lag window + one partial agg
      ("l_dedup_ladder", 31, 0),       // 3 rungs + LSH chain + 4 stage counts (one text pass,
                                       // checkpointed). r11: the rung attach joins are pinned
                                       // shuffle_hash (the checkpointed corpus side was being
                                       // statically broadcast at 130 MB — BroadcastBudgetSpec),
                                       // so both rung joins now shuffle both sides
      ("m_alert_dedup", 4, 0),         // per-series lag → crossings → day-grid agg
      ("m_orphan_spans", 11, 0),       // span assembly (r11 pivot pairing) + parent band join + agg
      ("l_decontam_report", 7, 0),     // per-doc then per-source partial aggs. r12: the benchmark
                                       // shingle set is a CORPUS slice (179 MB built at sf10 —
                                       // BroadcastBudgetSpec refuted the bounded-set claim) and is
                                       // pinned shuffle_hash, adding the probe-side exchange
      ("m_stream_staleness", 6, 1),    // blocks metadata aggs; lake max broadcast
      ("l_lsh_param_planner", 9, 1),   // the L2 candidate chain (r11: attach joins pinned
                                       // shuffle_hash) + broadcast grid arithmetic
      ("m_hysteresis_alerts", 3, 0))   // one keyed window chain (state machine) + partial agg
    for ((q, maxSh, minBc) <- budgets) {
      val p = plan(SparkEntry.queries(q)(spark, sfDir))
      assert(count(p, _.isInstanceOf[ShuffleExchangeLike]) <= maxSh, s"$q: shuffle budget")
      assert(count(p, _.isInstanceOf[BroadcastExchangeLike]) >= minBc, s"$q: expected broadcasts")
      assert(count(p, _.isInstanceOf[CartesianProductExec]) == 0, s"$q: cartesian product")
    }
  }
}
