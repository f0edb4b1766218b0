package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression guards: the scale properties this engine
  * was tuned for, asserted on the real queries over sf0.001 so a
  * refactor that silently degrades a plan fails CI, not the bench.
  * String-level checks on the executed plan keep the assertions
  * stable across AQE wrapping. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("every registered query has a paired DuckDB oracle") {
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
  }

  test("q180/q241: tables resolve once per session — a second run infers no schema") {
    // A fresh session, so the first run must resolve its tables and
    // the job-name match below is known to fire.
    val s = spark.newSession()
    def run(): Seq[String] = TestSpark.jobsDuring(s) {
      Seq("q180_tpch21", "q241_bfs_hops")
        .foreach(n => SparkEntry.queries(n)(s, dir).collect())
    }._2.filter(_.startsWith("parquet at Tables.scala"))
    assert(run().nonEmpty)
    val again = run()
    assert(again.isEmpty, s"second run re-inferred table schemas: $again")
  }

  test("timezone dim join (Enrich.addUtcTime) is broadcast, never shuffled") {
    import spark.implicits._
    val flights = Seq(("JFK", java.sql.Date.valueOf("2024-01-01"), 930))
      .toDF("Origin", "FlightDate", "DepTime")
    val p = graft.operators.Enrich
      .addUtcTime(flights, graft.operators.Enrich.loadTimezones(spark))
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q13: top-k compiles to TakeOrderedAndProject (per-partition top-k), no global sort") {
    val p = plan("q13_topk_orders")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q19: rank<=k gets a PARTIAL WindowGroupLimit before the exchange") {
    val p = plan("q19_cosine_topk")
    assert(p.contains("WindowGroupLimit"),
      "per-partition top-k must bound the shuffle (collect_list two-phase did not)")
    assert(p.contains("Partial"))
  }

  test("q16: minhash aggregation stays on the HashAggregate fast path") {
    val p = plan("q16_minhash_pairs")
    assert(!p.contains("SortAggregate"),
      "min over a non-primitive metric would fall back to SortAggregate")
    assert(p.contains("graft_minhash_sig"), "custom kernel missing from plan")
  }

  test("q18/q20: custom kernels run inside the scan projection, no exchange before them") {
    assert(plan("q18_simhash").contains("graft_simhash64"))
    assert(plan("q20_ann_buckets").contains("graft_srp_buckets"))
  }

  test("scans prune columns: q01 reads only the projected subset") {
    val p = plan("q01_scan_filter_project")
    assert(p.contains("event_id"))
    assert(!p.contains("props"), "unused wide column must not reach the scan")
  }

  test("no expensive derived expressions in scan filters, ANY query (InferFilters hygiene)") {
    for (q <- SparkEntry.queries.keys.toSeq.sorted) {
      val scanFilters = plan(q).linesIterator
        .filter(l => l.contains("DataFilters") || l.contains("PushedFilters"))
        .mkString("\n")
      assert(!scanFilters.contains("graft_"),
        s"$q pushes a custom kernel into the scan filter")
      assert(!scanFilters.contains("aggregate("),
        s"$q pushes a higher-order aggregate into the scan filter")
    }
  }

  test("q49/q50/q51: grouping-set families are single-Expand single-shuffle") {
    for (q <- Seq("q49_rollup_revenue", "q50_cube_returns", "q51_grouping_sets")) {
      val p = plan(q)
      assert(p.contains("Expand"), s"$q: grouping sets must plan via Expand")
      // exactly one pre-agg hash exchange on the grouping keys: the
      // Expand feeds partial aggregation BEFORE the exchange.
      val aggExchanges = p.linesIterator
        .filter(l => l.contains("Exchange hashpartitioning") &&
          l.contains("spark_grouping_id"))
        .size
      assert(aggExchanges === 1, s"$q: expected 1 grouping exchange, plan:\n$p")
    }
  }

  test("q92: context totals are a window over the model, not a corpus re-aggregation") {
    // C(a) must ride a window over the Zipf-bounded bigram table;
    // corpus scans are bounded at 3 (bigram build, vocab scalar,
    // scoring join). Exchange reuse CANNOT collapse duplicated model
    // subtrees here (HOF lambda ids defeat canonicalization), so an
    // extra per-statistic aggregation means an extra corpus pass.
    val p = plan("q92_lm_perplexity")
    assert(p.contains("Window"),
      s"C(a) must be a window over the bigram table:\n$p")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans <= 3,
      s"corpus must be scanned at most 3 times, saw $scans:\n$p")
  }

  test("q93: semantic dedup joins on the cell key, never a cartesian") {
    val p = plan("q93_semantic_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"within-cell pairing must be an equi-join on the cell key:\n$p")
  }

  test("q54: both rank windows share ONE exchange on the partition key") {
    val p = plan("q54_rank_family")
    val exchanges = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning(l_returnflag"))
      .size
    assert(exchanges === 1, s"two windows over one partitioning must share the exchange:\n$p")
  }

  test("q64: bloom builds with map-side partials and no forced broadcast hint") {
    val p = plan("q64_bloom_decontaminate")
    assert(p.contains("partial_bloom_filter_agg"),
      "bloom must partial-aggregate map-side (mergeable sketch)")
    assert(p.contains("might_contain") || p.contains("BloomFilterMightContain"),
      "bloom prefilter missing from the corpus scan side")
  }

  test("q72: ONE user-key exchange serves lag window, running sum, and session aggregate") {
    val p = plan("q72_sessionize")
    val exchanges = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning(user_id"))
      .size
    assert(exchanges === 1,
      s"sessionize must reuse the user partitioning end-to-end:\n$p")
  }

  test("q78: gap-fill join and forward-fill window share the key exchange") {
    val p = plan("q78_gap_fill")
    // span agg + densify/fill side: user_id exchanges must not
    // multiply per stage (join + window reuse one partitioning).
    val exchanges = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning(user_id"))
      .size
    assert(exchanges <= 3,
      s"gap-fill grew extra user_id exchanges:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q80: merge plans one anti-join on the key, no full-outer, no window") {
    val p = plan("q80_merge_changelog")
    assert(p.contains("LeftAnti"), s"merge must anti-join the touched keys:\n$p")
    assert(!p.contains("FullOuter"))
    assert(!p.toLowerCase.contains("window"))
  }

  test("q81: argmax is one partial-agg shuffle with map-side combine, no window") {
    // min_by/max_by hold the String payload in the agg buffer, so Spark
    // plans SortAggregate (hash agg needs mutable fixed-width buffers) —
    // that's fine; what must hold at scale is ONE exchange fed by a
    // map-side partial aggregate, and no ranking-window detour.
    val p = plan("q81_argmax")
    assert(p.contains("partial_min_by"),
      "argmax must combine map-side before the shuffle")
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning(user_id")).size
    assert(exchanges === 1, s"argmax must shuffle user_id exactly once:\n$p")
    assert(!p.toLowerCase.contains("window"),
      "argmax must be a plain aggregate, not a ranking window")
  }

  test("q84: the O(sources) rate table broadcasts back to the sampling scan") {
    val p = plan("q84_mixture_sample")
    assert(p.contains("BroadcastHashJoin"),
      s"rates must broadcast, not shuffle the documents scan:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q85/q86: N audit rules / N column profiles share ONE aggregation pass") {
    // q85: orders is scanned once for the 4-rule audit and once for the
    // FK anti-join — exactly 2 scans, however many rules are declared.
    val audit = plan("q85_quality_audit")
    val orderScans = audit.linesIterator
      .filter(l => l.contains("FileScan parquet") && l.contains("orders.parquet"))
      .size
    assert(orderScans === 2,
      s"audit must not scan once per rule, saw $orderScans orders scans:\n$audit")
    // q86: 7 stats x 3 columns ride one scan; the multi-distinct plans
    // as a single Expand, not one aggregation pass per column.
    val prof = plan("q86_profile")
    assert(prof.linesIterator.count(_.contains("FileScan parquet")) === 1,
      s"profile must be one-pass:\n$prof")
    assert(prof.linesIterator.count(_.trim.startsWith("+- Expand")) <= 1,
      s"multi-distinct must plan one Expand:\n$prof")
  }

  test("q87: cross-corpus dedup joins band buckets, never all-pairs") {
    val p = plan("q87_incremental_dedup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"band join degenerated to all-pairs:\n$p")
    assert(p.contains("band"), "band-bucket key missing from the plan")
  }

  test("q76: funnel step frames filter by event type BEFORE any join") {
    val p = plan("q76_funnel")
    val pushed = p.linesIterator
      .filter(l => l.contains("PushedFilters") && l.contains("event_type"))
      .size
    assert(pushed >= 3,
      s"each funnel step must push its type filter into the scan:\n$p")
  }

  test("q100/q109: per-key caps and bottom-k sketches bound the shuffle via WindowGroupLimit") {
    val cap = plan("q100_source_cap")
    assert(cap.contains("WindowGroupLimit"),
      s"per-source cap must keep <= k rows per key map-side:\n$cap")
    val kmv = plan("q109_kmv_overlap")
    assert(kmv.contains("WindowGroupLimit"),
      s"per-group bottom-k must truncate before the exchange:\n$kmv")
    assert(!kmv.contains("CartesianProduct"),
      "pairwise sketch work must stay on equi-joins")
  }

  test("q103: per-key median/MAD tables broadcast back, no corpus-sized join") {
    val p = plan("q103_mad_outliers")
    assert(p.contains("BroadcastHashJoin"),
      s"stat tables must broadcast onto the scoring pass:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a sort-merge join here means the corpus shuffled to meet a 5-row table:\n$p")
  }

  test("q106: running total never plans a corpus-wide single-partition window") {
    // The only global (non-partitioned) window allowed is the one over
    // BUCKET TOTALS — its input must come from an aggregate, never
    // directly from the corpus-sized frame.
    val df = SparkEntry.queries("q106_growth_curve")(spark, dir)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty => w
    }
    assert(windows.nonEmpty, "expected the tiny bucket-offset window")
    windows.foreach { w =>
      val fromAgg = w.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }
      assert(fromAgg.nonEmpty,
        s"global window must consume bucket totals, not corpus rows:\n$w")
    }
  }

  test("q111: exact sim-join is prefix-equi-join + broadcastable verify, never all-pairs") {
    val p = plan("q111_exact_simjoin")
    assert(!p.contains("CartesianProduct"),
      s"exact similarity join must never plan all-pairs:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"a nested-loop join here means the prefix equi-key was lost:\n$p")
  }

  test("q185: containment join is prefix-postings equi-join, never all-pairs") {
    val p = plan("q185_containment_join")
    assert(!p.contains("CartesianProduct"),
      s"containment join must never plan all-pairs:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"a nested-loop join here means the shingle equi-key was lost:\n$p")
  }

  test("q186/q188: packing cumsum is shard-keyed; interleave's only global window is bucket totals") {
    // Packing: every window must partition on the shard key — a
    // global token stream would be the single-task trap.
    val packed = SparkEntry.queries("q186_pack_chunks")(spark, dir)
    val globalW = packed.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty => w
    }
    assert(globalW.isEmpty,
      s"concat-and-chunk packing must never cross a global window:\n$globalW")
    // Interleave: global windows allowed ONLY over the bucket-total
    // aggregate (the Ordinals contract, mirroring the q114 guard).
    val inter = SparkEntry.queries("q188_interleave_order")(spark, dir)
    val interW = inter.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty => w
    }
    assert(interW.nonEmpty, "expected the tiny bucket-offset window")
    interW.foreach { w =>
      val agg = w.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }
      assert(agg.nonEmpty &&
        agg.get.groupingExpressions.flatMap(_.references)
          .map(_.name).toSet == Set("__ord_b"),
        s"interleave's global window must consume bucket totals:\n$w")
    }
  }

  test("q192: triangle wedge and closing joins stay hash equi-joins") {
    val p = plan("q192_triangle_counts")
    assert(!p.contains("CartesianProduct"),
      s"triangle counting must never plan all-pairs:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"a nested-loop join here means a wedge/closing equi-key was lost:\n$p")
  }

  test("q112: weighted sample is TakeOrderedAndProject, no global sort exchange") {
    val p = plan("q112_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"A-Res top-k must keep per-task heaps:\n$p")
  }

  test("q114: the only un-partitioned window is over BUCKET TOTALS, never the vocab table") {
    // Post two-level rewrite (Ordinals.withOrdinals): the vocabulary
    // table itself must never cross an un-partitioned unbounded
    // window — only the `buckets`-row offsets table may. Every
    // global window's nearest aggregate must therefore group on the
    // bucket id, not on the token.
    val df = SparkEntry.queries("q114_vocab_coverage")(spark, dir)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty => w
    }
    assert(windows.nonEmpty, "expected the tiny bucket-offset window")
    windows.foreach { w =>
      val agg = w.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }
      assert(agg.nonEmpty,
        s"global window must consume an aggregate, not raw rows:\n$w")
      val keys = agg.get.groupingExpressions.flatMap(_.references)
        .map(_.name).toSet
      assert(keys == Set("__ord_b"),
        s"global window's aggregate must group on the bucket id, got $keys:\n$w")
    }
  }

  test("q114/q126: two-level ordinal stays in DataFrame land — no RDD scan in the plan") {
    for (q <- Seq("q114_vocab_coverage", "q126_sorted_neighborhood")) {
      val p = plan(q)
      assert(!p.contains("ExistingRDD") && !p.contains("Scan rdd"),
        s"$q dropped out of Catalyst into an RDD:\n$p")
    }
  }

  test("q124: interval-overlap join is a bin equi-join, never nested-loop") {
    val p = plan("q124_interval_overlap")
    assert(!p.contains("CartesianProduct"),
      s"overlap join must not plan all-pairs:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"a nested-loop join here means the bin equi-key was lost:\n$p")
  }

  test("q115: epoch repeat fans out inside the scan — zero exchanges") {
    val p = plan("q115_epoch_repeat")
    // The orderBy is the oracle-determinism harness artifact; assert
    // no exchange BEFORE the explode by checking the generate/explode
    // sits under at most the final sort's exchange.
    val n = "Exchange".r.findAllIn(p).length
    assert(n <= 1, s"epoch repeat must not shuffle the corpus:\n$p")
    assert(p.contains("Generate"), "sequence-explode fan-out expected")
  }

  test("q162: repetition signals count grams with map-side partials, never pairwise") {
    val p = plan("q162_repetition_signals")
    // One tagged-gram explode; the (doc, n, gram) count must partial-
    // aggregate before its exchange (heavy grams combine map-side),
    // and nothing may degenerate to an all-pairs join.
    assert(p.contains("Generate"), "tagged-gram explode expected")
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"gram counting must map-side combine:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"repetition signals must never plan all-pairs:\n$p")
  }

  test("q167: moment fan-out stays in-scan — one embeddings scan, no corpus-sized join") {
    val p = plan("q167_embed_covariance")
    val scans = p.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans === 1, s"covariance must be one-pass over embeddings, saw $scans scans:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"d-row moment tables must broadcast, never shuffle-join:\n$p")
    assert(p.contains("graft_pair_moments"), "kernel missing from plan")
  }

  test("q170: chunk fan-out streams through the scan — no operator shuffle") {
    val p = plan("q170_sliding_chunks")
    // The single Exchange allowed is the oracle-determinism orderBy.
    val n = "Exchange".r.findAllIn(p).length
    assert(n <= 1, s"sliding chunks must not shuffle the corpus:\n$p")
    assert(p.contains("Generate"), "sequence-explode chunk fan-out expected")
  }

  test("q171: categorical association is ONE corpus scan; marginals ride cell-sized windows") {
    val p = plan("q171_cat_association")
    val scans = p.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans === 1,
      s"contingency must be one-pass (marginals-as-joins rescans 4×), saw $scans scans:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"nothing may shuffle-join at cell cardinality:\n$p")
  }

  test("q196: the AUC rank pass runs over the AGGREGATED score frame, " +
      "never the corpus") {
    // The un-partitioned cumulative window is the documented
    // bounded-DOMAIN exception (6dp scores in [0,1] → ≤ 1e6+1 keys):
    // it must sit ABOVE a HashAggregate that collapsed the corpus to
    // distinct scores — a window whose child scans documents directly
    // would sort corpus-cardinality rows through one task.
    val p = plan("q196_score_auc")
    val lines = p.linesIterator.toVector
    val wIdx = lines.indexWhere(_.contains("Window"))
    assert(wIdx >= 0, s"expected the cumulative-negatives window:\n$p")
    assert(lines.drop(wIdx).exists(_.contains("HashAggregate")),
      s"the window's input must be the grouped score frame:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q197: calibration is one corpus scan into a <=bins-group aggregate") {
    val p = plan("q197_calibration")
    val scans = p.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans === 1, s"one-pass report, saw $scans scans:\n$p")
    assert(!p.contains("WindowExec"), "no window needed for binning")
  }

  test("q240/q248: graph wedge/degree joins are hash joins, never nested-loop") {
    // q240's whole pipeline is equi-joins; q248 additionally stitches
    // its three ONE-ROW summary aggregates with the house one-row
    // cross join (a BroadcastNestedLoopJoin over single rows — the
    // PageRank dangling-mass contract), so only CartesianProduct is
    // banned there.
    val lp = plan("q240_link_predict")
    assert(!lp.contains("CartesianProduct") &&
      !lp.contains("BroadcastNestedLoopJoin"),
      s"q240 must stay on equi-join paths:\n$lp")
    assert(!plan("q248_assortativity").contains("CartesianProduct"))
  }

  test("q240: top-1000 predictions ride TakeOrderedAndProject") {
    assert(plan("q240_link_predict").contains("TakeOrderedAndProject"))
  }

  test("q242/q243: rank/lead statistics use ONE key exchange, no corpus re-shuffle") {
    // Mann-Whitney: the tie-group shuffle is the only corpus-sized
    // exchange; the min-rank window runs on the distinct-value table.
    val mw = plan("q242_mann_whitney")
    assert(mw.linesIterator.count(_.contains("FileScan parquet")) === 1)
    // ACF: one window pass computes all 5 leads (one WindowExec),
    // and the groupBy reuses its partitioning.
    val acf = plan("q243_autocorrelation")
    assert(acf.linesIterator.count(_.contains("WindowExec")) <= 1 ||
      acf.split("Window").length - 1 <= 2,
      s"all lags must share one window pass:\n$acf")
  }

  test("q249: per-group top-(k+1) bounds the shuffle via WindowGroupLimit") {
    assert(plan("q249_hill_tail").contains("WindowGroupLimit"))
  }

  test("q246/q250/q252: experiment readouts are single-pass conditional aggregates") {
    for (q <- Seq("q246_diff_in_diff", "q250_mantel_haenszel",
        "q252_icc_deff")) {
      val p = plan(q)
      val scans = p.linesIterator.count(_.contains("FileScan parquet"))
      assert(scans === 1, s"$q: cells must ride one scan, saw $scans:\n$p")
    }
  }

  test("q267: FS linkage never plans a cartesian; the weight table broadcasts") {
    val p = plan("q267_record_linkage")
    assert(!p.contains("CartesianProduct"),
      s"candidate/scoring joins must stay equi:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      "the <=|fields|-row weight table must broadcast onto the melt")
  }

  test("q271: the fanout audit prunes to the key column and never runs the audited join") {
    val p = plan("q271_join_fanout")
    // both scans read ONLY l_orderkey — reading more means the audit
    // is heavier than the histograms it needs
    p.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(l.contains("l_orderkey") && !l.contains("l_partkey") &&
        !l.contains("l_extendedprice"),
        s"fanout audit must scan only the join key:\n$l")
    }
    // the join runs on the aggregated count tables, not raw rows:
    // every FileScan is below a HashAggregate in the tree (string
    // proxy: no SortMergeJoin of raw scans needed at this size, and
    // no cartesian ever)
    assert(!p.contains("CartesianProduct"))
  }

  test("q277: the generalization ladder is a single-Expand rollup pass") {
    val p = plan("q277_generalization_ladder")
    val expands = p.linesIterator.count(_.contains("Expand"))
    // one Expand for the rollup levels (+ one more only if the
    // distinct-sensitive aggregate plans its own) — never a per-level
    // union of scans
    val scans = p.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans === 1, s"ladder must ride ONE scan, saw $scans:\n$p")
    assert(expands >= 1 && expands <= 2, s"rollup must Expand, not union:\n$p")
  }

  test("q274: language mixture adds no exchange beyond the output sort") {
    val p = plan("q274_language_mixture")
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1,
      s"the mixture readout is a scan projection; only the ORDER BY may exchange:\n$p")
    assert(!p.contains("HashAggregate"),
      s"no aggregation belongs in a per-doc projection:\n$p")
  }

  test("q268/q273: iterative graph scores keep integer state and equi-joins only") {
    for (q <- Seq("q268_hits", "q273_personalized_pagerank")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q: one-row totals must broadcast, never cartesian:\n$p")
      assert(!p.contains("SortMergeJoin") || p.contains("ExistingRDD"),
        s"$q: state joins at gate scale should hash/broadcast:\n$p")
    }
  }

  test("r12 additions: bounded dims broadcast, no cartesians, " +
      "projection-only ops add no exchange beyond the sort") {
    // DP releases: the threshold/weight tables are bounded literal
    // dims — they must broadcast, and nothing may plan a cartesian
    for (q <- Seq("q301_dp_quantile_release", "q310_dp_histogram",
        "q296_dp_domain_release", "q297_dp_sum_release")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin") ||
        p.contains("BroadcastNestedLoopJoin"),
        s"$q: bounded dim must broadcast:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$q: nothing in a DP release justifies a sort-merge join:\n$p")
    }
    // modularity / blocking audit: label and pair joins hash or
    // broadcast at gate scale; never a cartesian
    for (q <- Seq("q302_modularity", "q303_blocking_audit")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
    // aHash: decode is partition-local — the only exchanges are the
    // fixture's internal plumbing-free map chain + the output sort
    locally {
      val p = plan("q304_image_ahash")
      assert(!p.contains("SortMergeJoin") && !p.contains("HashAggregate"),
        s"q304 is a pure decode projection:\n$p")
      val exchanges = p.linesIterator.count(_.contains("Exchange"))
      assert(exchanges <= 1,
        s"q304: only the ORDER BY may exchange, saw $exchanges:\n$p")
    }
    // readability: per-row regexp projection + sort, nothing else
    locally {
      val p = plan("q309_readability")
      val exchanges = p.linesIterator.count(_.contains("Exchange"))
      assert(exchanges <= 1,
        s"q309: only the ORDER BY may exchange, saw $exchanges:\n$p")
      assert(!p.contains("HashAggregate"), s"q309:\n$p")
    }
    // winsorized readout: pooled edges come back as a BROADCAST join
    // (the |keys|-row edge table), never a shuffled re-join
    locally {
      val p = plan("q306_winsorized_readout")
      assert(p.contains("BroadcastHashJoin"),
        s"q306: the edge table must broadcast back:\n$p")
      assert(!p.contains("CartesianProduct"), s"q306:\n$p")
    }
    // outer interval twin: keyed hash join, outer type preserved
    locally {
      val p = plan("q308_interval_join_outer_twin")
      assert(p.contains("LeftOuter"),
        s"q308: the outer join type must survive planning:\n$p")
      assert(!p.contains("CartesianProduct"), s"q308:\n$p")
    }
  }

  test("round-13 additions keep their plan shapes") {
    // IVF+SQ8: integer kernel inside the plan, probe fan-out
    // broadcast, partial WindowGroupLimit bounds the rank shuffle
    locally {
      val p = plan("q315_ivf_sq8_search")
      assert(p.contains("graft_int_vec_dot"),
        s"q315: the codegen'd kernel must score the candidates:\n$p")
      assert(p.contains("BroadcastHashJoin") &&
        !p.contains("SortMergeJoin"),
        s"q315: probe fan-out must broadcast:\n$p")
      assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
        s"q315: rank must be bounded map-side:\n$p")
      assert(!p.contains("CartesianProduct"), s"q315:\n$p")
    }
    // audio spectrum: one decode projection, only the ORDER BY
    // exchanges
    locally {
      val p = plan("q319_audio_spectrum")
      val exchanges = p.linesIterator.count(_.contains("Exchange"))
      assert(exchanges <= 1,
        s"q319: only the ORDER BY may exchange, saw $exchanges:\n$p")
      assert(!p.contains("HashAggregate"), s"q319:\n$p")
    }
    // regression-adjusted readout: the unit collapse + one global
    // co-moment aggregate, no windows, no joins
    locally {
      val p = plan("q320_regression_adjusted")
      val exchanges = p.linesIterator.count(_.contains("Exchange"))
      assert(exchanges <= 2,
        s"q320: unit collapse + one-row aggregate only, " +
          s"saw $exchanges exchanges:\n$p")
      assert(!p.contains("Window") && !p.contains("Join"),
        s"q320: one-pass moments need no window or join:\n$p")
    }
    // IVF ingest audit: bounded per-side aggregates come back onto
    // the literal cell frame as broadcasts, never shuffled joins
    locally {
      val p = plan("q321_ivf_ingest_audit")
      assert(p.contains("BroadcastHashJoin") &&
        !p.contains("SortMergeJoin"),
        s"q321: cell-frame joins must broadcast:\n$p")
      assert(!p.contains("CartesianProduct"), s"q321:\n$p")
    }
  }
}
