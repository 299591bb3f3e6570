package graft

import graft.operators.{Dedup, Relational, Similarity, TextAnalysis}

/** Physical-plan assertions — the scale contract, checked in CI: filters
  * and projections reach the parquet scan, dimension joins broadcast,
  * global top-k avoids a total sort, and the native expressions stay
  * inside whole-stage codegen. A regression here is a 100 TB performance
  * bug even when results stay correct.
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q02: filter and projection are pushed to the parquet scan") {
    val p = plan(Relational.q02FilterProject(spark, sf))
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    // pruned read schema: only the 5 referenced columns, not all 11
    assert(!p.contains("l_returnflag"), "scan reads unprojected column")
  }

  test("q04: all three dimension joins are broadcast (fact side never shuffles for joins)") {
    val p = plan(Relational.q04MultiJoinRegion(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(p).size == 3, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q05/q06: semi and anti joins plan as broadcast hash joins") {
    assert(plan(Relational.q05SemiJoin(spark, sf)).contains("LeftSemi"))
    assert(plan(Relational.q06AntiJoin(spark, sf)).contains("LeftAnti"))
  }

  test("q10: global top-k plans TakeOrderedAndProject, not a total sort") {
    val p = plan(Relational.q10TopKOrders(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q01: aggregation is partial (map-side) then final") {
    val p = plan(Relational.q01PricingSummary(spark, sf))
    assert(p.contains("HashAggregate"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, "no partial aggregation: " + p)
  }

  test("q87: trailing and centered RANGE frames share ONE WindowExec") {
    val p = plan(Relational.q87RangeFrames(spark, sf))
    assert("\\bWindow\\b".r.findAllIn(p).size == 1,
      "same-spec range frames must plan one WindowExec:\n" + p)
  }

  test("q69: cumulative and total percentile frames share ONE WindowExec (no totals join)") {
    val p = plan(Relational.q69PercentileDisc(spark, sf))
    assert("\\bWindow\\b".r.findAllIn(p).size == 1,
      "expected exactly one WindowExec (same-spec frames must merge):\n" + p)
    assert(!p.contains("SortMergeJoin"), "totals join crept back:\n" + p)
  }

  test("d14: linear span dedup — combined-key count, broadcast-semi flag, one islands shuffle") {
    val p = plan(graft.operators.Dedup.d14DuplicateSpans(spark, sf))
    // exactly 3 data shuffles: combined gram-hash keys into the count agg,
    // flagged positions by doc_id, output rangepartitioning — a 4th would
    // mean the span groupBy stopped reusing the doc_id partitioning, or
    // the token stream itself started shuffling
    assert("Exchange (hash|range)partitioning".r.findAllIn(p).size == 3,
      "expected exactly 3 data shuffles (gh count, doc islands, final sort):\n" + p)
    // the flagged-set semi-join must BROADCAST at gate scale (probe-side
    // gram stream recomputed map-side, never exchanged)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
    assert(!p.contains("SortMergeJoin"), "token stream shuffled for the semi-join:\n" + p)
    // lag + running-sum island windows stack over ONE (doc_id, pos) sort
    assert("\\bWindow\\b".r.findAllIn(p).size == 2, p)
    assert("\\bSort\\b".r.findAllIn(p).size == 2,
      "expected only the islands sort + output sort:\n" + p)
    // the count side prunes to the text column alone
    assert(p.contains("ReadSchema: struct<text:string>"),
      "gram-count scan should read only text:\n" + p)
  }

  test("s06: filtered top-k runs the bounded-heap operator, window only on the reduced rows") {
    val p = plan(Similarity.s06FilteredTopK(spark, sf))
    // partial (map-side) + final heap phases — the per-query match sets
    // never pass through a full window sort of the scored corpus
    assert(p.contains("TopKPerKeyPartial"), "map-side heap phase missing:\n" + p)
    assert("TopKPerKey\\b".r.findAllIn(p).size >= 1, p)
    // the rank column's window sits ABOVE the heap reduction (≤ q×k rows):
    // exactly one WindowExec, and the label-predicate join still broadcasts
    assert("\\bWindow\\b".r.findAllIn(p).size == 1, p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("t25: training order plans no single-reducer stage (per-shard windows + range sort only)") {
    val p = plan(TextAnalysis.t25TrainOrder(spark, sf))
    assert(!p.contains("SinglePartition"),
      "global training order serialized through one reducer:\n" + p)
    // both windows (t16's pack + the shuffle-key rank) partition by shard
    assert("\\bWindow\\b".r.findAllIn(p).size == 2, p)
  }

  test("q94: the equi-depth CDF window shuffles by SHARD, never a single reducer") {
    val p = plan(Relational.q94EquidepthBins(spark, sf))
    // the global cumulative window must ride the arithmetic-bounded
    // shard key (a constant/empty partition spec would fold to the
    // banned single-reducer WindowExec)
    assert(p.contains("hashpartitioning(_sh"),
      "CDF window is not shard-partitioned:\n" + p)
    assert("\\bWindow\\b".r.findAllIn(p).size == 1, p)
    spark.catalog.clearCache() // globalCdf caches the per-value counts
  }

  test("q96: by-key robust stats reuse the group-key partitioning end-to-end") {
    val p = plan(Relational.q96RobustStatsByKey(spark, sf))
    // no stage collapses to one reducer (the final sort is a range
    // partition); every exchange keys on the nation group column
    assert(!p.contains("SinglePartition"),
      "per-key robust stats serialized through one reducer:\n" + p)
    assert(p.contains("hashpartitioning(nation"),
      "shuffles must key on the group column:\n" + p)
    // dev is referenced twice (MAD pass + final join): it must be
    // CACHED — computed once, read twice — not re-planned from the scan
    // (the plan string inlines the cached lineage per reference, so a
    // window count over the string can't distinguish reuse from
    // recompute; the InMemoryTableScan pair can)
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      "dev subtree is recomputed instead of cache-reused:\n" + p)
    spark.catalog.clearCache() // dev's cache is query-scoped
  }

  test("q101: CUSUM change point — one WindowExec, bounded-heap argmax, group-key exchanges") {
    val p = plan(Relational.q101ChangePoint(spark, sf))
    assert(!p.contains("SinglePartition"),
      "per-type CUSUM serialized through one reducer:\n" + p)
    assert(p.contains("hashpartitioning(event_type"),
      "shuffles must key on the group column:\n" + p)
    // cum/k/tot/n ride ONE (partitionBy, orderBy) spec; the per-type
    // argmax is the TopKPerKey heap, not a second rank window
    assert("\\bWindow\\b".r.findAllIn(p).size == 1, p)
    assert(p.contains("TopKPerKey"),
      "argmax must plan the bounded heap, not a window:\n" + p)
  }

  test("q103: autocorrelation — all three leads in ONE WindowExec, group-key exchanges, no single reducer") {
    val p = plan(Relational.q103Autocorrelation(spark, sf))
    assert(!p.contains("SinglePartition"),
      "per-type ACF serialized through one reducer:\n" + p)
    assert(p.contains("hashpartitioning(event_type"),
      "shuffles must key on the group column:\n" + p)
    // l1/l2/l3 share one (partitionBy, orderBy) spec → ONE WindowExec
    // (the round-6 same-spec rule); the (n, S) dim joins broadcast
    assert("\\bWindow\\b".r.findAllIn(p).size == 1, p)
    assert(p.contains("BroadcastHashJoin"),
      "the type-cardinality-bounded (n, S) dim must broadcast:\n" + p)
  }

  test("q104: concentration — one rank WindowExec on the real nation key, no single reducer") {
    val p = plan(Relational.q104Concentration(spark, sf))
    assert(!p.contains("SinglePartition"),
      "per-nation Gini/HHI serialized through one reducer:\n" + p)
    assert(p.contains("hashpartitioning(nation"),
      "shuffles must key on the group column:\n" + p)
    // the rank window and the moment agg share one per-nation spec
    assert("\\bWindow\\b".r.findAllIn(p).size == 1, p)
  }

  test("q97: per-key equi-depth bins — group-key exchanges, one WindowExec, no single reducer") {
    val p = plan(Relational.q97EquidepthByKey(spark, sf))
    assert(!p.contains("SinglePartition"),
      "per-key binning serialized through one reducer:\n" + p)
    // counts agg keys on (source, len), the CDF window and the bucket
    // agg on source — every exchange carries the group column
    assert(p.contains("hashpartitioning(source"),
      "shuffles must key on the group column:\n" + p)
    // cum + n share one (partitionBy, orderBy) spec → ONE WindowExec
    assert("\\bWindow\\b".r.findAllIn(p).size == 1, p)
  }

  test("q98: per-key scaled quantiles — group-key exchanges, one WindowExec, no driver literals") {
    val p = plan(Relational.q98ContQuartilesByKey(spark, sf))
    assert(!p.contains("SinglePartition"),
      "per-key quantiles serialized through one reducer:\n" + p)
    assert(p.contains("hashpartitioning(nation"),
      "shuffles must key on the group column:\n" + p)
    assert("\\bWindow\\b".r.findAllIn(p).size == 1, p)
  }

  test("q99: per-key weighted quantiles — group-key exchanges, one WindowExec, no single reducer") {
    val p = plan(Relational.q99WeightedByKey(spark, sf))
    assert(!p.contains("SinglePartition"),
      "per-key weighted quantiles serialized through one reducer:\n" + p)
    assert(p.contains("hashpartitioning(nation"),
      "shuffles must key on the group column:\n" + p)
    assert("\\bWindow\\b".r.findAllIn(p).size == 1, p)
  }

  test("q100: winsorization — group-key exchanges, one WindowExec, cached revenue reused") {
    val p = plan(Relational.q100WinsorizedByKey(spark, sf))
    assert(!p.contains("SinglePartition"),
      "winsorization serialized through one reducer:\n" + p)
    assert(p.contains("hashpartitioning(brand"),
      "shuffles must key on the group column:\n" + p)
    assert("\\bWindow\\b".r.findAllIn(p).size == 1, p)
    // pr is referenced twice (quantile pass + clip join) — must be
    // cache-reused, not re-derived from the fact scans
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      "revenue subtree recomputed instead of cache-reused:\n" + p)
    spark.catalog.clearCache()
  }

  test("q82 profile swap: exact split distinct passes below the cost threshold, HLL (one agg) above") {
    import org.apache.spark.sql.functions.col
    // below threshold (the driver-gate SFs): exact countDistinct as
    // per-column single-distinct passes (the r15 q33-split — NO Expand
    // anywhere: the old combined agg multiplied scan bytes ×(N+1)
    // through the partial agg) and no HLL sketches
    val exact = Relational.q82DataProfile(spark, sf)
    val pe = plan(exact)
    assert(!pe.contains("Expand"),
      "exact profile regressed to a multi-distinct Expand:\n" + pe)
    assert("count\\(distinct ".r.findAllIn(pe.toLowerCase).size >= 5,
      "exact profile lost its per-column distinct passes:\n" + pe)
    assert(!pe.toLowerCase.contains("approx_count_distinct"), pe)
    // above threshold: same entry point, HLL sketches, NO Expand — the
    // only shape that survives 100x (q33/q84 lesson)
    spark.conf.set("spark.graft.profile.maxExpandBytes", "1")
    try {
      val approx = Relational.dataProfile(
        Tables.lineitem(spark, sf), Seq("l_orderkey", "l_partkey"))
      val pa = plan(approx)
      assert(!pa.contains("Expand"), "approx profile still plans Expand:\n" + pa)
      // r16: the sketch is DataSketches HLL (one binary buffer/column),
      // not HLL++ (1639 Long slots/column — the q84 sketch-leg lesson)
      assert(pa.toLowerCase.contains("hll_sketch_agg"), pa)
      // schema identical either way; the hll_sketch_agg(lgK=14) estimate
      // (relative standard error 1.04/sqrt(2^14) ~ 0.8%) lands inside a
      // 5% band of exact, i.e. beyond 5 sigma
      assert(approx.schema == exact.schema
        .copy(), s"schema drift: ${approx.schema} vs ${exact.schema}")
      val est = approx.collect().map(r => r.getString(0) -> r.getLong(3)).toMap
      val truth = Tables.lineitem(spark, sf)
        .select(col("l_orderkey")).distinct().count()
      assert(math.abs(est("l_orderkey") - truth) <= 0.05 * truth,
        s"HLL estimate ${est("l_orderkey")} vs exact $truth")
    } finally spark.conf.unset("spark.graft.profile.maxExpandBytes")
  }

  test("runtime bloom filter injected on the probe side of a selective shuffle join") {
    // At 100 TB the probe side of a selective join should be row-filtered
    // DURING its scan, not after the shuffle: Spark's InjectRuntimeFilter
    // builds a bloom filter from the filtered build side and pushes
    // might_contain onto the probe side. Thresholds here only shrink the
    // trigger sizes to test scale; the plan shape is what production gets.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = Tables.lineitem(spark, sf)
      val sup = Tables.supplier(spark, sf)
        .filter(org.apache.spark.sql.functions.col("s_nationkey") === 0)
      val j = li.join(sup, li("l_suppkey") === sup("s_suppkey"))
        .groupBy(sup("s_suppkey")).count()
      val opt = j.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain"), "no runtime bloom filter injected:\n" + opt)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("no query plans an unbounded global window (single-reducer shape)") {
    import org.apache.spark.sql.execution.{GlobalLimitExec, SparkPlan, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    // t11/t14 keep the documented global pack as the small-corpus path;
    // t16/t17 are their sharded production forms. Everything else must
    // not move the full input through one reducer: a WindowExec with an
    // empty partitionSpec is allowed only when something below it
    // (limit / top-k / group-limit) already bounded its input.
    val allow = Set("t11_seq_pack", "t14_pipeline_e2e")
    def bounded(p: SparkPlan): Boolean = p.exists {
      case _: GlobalLimitExec | _: TakeOrderedAndProjectExec | _: WindowGroupLimitExec => true
      case _ => false
    }
    // the plan plus every plan behind a query-scoped cache (the t31 pin's
    // walk): a window staged inside a cache still runs on one reducer
    def withCached(p: SparkPlan): Seq[SparkPlan] = p +: p.collect {
      case s: InMemoryTableScanExec => s.relation.cachedPlan
      case a: AdaptiveSparkPlanExec => a.executedPlan
    }.flatMap(withCached)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for ((name, fn) <- SparkEntry.queries if !allow(name)) {
        try {
          val exec = fn(spark, sf).queryExecution.executedPlan
          val plans = withCached(exec)
          val bad = plans.flatMap(_.collect {
            case w: WindowExec if w.partitionSpec.isEmpty && !bounded(w.child) => w
          })
          assert(bad.isEmpty,
            s"$name plans an unbounded global WindowExec:\n${plans.mkString("\n")}")
        } finally spark.catalog.clearCache()
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q83: the recursive CTE's child session plans under the caller's runtime conf") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // q83 builds in a newSession() child so its raised recursion limit
    // stays scoped; a runtime AQE-off on the caller must still reach it,
    // or graft.Plans and the plan pins see the adaptive wrapper
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val exec = Relational.q83RecursiveCte(spark, sf).queryExecution.executedPlan
      assert(exec.collect { case a: AdaptiveSparkPlanExec => a }.isEmpty, exec.toString)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q54: as-of with tolerance is one data shuffle + one window — no nested-loop range join") {
    // The as-of family's scale contract (VERDICT r4 watch-list): the
    // union+window formulation must plan exactly one hash-partitioned
    // Exchange (key co-location for the window; the only other Exchange
    // is the output-order rangepartitioning) and one WindowExec, and the
    // tolerance predicate must never degrade the plan to a
    // BroadcastNestedLoopJoin / CartesianProduct range join.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val exec = Relational.q54AsofTolerance(spark, sf).queryExecution.executedPlan
      val p = exec.toString
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
      assert(exec.collect { case w: WindowExec => w }.size == 1, p)
      val hashShuffles = exec.collect {
        case e: ShuffleExchangeExec if e.outputPartitioning.toString.contains("hashpartitioning") => e
      }
      assert(hashShuffles.size == 1, s"expected exactly one hash-partitioned Exchange:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("t19: eval n-gram set broadcasts; the training corpus never shuffles for the join") {
    // The decontamination contract at 100 TB: the benchmark n-gram set is
    // tiny, so the candidate join must be a broadcast hash join with the
    // corpus scan on the streamed side — never a sort-merge shuffle.
    val p = plan(TextAnalysis.t19Decontaminate(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("t23: bloom pre-filter sits below the exact join; results equal t19 exactly") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val t23 = TextAnalysis.t23BloomDecontaminate(spark, sf)
      val exec = t23.queryExecution.executedPlan
      val p = exec.toString
      assert(p.contains("might_contain"), p)
      // the filter must PRE-filter the corpus stream: some join's subtree
      // (not just the overall plan) carries the might_contain predicate
      val joins = exec.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
      }
      assert(joins.exists(_.toString.contains("might_contain")),
        "bloom pre-filter is not below the join:\n" + p)
      // false positives die in the exact join: output ≡ t19, row for row
      val a = t23.collect().toSeq
      val b = TextAnalysis.t19Decontaminate(spark, sf).collect().toSeq
      assert(a == b)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("t31: one narrow scan, no shuffle except the output sort") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val exec = TextAnalysis.t31PiiRedact(spark, sf).queryExecution.executedPlan
      // r16: the query stages its map-only chain in a query-scoped cache
      // before the total-order sort (range-sample double-compute guard) —
      // walk into the cached plan so the pin still sees the real scan
      val inner = exec.collect {
        case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          s.relation.cachedPlan
      }
      val p = exec.toString + inner.map(_.toString).mkString("\n")
      // column pruning: the scan reads only doc_id + text
      assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
        "scan should prune to doc_id + text:\n" + p)
      val exchanges = (exec +: inner).flatMap(_.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      })
      assert(exchanges.size == 1, s"expected only the output-sort exchange:\n$p")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.catalog.clearCache() // the builder registers a query-scoped cache
    }
  }

  test("t39: both retrieval legs cut through the bounded-heap operator, not corpus windows") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val exec = TextAnalysis.t39HybridRrf(spark, sf).queryExecution.executedPlan
      val p = exec.toString
      // text and vector legs each run partial+final heaps; windows only
      // rank the reduced <= 20*q rows and the fused <= 40*q rows
      assert("TopKPerKeyPartial".r.findAllIn(p).size >= 2,
        "a leg ranks without the bounded heap:\n" + p)
      // the negative half of the contract (review): exactly the three
      // reduced-row rank windows — a corpus-sized WindowExec sneaking
      // back beside the heaps would raise this count
      assert("\\bWindow\\b".r.findAllIn(p).size == 3,
        "expected exactly the two leg-rank + one fused-rank windows:\n" + p)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("t33: LM tables broadcast; the token stream shuffles only for the per-doc mean") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val exec = TextAnalysis.t33LmScore(spark, sf).queryExecution.executedPlan
      val p = exec.toString
      // unigram + bigram lookups and the vocab cross: all broadcast
      assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
      assert(!p.contains("SortMergeJoin"), p)
      // shuffles: two LM count aggs + per-doc agg + final doc-universe
      // join keying + output sort — the corpus-sized STREAM crosses only
      // the map-combined per-doc aggregate
      val smj = exec.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      assert(smj.isEmpty, s"LM lookup degraded to a sort-merge join:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("g01 inline core: raw edge rows never cross an Exchange; no nested-loop join anywhere") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // the g04 gate's fresh-inline anchor (registered g01 serves the
      // bucketed artifact since round 12 — that shape has its own pin)
      val p = graft.operators.Graph.top100(graft.operators.Graph.pageRankOn(
          graft.operators.Graph.purchaseEdges(spark, sf), iters = 5))
        .queryExecution.executedPlan
      val str = p.toString
      assert(!str.contains("BroadcastNestedLoopJoin") &&
        !str.contains("CartesianProduct"), str)
      // the (src, dst) edge cache is partitioned+sorted once; every
      // iteration's src-keyed join/agg reuses it — a shuffle whose
      // subtree reaches the edge scan without an intervening partial
      // aggregate would mean |E|-sized rows re-crossing the network
      def edgeScanBelow(n: SparkPlan): Boolean = n match {
        case s: InMemoryTableScanExec => s.output.exists(_.name == "dst")
        case _: BaseAggregateExec => false
        case other => other.children.exists(edgeScanBelow)
      }
      p.collect { case e: ShuffleExchangeExec => e }.foreach(e =>
        assert(!e.children.exists(edgeScanBelow),
          s"raw edge rows cross an Exchange:\n$e"))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.catalog.clearCache()
    }
  }

  test("g02 hop: the frontier joins the cached edges without re-shuffling them") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // one expansion exactly as bfsLevelsOn runs it (the loop
      // checkpoints each hop, so the final df's plan can't show them)
      val bi = graft.operators.Graph.purchaseEdges(spark, sf)
      val frontier = Seq(0L).toDF("node")
      val acc = Seq((0L, 0L)).toDF("node", "dist")
      val hop = graft.operators.Graph.bfsHop(bi, frontier.select(col("node")),
        acc, 1)
      val p = hop.queryExecution.executedPlan
      val str = p.toString
      assert(!str.contains("BroadcastNestedLoopJoin") &&
        !str.contains("CartesianProduct"), str)
      def edgeScanBelow(n: SparkPlan): Boolean = n match {
        case s: InMemoryTableScanExec => s.output.exists(_.name == "dst")
        case _: BaseAggregateExec => false
        case other => other.children.exists(edgeScanBelow)
      }
      p.collect { case e: ShuffleExchangeExec => e }.foreach(e =>
        assert(!e.children.exists(edgeScanBelow),
          s"the frontier expansion re-shuffles the edge set:\n$e"))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.catalog.clearCache()
    }
  }

  test("g07 relax: weighted edges never re-shuffle; per-dst min map-combines first") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import spark.implicits._
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // one relaxation exactly as ssspOn runs it (the loop checkpoints
      // each round, so the final df's plan can't show them)
      val we = graft.operators.Graph.weightedEdges(spark, sf)
      val frontier = Seq((0L, 0L)).toDF("node", "dist_w")
      val p = graft.operators.Graph.ssspRelax(we, frontier)
        .queryExecution.executedPlan
      val str = p.toString
      assert(!str.contains("BroadcastNestedLoopJoin") &&
        !str.contains("CartesianProduct"), str)
      def edgeScanBelow(n: SparkPlan): Boolean = n match {
        case s: InMemoryTableScanExec => s.output.exists(_.name == "w")
        case _: BaseAggregateExec => false
        case other => other.children.exists(edgeScanBelow)
      }
      p.collect { case e: ShuffleExchangeExec => e }.foreach(e =>
        assert(!e.children.exists(edgeScanBelow),
          s"the relaxation re-shuffles the weighted edge set:\n$e"))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.catalog.clearCache()
    }
  }

  test("g04: the indexed iteration reads the bucketed edge table with zero edge-side Exchange") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val name = graft.operators.Graph.sharedEdgeIndex(spark, sf)
      val p = graft.operators.Graph.pageRankIndexed(spark, name)
        .queryExecution.executedPlan
      val scans = p.collect {
        case f: FileSourceScanExec if f.output.exists(_.name == "dst") => f
      }
      assert(scans.nonEmpty, "no edge-table scan in the indexed plan:\n" + p)
      scans.foreach(f => assert(f.bucketedScan,
        s"edge scan not bucket-aware (the bucketed layout IS the repartition):\n$f"))
      def edgeScanBelow(n: SparkPlan): Boolean = n match {
        case f: FileSourceScanExec => f.output.exists(_.name == "dst")
        case _: BaseAggregateExec => false
        case other => other.children.exists(edgeScanBelow)
      }
      p.collect { case e: ShuffleExchangeExec => e }.foreach(e =>
        assert(!e.children.exists(edgeScanBelow),
          s"indexed edge rows cross an Exchange:\n$e"))
      // the DIRECTED serving shape: the even-src filter must preserve
      // the bucketed HashPartitioning (round 12 — registered g06 reads
      // the same table through this filter)
      import org.apache.spark.sql.functions.{col, lit}
      import spark.implicits._
      val de = spark.table(name + "_edges").filter(col("src") % 2 === 0)
      val deg = Seq((0L, 2L)).toDF("node", "outdeg")
      val ranks = Seq((0L, 1000000000L)).toDF("node", "rank_e12")
      val pd = graft.operators.Graph.directedInSums(de, deg, ranks)
        .queryExecution.executedPlan
      val dScans = pd.collect {
        case f: FileSourceScanExec if f.output.exists(_.name == "dst") => f
      }
      assert(dScans.nonEmpty, "no edge-table scan in the directed in-flow:\n" + pd)
      dScans.foreach(f => assert(f.bucketedScan,
        s"directed edge scan not bucket-aware:\n$f"))
      pd.collect { case e: ShuffleExchangeExec => e }.foreach(e =>
        assert(!e.children.exists(edgeScanBelow),
          s"filtered directed edge rows cross an Exchange:\n$e"))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.catalog.clearCache()
    }
  }

  test("g06: directed in-flow never re-shuffles the cached edge set; per-dst sums map-combine") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // one iteration's in-flow exactly as pageRankDirectedOn runs it
      // (the loop checkpoints each round, so the final df's plan can't
      // show them); edge set cached src-partitioned as g06 builds it
      val ord = graft.Tables.orders(spark, sf)
        .select(col("o_orderkey"), col("o_custkey"))
      val li = graft.Tables.lineitem(spark, sf)
        .select(col("l_orderkey"), col("l_suppkey"))
      val de = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .select((col("o_custkey").cast("long") * 2).as("src"),
          (col("l_suppkey").cast("long") * 2 + 1).as("dst"))
        .distinct()
        .repartition(col("src"))
        .sortWithinPartitions(col("src"))
        .cache()
      val deg = Seq((0L, 2L)).toDF("node", "outdeg")
      val ranks = Seq((0L, 1000000000L)).toDF("node", "rank_e12")
      val p = graft.operators.Graph.directedInSums(de, deg, ranks)
        .queryExecution.executedPlan
      val str = p.toString
      assert(!str.contains("BroadcastNestedLoopJoin") &&
        !str.contains("CartesianProduct"), str)
      def edgeScanBelow(n: SparkPlan): Boolean = n match {
        case s: InMemoryTableScanExec => s.output.exists(_.name == "dst")
        case _: BaseAggregateExec => false
        case other => other.children.exists(edgeScanBelow)
      }
      p.collect { case e: ShuffleExchangeExec => e }.foreach(e =>
        assert(!e.children.exists(edgeScanBelow),
          s"directed edge rows cross an Exchange:\n$e"))
      // the per-dst sum must PARTIAL-aggregate below its Exchange
      val partialAggs = p.collect {
        case a: BaseAggregateExec if a.aggregateExpressions
          .exists(_.mode == org.apache.spark.sql.catalyst.expressions.aggregate.Partial) => a
      }
      assert(partialAggs.nonEmpty, "in-sums not map-combined:\n" + p)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.catalog.clearCache()
    }
  }

  test("g09: personalized in-flow reads the bucketed weighted edges with zero edge-side Exchange") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.{col, sum}
    import spark.implicits._
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // one iteration's in-flow exactly as personalizedPageRankOn runs
      // it (the loop checkpoints each round, so the final df's plan
      // can't show them) — over the persisted weighted edge table
      val name = graft.operators.Graph.sharedWeightedEdgeIndex(spark, sf)
      val we = spark.table(name + "_edges")
      val wd = we.groupBy(col("src")).agg(sum(col("w")).as("tw"))
      val ranks = Seq((0L, 1000000000L)).toDF("node", "rank_e12")
      val p = graft.operators.Graph.pprInSums(we, wd, ranks)
        .queryExecution.executedPlan
      val str = p.toString
      assert(!str.contains("BroadcastNestedLoopJoin") &&
        !str.contains("CartesianProduct"), str)
      val scans = p.collect {
        case f: FileSourceScanExec if f.output.exists(_.name == "w") => f
      }
      assert(scans.nonEmpty, "no weighted-edge-table scan in the plan:\n" + p)
      scans.foreach(f => assert(f.bucketedScan,
        s"edge scan not bucket-aware (the bucketed layout IS the repartition):\n$f"))
      def edgeScanBelow(n: SparkPlan): Boolean = n match {
        case f: FileSourceScanExec => f.output.exists(_.name == "w")
        case _: BaseAggregateExec => false
        case other => other.children.exists(edgeScanBelow)
      }
      p.collect { case e: ShuffleExchangeExec => e }.foreach(e =>
        assert(!e.children.exists(edgeScanBelow),
          s"weighted edge rows cross an Exchange:\n$e"))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.catalog.clearCache()
    }
  }

  test("g14: LPA vote reads the bucketed weighted co-occurrence edges with zero edge-side Exchange, argmax is a HashAggregate") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // one round's vote exactly as lpaOn runs it (the loop checkpoints
      // each round, so the final df's plan can't show them) — over the
      // persisted weighted co-occurrence table
      val name = graft.operators.Graph.sharedWeightedCooccurIndex(spark, sf)
      val we = spark.table(name + "_edges")
      val labels = Seq((0L, 0L)).toDF("node", "label")
      val p = graft.operators.Graph.lpaVote(we, labels)
        .queryExecution.executedPlan
      val str = p.toString
      assert(!str.contains("BroadcastNestedLoopJoin") &&
        !str.contains("CartesianProduct"), str)
      val scans = p.collect {
        case f: FileSourceScanExec if f.output.exists(_.name == "w") => f
      }
      assert(scans.nonEmpty, "no weighted-edge-table scan in the plan:\n" + p)
      scans.foreach(f => assert(f.bucketedScan,
        s"edge scan not bucket-aware (the bucketed layout IS the repartition):\n$f"))
      def edgeScanBelow(n: SparkPlan): Boolean = n match {
        case f: FileSourceScanExec => f.output.exists(_.name == "w")
        case _: BaseAggregateExec => false
        case other => other.children.exists(edgeScanBelow)
      }
      p.collect { case e: ShuffleExchangeExec => e }.foreach(e =>
        assert(!e.children.exists(edgeScanBelow),
          s"weighted co-occurrence edge rows cross an Exchange:\n$e"))
      // the packed-BIGINT argmax must stay hash-aggregable (the d19
      // numeric-pack rule: a struct/min buffer would SortAggregate the
      // whole vote stream)
      assert(!str.contains("SortAggregate"),
        "LPA argmax fell back to SortAggregate:\n" + str)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.catalog.clearCache()
    }
  }

  test("g23/g24: the centrality expansion reads the bucketed co-occurrence edges with zero edge-side Exchange") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import spark.implicits._
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // one forward round exactly as msBfsCounts runs it (the loop
      // checkpoints each round, so the final df's plan can't show
      // them) — over the persisted co-occurrence table
      val name = graft.operators.Graph.sharedCooccurIndex(spark, sf)
      val bi = spark.table(name + "_edges")
      val frontier = Seq((0L, 0L, 1L)).toDF("seed", "node", "sigma")
      val p = graft.operators.Graph.msBfsRound(bi, frontier)
        .queryExecution.executedPlan
      val str = p.toString
      assert(!str.contains("BroadcastNestedLoopJoin") &&
        !str.contains("CartesianProduct"), str)
      val scans = p.collect {
        case f: FileSourceScanExec if f.output.exists(_.name == "dst") => f
      }
      assert(scans.nonEmpty, "no edge-table scan in the plan:\n" + p)
      scans.foreach(f => assert(f.bucketedScan,
        s"edge scan not bucket-aware (the bucketed layout IS the repartition):\n$f"))
      def edgeScanBelow(n: SparkPlan): Boolean = n match {
        case f: FileSourceScanExec => f.output.exists(_.name == "dst")
        case _: BaseAggregateExec => false
        case other => other.children.exists(edgeScanBelow)
      }
      p.collect { case e: ShuffleExchangeExec => e }.foreach(e =>
        assert(!e.children.exists(edgeScanBelow),
          s"co-occurrence edge rows cross an Exchange:\n$e"))
      // the σ-sum must map-side-combine (partial HashAggregate below
      // the (seed, node) exchange) — a SortAggregate would sort the
      // whole candidate stream per round
      assert(!str.contains("SortAggregate"),
        "σ aggregation fell back to SortAggregate:\n" + str)
      // g25's walk-count round is the same join shape without the seed
      // dimension — same pins
      val xf = Seq((0L, 1L)).toDF("node", "x")
      val pk = graft.operators.Graph.katzRound(bi, xf)
        .queryExecution.executedPlan
      val kScans = pk.collect {
        case f: FileSourceScanExec if f.output.exists(_.name == "dst") => f
      }
      assert(kScans.nonEmpty, "no edge-table scan in the katz plan:\n" + pk)
      kScans.foreach(f => assert(f.bucketedScan,
        s"katz edge scan not bucket-aware:\n$f"))
      pk.collect { case e: ShuffleExchangeExec => e }.foreach(e =>
        assert(!e.children.exists(edgeScanBelow),
          s"katz round re-shuffles the edge set:\n$e"))
      assert(!pk.toString.contains("SortAggregate"),
        "katz walk sum fell back to SortAggregate:\n" + pk)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.catalog.clearCache()
    }
  }

  test("g28: wedge join is Exchange-free on the bucketed edges; one documented (u,v) re-key; bounded top-k") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = graft.operators.Graph.g28LinkPrediction(spark, sf)
        .queryExecution.executedPlan
      val str = p.toString
      assert(!str.contains("BroadcastNestedLoopJoin") &&
        !str.contains("CartesianProduct"), str)
      val scans = p.collect {
        case f: FileSourceScanExec if f.output.exists(_.name == "dst") => f
      }
      assert(scans.nonEmpty, "no edge-table scan in the plan:\n" + p)
      // both wedge legs ride the bucket layout; the ONE anti-join leg
      // re-keyed to (u, v) rightly has its bucketed scan
      // planner-disabled (bucketing on src buys nothing under a (u, v)
      // re-key), so at most one non-bucketed edge scan is allowed
      assert(scans.count(_.bucketedScan) >= 2,
        s"wedge-side edge scans not bucket-aware (the bucketed layout IS the repartition):\n$str")
      assert(scans.count(!_.bucketedScan) <= 1,
        s"more than the one documented (u,v)-re-keyed edge scan:\n$str")
      def edgeScanBelow(n: SparkPlan): Boolean = n match {
        case f: FileSourceScanExec => f.output.exists(_.name == "dst")
        case _: BaseAggregateExec => false
        case other => other.children.exists(edgeScanBelow)
      }
      // the wedge self-join and the cap semi-join ride the bucket
      // partitioning; the ONLY edge rows allowed across an Exchange are
      // the single documented (u, v) re-key feeding the non-edge
      // anti-join
      val edgeExchanges = p.collect {
        case e: ShuffleExchangeExec if e.children.exists(edgeScanBelow) => e
      }
      assert(edgeExchanges.size <= 1,
        s"more than the one documented edge re-key:\n$str")
      // never a global sort: the bounded top-100 plans the heap
      assert(str.contains("TakeOrderedAndProject"),
        "top-100 planned a global Sort instead of TakeOrderedAndProject:\n" + str)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.catalog.clearCache()
    }
  }

  test("g10: edge-iterator triangles — no wedge materialization, every data join an equi-join") {
    import spark.implicits._
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("u", "v")
      val p = graft.operators.Graph.trianglesOn(edges)
        .queryExecution.executedPlan
      val str = p.toString
      // the only nested-loop joins are the intentional 1-row crossJoins
      // combining the three stat aggregates — every data-sized join
      // must be an equi-join
      assert(!str.contains("CartesianProduct"), str)
      import org.apache.spark.sql.execution.SparkPlan
      p.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      }.foreach { j =>
        def isOneRowAgg(n: SparkPlan): Boolean = n match {
          case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
            a.groupingExpressions.isEmpty
          case other if other.children.size == 1 => isOneRowAgg(other.children.head)
          case other => other.children.nonEmpty && other.children.forall(isOneRowAgg)
        }
        assert(isOneRowAgg(j), s"data-sized nested-loop join:\n$j")
      }
      // the closure is the per-edge array_intersect over the joined
      // adjacency arrays — wedges are never materialized as rows, so
      // NO operator in the plan outputs a wedge-shaped (apex, b, c)
      // row set and the intersect runs inside the projection
      assert(str.contains("array_intersect"),
        "per-edge closure lost its array_intersect:\n" + str)
      // the triangle count aggregates the intersect SIZES map-side:
      // a partial agg must sit below the final 1-row agg
      val partials = p.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
          if a.aggregateExpressions.exists(_.mode ==
            org.apache.spark.sql.catalyst.expressions.aggregate.Partial) => a
      }
      assert(partials.nonEmpty, "triangle sum not map-combined:\n" + str)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.catalog.clearCache()
    }
  }

  test("g11: clustering coeff — credit explode bounded by closures, one map-combined credit sum, top-100 heap") {
    import spark.implicits._
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("u", "v")
      val p = graft.operators.Graph.clusteringCoeffOn(edges)
        .queryExecution.executedPlan
      val str = p.toString
      // per-node output — there is NO intentional 1-row crossJoin here,
      // so ANY nested-loop join is a defect (stricter than g10's walk)
      assert(!str.contains("CartesianProduct"), str)
      assert(!str.contains("BroadcastNestedLoopJoin"),
        "data-sized nested-loop join in the coefficient tail:\n" + str)
      // the closure still comes from the shared edge-iterator core
      assert(str.contains("array_intersect"),
        "per-edge closure lost its array_intersect:\n" + str)
      // witness credits surface through ONE explode of the intersect
      // arrays (triangle-count-bounded) — never a second wedge pass
      val gens = p.collect {
        case g: org.apache.spark.sql.execution.GenerateExec => g
      }
      assert(gens.size == 1,
        s"expected exactly one explode (the witness credit), got ${gens.size}:\n" + str)
      // the per-node credit sum map-combines below its node-keyed
      // Exchange (partial agg present)
      val partials = p.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
          if a.aggregateExpressions.exists(_.mode ==
            org.apache.spark.sql.catalyst.expressions.aggregate.Partial) => a
      }
      assert(partials.nonEmpty, "credit sum not map-combined:\n" + str)
      // top-100 by (coef_e6, node) runs as a bounded heap, never a
      // global sort over all nodes
      assert(str.contains("TakeOrderedAndProject"),
        "top-100 is not a TakeOrderedAndProject:\n" + str)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.catalog.clearCache()
    }
  }

  test("s01: native vector_dot runs inside whole-stage codegen") {
    // AQE wraps the plan until execution; disable it so WholeStageCodegen
    // nodes are visible in the static physical plan.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = Similarity.s01CosineTopK(spark, sf)
      val exec = df.queryExecution.executedPlan
      assert(exec.toString.contains("vector_dot"), exec.toString)
      val codegenContainsDot = exec.collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec
          if w.toString.contains("vector_dot") => w
      }
      assert(codegenContainsDot.nonEmpty, "vector_dot fell out of codegen")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("d21: kNN ranking cuts through the bounded heap; candidate stage is equi-join only") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // pin the CORE construction, not the registered query — d21
      // serves the memoized checkpointed core (its replay plan is a
      // flat rollup by design; this is the shape the memo build runs)
      val e = Tables.embeddings(spark, sf)
        .select(org.apache.spark.sql.functions.col("vec_id"),
          graft.functions.VectorFunctions.toDouble(
            org.apache.spark.sql.functions.col("embedding")).as("emb"))
        .withColumn("nrm", graft.functions.VectorFunctions.l2Norm(
          org.apache.spark.sql.functions.col("emb")))
      val p = plan(Dedup.knnEdges(Dedup.ivfCandidateVecs(e, 32, 4)))
      // the per-source top-k runs partial+final heaps, never a
      // corpus-wide rank window (the t39 contract for the vector side)
      assert(p.contains("TopKPerKeyPartial"),
        "kNN rank lost the bounded-heap operator:\n" + p)
      // candidates come from the cell equi-join — an all-pairs shape
      // would surface as a nested-loop/cartesian join
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"),
        "d21 planned an all-pairs join:\n" + p)
      spark.sharedState.cacheManager.clearCache()
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("s19: L2 ranking cuts through the bounded heap under the flipped order") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan(Similarity.s19L2TopK(spark, sf))
      // k smallest (d2, vec_id) per query through the heap operator —
      // never a corpus-wide rank window over the scored surface
      assert(p.contains("TopKPerKeyPartial"),
        "s19 rank lost the bounded-heap operator:\n" + p)
      assert(p.contains("vector_dot"),
        "s19 d2 lost the native dot composition:\n" + p)
      spark.sharedState.cacheManager.clearCache()
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("g17: incremental relabel is broadcast-only — no full-graph fixpoint joins") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      // pin the incremental CONSTRUCTION (the registered query serves
      // the GateMemo local relation — the d21/d23 rule): the frozen
      // base remaps through BROADCAST joins of the delta-sized
      // contracted fixpoint; a sort-merge join on the remap would mean
      // the node-sized table is being shuffled for a delta-sized map
      val base = Seq((2L, 4L), (4L, 6L), (10L, 12L), (30L, 32L))
        .toDF("doc_a", "doc_b")
      val delta = Seq((6L, 10L), (20L, 22L)).toDF("doc_a", "doc_b")
      val labels = graft.operators.Dedup.clusterLabels(base)
      val p = plan(graft.operators.Graph.incrementalComponentLabels(labels, delta))
      assert(!p.contains("SortMergeJoin"),
        "g17 remap fell to a shuffle join:\n" + p)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        "g17 planned an all-pairs join:\n" + p)
      assert(p.contains("BroadcastHashJoin"),
        "g17 remap lost its broadcast shape:\n" + p)
      spark.sharedState.cacheManager.clearCache()
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("d23: incremental kNN recompute keeps the bounded heap and equi-join-only candidates") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // pin the incremental CONSTRUCTION (the registered query serves
      // the GateMemo local relation — the d21 rule): affected-source
      // re-ranking must still run through the partial+final heaps and
      // draw candidates by cell equi-join, never an all-pairs shape
      val p = plan(Dedup.incrementalKnnEdges(spark, sf, full = false))
      assert(p.contains("TopKPerKeyPartial"),
        "d23 rank lost the bounded-heap operator:\n" + p)
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"),
        "d23 planned an all-pairs join:\n" + p)
      spark.sharedState.cacheManager.clearCache()
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
