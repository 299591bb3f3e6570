package graft

import java.nio.file.{Files, Paths}

/** Regenerates PLANS.md: `explain("formatted")` for the flagship
  * queries, with AQE off so the static physical plan (join strategies,
  * pushdown, codegen spans) is visible. Run:
  * `sbt "runMain graft.Plans"` after changing operators.
  */
object Plans {
  private val Flagships = Seq(
    "q01_pricing_summary" -> "scan → pushed filter → partial+final hash agg",
    "q02_filter_project" -> "pushdown + column pruning (ReadSchema = 4 of 11 cols)",
    "q04_multijoin_region" -> "snowflake: 3 broadcast joins, fact side never shuffles",
    "q10_topk_orders" -> "global top-k via TakeOrderedAndProject (no total sort)",
    "q23_asof_join" -> "as-of join: one shuffle + window, no range nested-loop",
    "q54_asof_tolerance" -> "as-of + 1-day tolerance: same one-shuffle union+window shape — no BNLJ, no second data shuffle",
    "s01_cosine_topk" -> "native vector_dot inside WholeStageCodegen",
    "d01_minhash_pairs" -> "LSH band equi-join (candidates, never all-pairs) + verify",
    "s03_ann_srp" -> "single srp_signature node (was a ~400-node literal tree), broadcast candidates",
    "q33_approx_distinct" -> "split single-distinct passes — no Expand, no per-key HLL buffers",
    "q48_salted_join" -> "8-way salted skew join: hot keys fan out, result ≡ plain join",
    "q49_gap_fill" -> "map-side day-grid explode + per-user LOCF window",
    "t10_tfidf" -> "explode → two hash aggs → vocabulary-keyed shuffle join → per-doc top-k",
    "q59_topk_custom" -> "custom operator: partial heap → k-row exchange → final heap (no Window, no per-group sort)",
    "d09_embed_neardup_ivf" -> "IVF cell-key equi-join candidates (narrow rows) → exact cosine verify — never all-pairs",
    "t16_seq_pack_sharded" -> "sharded sequence packing: windows partitioned by shard, no single-reducer stage",
    "q69_percentile_disc" -> "bounded exact percentiles: per-(key,value) counts + ONE window pass (cumulative + total frames share a WindowExec) — no whole-group buffer, no totals join",
    "q75_theta_sets" -> "theta sketches: one partial-agg pass builds them, pairs combine sketches, never data",
    "m04_audio_meta" -> "real RIFF header parse through the mapPartitions codec SPI (hash-matched vs id-formula oracle)",
    "d13_incremental_dedup" -> "delta bands equi-join the PERSISTED bucketed corpus index (Bucketed: true scans, zero corpus-side Exchange) — corpus never self-pairs; verify on candidates only",
    "q83_recursive_cte" -> "UnionLoop iterative dataflow: log2(max key) rounds, each a key-equi-join against the part dim",
    "d14_duplicate_spans" -> "linear span dedup: 24-byte hashed-gram count shuffle, flagged-position doc-islands shuffle (stacked windows, one sort), span groupBy reuses doc partitioning — no pair join anywhere",
    "d17_incremental_spans" -> "incremental span dedup: delta gram counts merge against the PERSISTED bucketed gram table (Bucketed: true scan, zero corpus-side Exchange) — the corpus is never re-tokenized",
    "s06_filtered_topk" -> "filtered vector search through the bounded-heap operator: label-predicate broadcast join, partial+final TopKPerKey, rank window only over the reduced q×k rows",
    "s07_ann_index_gate" -> "persisted ANN index gate: four indexed families answer from Bucketed: true table scans (probes/candidates broadcast; zero index-side Exchange), exceptAll parity vs the memoized family results (local relations — the shared-stage memo)",
    "t24_model_quality" -> "model-scored quality filter: one narrow scan + projection, integer logit and decision inside WholeStageCodegen — no shuffle but the output sort",
    "t25_train_order" -> "deterministic training order: per-shard pack + shuffle-key windows (no SinglePartition stage), round-robin interleave is a map-side formula",
    "t26_semantic_decontaminate" -> "semantic decontamination: eval vectors broadcast (BroadcastNestedLoopJoin), corpus scored map-side, only e6-floored integer hits reach the partial+final agg",
    "t27_domain_quality_cut" -> "per-domain quality cut: bounded exact median per source (counts + one WindowExec), threshold table broadcast back over the cached scored stage — corpus never shuffles",
    "t29_bpe_encode" -> "BPE encode: learned word→segmentation map broadcasts, corpus token stream joins map-side, per-doc count agg — the corpus never shuffles for the lookup",
    "t30_gopher_repetition" -> "Gopher repetition: one scan, three map-combined (doc_id[, gram]) branches; dup coverage = count + semi-join re-scan (the d14 shape within-doc), never pairwise, no corpus window",
    "t31_pii_redact" -> "PII/blocklist scrub: one narrow scan, all regex counts + 4-stage replace inside WholeStageCodegen — no shuffle but the output sort",
    "t33_lm_score" -> "bigram LM scoring: vocabulary-sized unigram/bigram tables broadcast, token stream scored map-side, per-doc integer mean is the only data-sized shuffle",
    "t34_curation_pipeline" -> "end-to-end curation: PII/blocklist gates fused into the scan, coverage + LM stages reuse the cached survivor frame, exact median via bounded per-value counts, dedup + per-source rollup are the only corpus-keyed shuffles",
    "s09_ann_ivfpq" -> "IVF-PQ composition: probes × LUTs broadcast into the cell join, ADC fold + bounded-heap candidates, exact rerank — corpus side never exchanges",
    "t36_contamination_report" -> "eval-side contamination report: eval grams broadcast into both training-stream joins, per-eval aggregates map-combined — training corpus never shuffles raw text",
    "d19_semantic_dedup" -> "SemDeDup: IVF cell-key equi-join candidates → exact cosine ≥ τ verify → pointer-jumping components → keep-best-norm canonical — never all-pairs, policy is one map-combined aggregate",
    "d20_incr_semantic" -> "incremental semantic dedup: delta probes broadcast into the shared PERSISTED index's Bucketed: true _cells scan — corpus never re-pairs, cost scales with the delta",
    "s10_filtered_ivfpq_gate" -> "filtered IVF-PQ: label rides the (cell, label) probe join against the Bucketed: true _pq codes scan — non-matching vectors never get an ADC fold, only probed cells' codes read",
    "t39_hybrid_rrf" -> "hybrid BM25+vector RRF: query terms/vectors broadcast, per-term scores e6-floored before the integer sum, both legs cut top-20 through partial+final bounded heaps, windows only rank reduced rows",
    "t43_bm25_indexed" -> "BM25 from the PERSISTED posting-list index: bucket-PRUNED Bucketed: true _postings scan (term IN prunes bucket files), Exchange-free per-(term,doc) re-agg and df count on the bucket layout, 1-row stats broadcast — the corpus is never re-tokenized",
    "q85_global_quartiles" -> "global exact quartiles: distributed CDF — per-value counts, arithmetic-bounded shard totals collected, offsets broadcast, cumulative window partitioned by shard (no single-reducer stage)",
    "g01_pagerank" -> "integer PageRank SERVED from the persisted edge index (round 12): every iteration's edge side is the Bucketed: true _edges scan — zero edge-side Exchange, pinned — and only node-sized rank/contribution frames shuffle, in-sums map-combined; the fact tables never appear (g04 pins served == fresh inline)",
    "g02_bfs_levels" -> "label-frame BFS from the persisted edge index: per-hop frontier-only joins against the Bucketed: true _edges scan run as checkpointed jobs (this final plan shows the level aggregation over the flat hop relations + the distance spine left join); the hop shape itself is pinned in PlanShapeSpec",
    "g03_components" -> "connected components: thresholded affinity pairs (map-combined count agg), pointer-jumping label rounds are checkpointed node-sized jobs, final per-component rollup",
    "g07_shortest_paths" -> "bounded Bellman-Ford from the PERSISTED weighted edge index (round 12): per-round frontier-only relaxation against the Bucketed: true _edges scan (map-combined per-dst min before its node-sized Exchange; shape pinned in PlanShapeSpec), final plan is the top-100 TakeOrderedAndProject over the flat checkpointed label frame",
    "q88_global_cont_quartiles" -> "global interpolated quantiles: the q85 distributed CDF (per-value counts, shard-partitioned cumulative window, broadcast offsets) with lo/hi bracket ranks as driver literals — one pass serves all three fractions, output scaled-BIGINT",
    "q90_fuzzy_name_join" -> "fuzzy ed<=1 join: exact-duplicate names collapse to DISTINCT classes first, deletion-variant explode + variant EQUI-join run on classes only (never a cross join, never Sum(count(name)^2) candidates), levenshtein staged once, key pairs expand output-proportionally at the end (intra-class d=0 via a name-keyed self-join)",
    "q91_asof_nearest" -> "nearest as-of: tagged union shuffled once by key, backward last() + forward first() carries share ONE Window operator (same spec, frames differ), direction chosen by integer-microsecond distance — no range nested-loop",
    "q92_asof_forward" -> "forward as-of: the q23 one-shuffle tagged-union shape mirrored — first() over the FOLLOWING frame instead of last() over PRECEDING, one WindowExec, no range nested-loop",
    "g06_pagerank_directed" -> "directed PageRank with dangling redistribution, SERVED from the persisted edge index (round 12): the customer->supplier digraph is the even-src filter of the Bucketed: true _edges scan (filter preserves the bucketed HashPartitioning — pinned), per-iteration sink-mass fold is a 1-row BIGINT agg broadcast back (single division — run-order exact), node frames localCheckpointed so this final plan is the top-100 TakeOrderedAndProject over a flat local relation",
    "g09_personalized_pagerank" -> "personalized PageRank from the PERSISTED weighted edge index: Bucketed: true _edges scan, zero edge-side Exchange (pinned), seed set broadcast, weighted shares staged multiply-then-divide (overflow-safe), per-dst sums map-combined — final plan is the top-100 over the flat checkpointed rank frame",
    "g10_triangles" -> "triangle count SERVED from the shared memoized core (persisted co-occurrence artifact + once-per-fixture oriented-adjacency closure — this final plan is two 1-row aggs over the flat checkpointed perEdge/deg relations); the core's edge-iterator shape (degree-ordered orientation okey = deg*2^32 + id bounding out-degree O(sqrt E), array_intersect over sorted out-neighbor arrays, wedges NEVER materialized, map-side intersect-size sum) is pinned in PlanShapeSpec on the inline twin g12 keeps row-identical",
    "g11_clustering_coeff" -> "clustering coefficient SERVED from the same shared core as g10: triangle-count-bounded credit explode (src/dst get witness-set sizes, witnesses get 1) unions into ONE map-combined per-node sum, degree left-join, integer coef_e6 division, top-100 TakeOrderedAndProject — no second wedge pass, no CartesianProduct; the credit/tail shape is pinned in PlanShapeSpec on the inline twin",
    "q93_skyline" -> "2-D skyline: per-(price,size) counts + per-price max (both map-combined), shard-partitioned prefix-max window + broadcast strict-prefix shard maxima, survivors equi-join back — no quadratic dominance join",
    "q94_equidepth_bins" -> "global equi-depth histogram: the q85 CDF pass with integer bucket ids (cum*B + n-1) div n — per-value counts map-combined, shard-partitioned cumulative window, tiny bucket agg; exact global ntile with NO single-reducer window, no global sort",
    "q96_robust_by_key" -> "per-key robust stats: two discByKey passes + med/mad joins + final count, EVERY shuffle keyed on the group column (one partitioning reused end-to-end, no driver round-trips — contrast q95's global twin where 1-row pass results become literals)",
    "q97_equidepth_by_key" -> "per-key equi-depth bins: per-(key,value) counts map-combined, ONE cumulative window partitioned on the REAL group key (no shard machinery — the key set is the parallelism), bucket ids (cum*B + n-1) div n with per-key n as an integer COLUMN joined on the key — no driver round-trips, every shuffle on the group column",
    "q98_cont_quartiles_by_key" -> "per-key interpolated quartiles x4: one per-(key,value) count pass + cumulative window on the group key serves all four fractions; lo/hi bracket ranks are integer COLUMNS (per-key n varies — contrast q88's global twin where they are driver literals), interpolation in scaled BIGINT — every shuffle keyed on the group column",
    "q99_weighted_by_key" -> "per-key WEIGHTED quartiles: cumulative-WEIGHT window over per-(key,value) weight sums (the per-unit multiset is never expanded), threshold ranks as integer columns off the per-key weight totals join — every shuffle on the group key, no driver round-trips",
    "q100_winsorized_by_key" -> "per-key winsorized mean: a discByKey pass computes exact per-key P5/P95 fences, the clip join re-reads the CACHED revenue frame (one scan feeds both quantile pass and clip), clipped values sum as integer cents — every shuffle on the group key",
    "t45_phrase_indexed" -> "phrase search from the PERSISTED positional index: bucket-PRUNED Bucketed: true _positions scan (term IN prunes bucket files), phrase table broadcast, one candidate-start shuffle — the corpus is never re-tokenized (zero documents scan)",
    "g14_lpa_communities" -> "label-propagation communities from the PERSISTED weighted co-occurrence index: per-round vote = map-combined (node, label) weight sums off the Bucketed: true _edges scan (zero edge-side Exchange, pinned) folded through ONE packed-BIGINT HashAggregate argmax (ws*2^32 + (2^32-1-label), ties to smallest label); rounds localCheckpointed with early stop — this final plan is the per-community rollup over the flat label relation; the vote shape is pinned in PlanShapeSpec",
    "d21_knn_clusters" -> "kNN-graph + semantic clusters: IVF cell equi-join candidates (narrow rows, never all-pairs) → e6 cosine verify → partial+final TopKPerKey heaps per source (no corpus-wide rank window) → canonical-edge distinct → per-cluster rollup over the pointer-jumping label relation; the heap/no-cartesian shape is pinned in PlanShapeSpec",
    "s15_radius_search" -> "radius (range) search: queries broadcast, native vector_dot cosine + e6 threshold inside WholeStageCodegen — non-matching rows die in the scan stage, only |hits| rows reach the output sort; the indexed path (s16) answers the same contract from the Bucketed: true _cells scan",
    "g17_incr_components" -> "incremental connected components: the frozen base label table remaps through a BROADCAST of the delta-sized contracted super-graph fixpoint (edge addition only merges — contraction preserves connectivity, min labels compose) — the corpus-sized edge set is never re-scanned; delta derivation is one map-combined fact-join agg; affected-component restriction is a second broadcast semi-join on the label",
    "s19_l2_topk" -> "exact L2 top-5 (the metric option's brute-force baseline): queries broadcast, native vector_dot d² composition inside WholeStageCodegen, bounded per-query heaps under the FLIPPED order (d2_e6 asc) — never a corpus-wide rank window; the indexed path (s20) answers from the bucketed L2 artifact's _cells scan",
    "t48_lm_index_gate" -> "persisted bigram-LM gate: the corpus-sized tokenize+count train passes live in the bucketed _uni/_big artifact (built once per fixture); every t33/t34 scoring call broadcasts the re-aggregated vocabulary-sized tables (Exchange-free on the buckets) — the scoring pass is the only data-sized work left on their plans",
    "g18_incr_triangles" -> "incremental triangles/LCC: orientation-free A/B/C delta classes — base adjacency RESTRICTED to delta endpoints (broadcast semi, one pass, never closed), delta wedges + delta-only closure both delta-sized, per-node credits outer-merge onto the frozen memoized core (this final plan is the endpoint-restricted coef rollup over flat checkpointed relations) — the oriented-adjacency closure never re-runs",
    "g19_incr_lpa" -> "incremental LPA: per-round vote recomputed ONLY inside the growing delta ball (each round's single broadcast-semi edge restriction serves both the vote and the next hop), frozen per-round history packed into one (node, l1..l4) frame restricted to the ball's neighbourhood in ONE scan, final labels = one node-sized patch pass (the g17 remap floor) — measured FLAT (1.04x) under 4x edges where the rebuild scales 2.44x",
    "g20_incr_modularity" -> "incremental modularity of the maintained labelling: community-sized Δtot outer-merge (ball nodes leave with BASE strength, re-enter with UNION strength), Δintra over base edges with a CHANGED endpoint + the delta edges, Q recomputed through the same 128-bit DECIMAL div — no node-sized aggregation anywhere",
    "s24_l2_pq_gate" -> "L2-metric PQ/IVF-PQ: per-query squared-distance LUTs broadcast into the cell-bucketed _pq codes scan (zero index-side Exchange — the cosine pin mirrored), ADC d^2 fold ranks ASCENDING through partial+final bounded heaps, exact d2_e6 rerank against _cells under the flipped order",
    "g21_incr_bfs" -> "incremental BFS levels (the g19 locality engine at unit weights): per-round min-relax recomputed only inside the growing delta ball, frozen packed per-round distances restricted in one scan, final profile = one node-sized patch pass + the 5-row level agg — the fixture's bipartite diameter-2 saturation means the gate proves no-corruption (improvement pinned by the crafted spec; the honest regime analysis lives in isp100)",
    "g22_incr_sssp" -> "incremental bounded-round SSSP: the same ball-patched min-relax over the weighted purchase index with a CHEAP (w=2) delta so fixture improvements are real; top-100 off the patched node-sized table — reach-coupled ball documented (rooted bounded-round distances win only where the affected cone is smaller than the reach; isp100 measures the negative regime deliberately)",
    "g23_harmonic_centrality" -> "harmonic centrality profile: the memoized 8-seed level-synchronous forward pass (frontier joins the bucketed co-occurrence scan on src — zero edge-side Exchange, pinned; σ sums map-side-combine on (seed, node)), h12 = Σ 12 div d held integer-exact, profile rollup = two node-sized HashAggregates",
    "g24_stress_centrality" -> "stress centrality (integer-exact betweenness sibling): σ off the shared forward pass, backward continuation counts g(v) = Σ (g(u)+1) level by level through REVERSED edges of the same src-bucketed table (zero edge-side Exchange in both passes), σ·g rollup to a top-100 total order — no rational arithmetic anywhere",
    "g25_katz_centrality" -> "Katz centrality, truncated-series integer-exact: 4 node-sized walk-count rounds x_k = A·x_{k-1} over the bucketed co-occurrence scan (zero edge-side Exchange — the katzRound pin), katz_e = Σ 8^(4−k)·x_k as one union+HashAggregate — walks not paths, so no frontier/visited machinery at all",
    "g26_hits" -> "HITS hubs/authorities, bounded-round raw-integer counts (normalization only rescales within a round — top-k identical, arithmetic BIGINT-mirrorable): both alternations are katzRound joins over the persisted purchase table's even-src and odd-src halves (filter preserves the bucketed HashPartitioning — the g06 precedent, twice), top-50 each side",
    "g27_assortativity" -> "degree assortativity (Newman r) as ONE exact 128-bit rational: integer sums over directed edges in DECIMAL(38,0), e9-scaled through the g15 offset-nonneg div; degrees Exchange-free off the bucketed scan, one edge-sized dst re-key — the documented price of pairing both endpoint degrees",
    "q101_change_point" -> "CUSUM change-point (mean-shift MLE) per event type: D_k = n·cum − k·tot all-BIGINT (the mean never materialized), cum/k/tot/n riding ONE same-spec WindowExec, per-type argmax via the TopKPerKey bounded heap — never a second rank window or a single reducer",
    "q102_mann_kendall" -> "Mann-Kendall monotone-trend test per event type: S = Σ sign(x_j − x_i) over the DAILY aggregate (the pairwise self-join is calendar-bounded, never event-sized; the corpus-sized work is one map-side-combined daily agg), tau_e6 through the offset-nonneg IntegralDivide — pure BIGINT end to end",
    "q103_autocorrelation" -> "exact ACF lags 1–3 per event type: n-scaled num/den in DECIMAL(38,0) (the mean never materializes, Cauchy-Schwarz keeps the offset div sound), all three leads in ONE same-spec WindowExec, the unpivot one stack generator over the type-sized agg row — never a per-lag union replanning the corpus pass",
    "q104_concentration" -> "per-nation Gini + HHI in exact integers: rank·rev and rev² staged in DECIMAL(38,0), the rank window on the REAL nation key (never a single reducer), the corpus-sized work one map-side-combined per-supplier agg — rearrangement inequality keeps the Gini dividend nonneg so div ≡ //",
    "t51_pmi_collocations" -> "PMI collocation extraction: bigram/unigram counts as two map-side-combined aggs over one corpus scan each, then VOCABULARY-sized frames only — unigram joins shuffle on the word key (never broadcast: a 100 TB vocabulary outgrows it), N as a broadcast 1-row cross join, lift_e6 staged in DECIMAL(38,0)",
    "g28_link_prediction" -> "link prediction (common-neighbors + Jaccard): wedge self-join of the src-bucketed edge table on its bucket key — both sides, the degree agg, and the hub-cap semi-join Exchange-free (pinned); deg > 64 centers excluded bounding wedges to cap·|E|; one documented (u,v) re-key for the non-edge anti-join; top-100 via TakeOrderedAndProject")

  def main(args: Array[String]): Unit = {
    val spark = GraftSession("graft-plans")
    // a runtime override: builders' newSession() children copy the
    // caller's runtime SQL conf (q83), so it reaches every plan
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.maxMetadataStringLength", "200")
    spark.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.001"
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of the flagship queries\n\n")
    sb.append("Generated by `sbt \"runMain graft.Plans\"` (AQE off for static-plan\n")
    sb.append("visibility; sf0.001 inputs — plan shape is sf-independent).\n")
    Flagships.foreach { case (name, note) =>
      val df = SparkEntry.queries(name)(spark, sf)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      sb.append(s"\n## $name — $note\n\n```\n$plan```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${Flagships.size} plans)")
    spark.stop()
  }
}
