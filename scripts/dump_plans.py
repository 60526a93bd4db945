"""Regenerate PLANS.md: condensed physical plans for headline queries.

For each selected query: the Catalyst physical-plan tree (the
`.explain("formatted")` operator section, details elided), a marker
summary (exchanges / broadcasts / pushed filters / codegen spans),
and a hand-written note on why that plan is the one we want at
100 TB. Run from the repo root:

    python scripts/dump_plans.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# query -> why this plan is right at scale
NOTES: dict[str, str] = {
    "q1_pricing_summary": (
        "The shipdate filter is in `PushedFilters` (parquet row-group "
        "skipping) and `ReadSchema` carries only the 7 referenced "
        "columns of 16. One exchange: the partial aggregate runs "
        "map-side, so the shuffle moves 6 grouped rows per partition, "
        "not 600M lineitems."
    ),
    "q5_region_revenue": (
        "All four dimension joins are `BroadcastHashJoin` — the fact "
        "table never shuffles for a join; the single exchange is the "
        "final groupBy. At 1000 executors the dims ship once per "
        "executor, not once per row."
    ),
    "q2_min_cost_supplier": (
        "The correlated min subquery is a window min over ps_partkey, "
        "not an aggregate-plus-self-join: two exchanges total (the "
        "partsupp-derivation groupBy, the window repartition) and no "
        "SortMergeJoin. The supplier/nation/region side folds to one "
        "broadcast."
    ),
    "q9_product_profit": (
        "part (pre-filtered by the LIKE), supplier and nation "
        "broadcast; lineitem joins orders on the order key. One "
        "hash-partitioning exchange feeds the final agg — the plan "
        "a 100 TB fact table wants: nothing shuffles twice."
    ),
    "q21_suppliers_kept_waiting": (
        "The EXISTS (leftsemi), NOT EXISTS (leftanti) self-joins and "
        "the orders join all hash on l_orderkey, so AQE reuses one "
        "exchange layout across all three; supplier/nation broadcast."
    ),
    "q_asof_join": (
        "As-of join as union-marker + window, not a per-key loop: "
        "one exchange co-partitions quotes and trades, the window "
        "carries the last quote forward. No BroadcastNestedLoop, no "
        "range explosion."
    ),
    "p_dedup_exact": (
        "One exchange on md5(text) — uniform by construction, so no "
        "skew handling is needed at any scale."
    ),
    "p_dedup_minhash_lsh": (
        "Signatures come from the shared per-corpus persisted frame "
        "(round 9: InMemoryTableScan here — computed once, reused by "
        "the split-leakage audit, one md5-over-shingles pass per "
        "corpus); the only wide stage is the (band, key) candidate "
        "self-join. Band keys are md5-derived, so the shuffle is "
        "uniform; signature verification rides on the already-joined "
        "rows. Pathological identical-doc buckets are refused by the "
        "opt-in lsh_bucket_guard (off here for oracle exactness)."
    ),
    "p_knn_bruteforce": (
        "Query vectors broadcast; the corpus scan computes dot "
        "products map-side and the per-query top-k aggregates "
        "partially before the single exchange."
    ),
    "p_text_repetition": (
        "Whole pipeline is one `WholeStageCodegen` span over the "
        "scan — sorted-runs repetition counting is O(n log n) per row "
        "with zero shuffles, so it streams at scan parallelism."
    ),
    "p_doc_chunking": (
        "Chunking is explode-over-sequence in the scan stage: row "
        "multiplication without any exchange; output partitioning "
        "follows the input file layout."
    ),
    "p_sequence_pack": (
        "The running token offset windows over the source shard — "
        "one exchange on source, never a global single-partition "
        "sort; the final agg is partial+final on top of the same "
        "partitioning."
    ),
    "q_skew_salted_join": (
        "The hot key (50% of rows) joins on (key, salt) so its rows "
        "hash to 16 distinct shuffle partitions instead of one "
        "straggler; the small side replicates 16x pre-shuffle. "
        "test_skew_demo_no_straggler pins the partition-balance "
        "property physically."
    ),
    "la_reference_ingest": (
        "binaryFile scan parallelizes over block files; the "
        "vectorized parse emits grid-aligned row segments and ONE "
        "shuffle on (bi, bj) assembles blocks — each ingested byte "
        "crosses the wire exactly once, keyed uniformly by block "
        "coordinate."
    ),
    "p_multimodal_header_decode": (
        "Two chained mapInPandas stages (synthesize -> parse) with no "
        "exchange between them — payload bytes stay in the same task "
        "from synthesis through header decode; only (doc_id, dims) "
        "rows ever move."
    ),
    "p_multimodal_decode_png_real": (
        "Same exchange-free two-stage mapInPandas shape as the header "
        "decode, but stage 2 is a REAL codec (zlib inflate + scanline "
        "unfilter) — the plan to check is that the decoded pixel "
        "arrays never leave the Python worker: only the 5-column "
        "stats row crosses Arrow back. At 100 TB of images this is "
        "the decode-at-the-data pattern (codec CPU scales with "
        "executors; the shuffle volume is metadata-sized regardless "
        "of payload bytes)."
    ),
    "p_multimodal_gif_frames": (
        "The explode-shaped codec plan (rows out > rows in, one per "
        "decoded frame): still ZERO exchanges — the animation, its "
        "composited canvas stack, and the per-frame reduction all "
        "stay inside one Python worker; only (doc_id, frame_no, "
        "sums) rows cross Arrow. This is the same shape a real "
        "video-frame-extraction stage would have, with the codec "
        "swapped behind the same seam."
    ),
    "p_multimodal_video_frames": (
        "The real video-frame-extraction stage the GIF note "
        "promised: a full AVI container and its MJPEG frames decode "
        "inside one Python worker with ZERO exchanges — payload "
        "bytes, the RIFF walk, and every T.81 frame decode never "
        "leave the task; only per-frame stat rows cross Arrow. At "
        "100 TB this is the canonical pattern: video decode is "
        "embarrassingly parallel per-file, so the plan's only "
        "scaling knob is executor cores (and the codec behind the "
        "decode_avi_frames seam — swap in ffmpeg bindings for "
        "H.264 with no plan change)."
    ),
    "p_multimodal_decode_jpeg_real": (
        "The JPEG twin of the PNG plan: two chained mapInPandas "
        "stages with zero exchanges — the entropy-coded payload and "
        "the decoded pixel array both live and die inside one Python "
        "worker; only the 6-column stats row (now including the "
        "position-weighted checksum) crosses Arrow back. The codec "
        "is CPU-heavier than PNG's inflate (per-bit Huffman), which "
        "is exactly the work that scales with executor count and "
        "ships zero shuffle bytes."
    ),
    "p_decontaminate": (
        "The benchmark shingle set broadcasts (an eval suite is tiny "
        "at any corpus scale); the training side joins map-side — the "
        "corpus never shuffles on the shingle key. The only wide "
        "exchanges are the per-doc count aggregations."
    ),
    "q_recursive_cte": (
        "The recursion materializes a 12-row month spine; the join "
        "against orders is a broadcast of the spine, so the fact "
        "table is scanned once and never shuffled."
    ),
    "q_merge_upsert": (
        "MERGE lowers to ONE full-outer sort-merge join plus "
        "row-local branch expressions — full outer can never "
        "broadcast, so both sides shuffle on the merge key exactly "
        "once; that single target-side shuffle is the same bill a "
        "copy-on-write MERGE pays in any ACID table format. The "
        "date filter on the change batch is in PushedFilters, so "
        "the source side reads only the touched months."
    ),
    "q_merge_upsert_broadcast": (
        "The small-batch MERGE strategy: every join is a "
        "BroadcastHashJoin (classify, semi, anti) and the plan "
        "contains ZERO hash exchanges on the target side — the "
        "customer table is scanned twice but never moved. The only "
        "exchanges are the tiny source's own groupBy and the "
        "duplicate-guard window over the already-grouped batch."
    ),
    "q_interval_join": (
        "Points-in-intervals as an EQUI join: intervals explode into "
        "their ≤2 time buckets, points map to one bucket, and the "
        "range predicate is a residual filter after a hash join on "
        "the bucket ordinal — no BroadcastNestedLoopJoin anywhere in "
        "the tree (pinned by pytest with broadcast disabled). At "
        "100 TB both sides stay distributed; replication is bounded "
        "at 2× on the interval side only."
    ),
    "q_fuzzy_join": (
        "Edit-distance join as a length-banded equi-join: the ≤1 "
        "distance bound implies a ≤1 length delta, so the right side "
        "explodes a 2-wide length band and Levenshtein runs as a "
        "residual filter on hash-join candidates — the O(n²) theta "
        "join never appears."
    ),
    "q_triangle_count": (
        "Wedge join on the middle vertex, closure join on the (a,c) "
        "pair — two hash shuffles over canonically-ordered edges, "
        "each triangle produced exactly once. Skewed hubs are the "
        "known hazard; AQE skew-join handles moderate skew and the "
        "canonical ordering approximates degree-orientation."
    ),
    "q_funnel": (
        "Each funnel stage is a user-cardinality aggregate joined to "
        "the previous stage's timestamps; stage tables shrink "
        "monotonically so later joins broadcast, and the event table "
        "is scanned once per stage with the event_type filter pushed "
        "into the parquet scan."
    ),
    "p_bm25_score": (
        "One doc_id shuffle for tf/dl; document frequency and corpus "
        "stats are term-cardinality-sized and broadcast. The scoring "
        "arithmetic is row-local JVM expressions inside the codegen "
        "span — no UDF in the hot path."
    ),
    "q_snapshot_diff": (
        "Two filtered scans of the same fact table aggregate to "
        "per-key rollups, then one full-outer join classifies every "
        "key with null-safe comparisons. Cumulative-snapshot "
        "semantics mean the date filters are in PushedFilters and "
        "the second snapshot reuses the first's exchange "
        "partitioning where AQE can prove it."
    ),
    "q_pagerank": (
        "Each power iteration is one shuffle keyed on node id: the "
        "edge list (the only large input) joins the node-sized rank "
        "table — broadcast below threshold, shuffle-join above — "
        "and aggregates contributions per destination. Edge weights "
        "and out-degrees are computed once and persisted "
        "hash-partitioned on the join key (r14: the groupBy left the "
        "cache partitioned on (src, dst), so every round re-exchanged "
        "the edge side; with the cache on src only the node-sized "
        "rank table shuffles per round). Iteration count is fixed, "
        "so the plan is 3 identical stages, not a driver-side "
        "convergence loop."
    ),
    "q_incremental_agg": (
        "The refresh path: partial aggregates of base and delta "
        "partitions merge through one full-outer join on the group "
        "key. At scale the base side is a pre-bucketed materialized "
        "state, making refresh cost O(delta) + a co-partitioned "
        "merge — the naive full rescan appears only in the oracle."
    ),
    "q_gaps_islands": (
        "One window pass (row_number over the customer-partitioned "
        "date order) and one aggregation over the derived island "
        "anchor — both keyed on the same customer column, so AQE "
        "reuses the exchange; no self-join appears anywhere in the "
        "plan."
    ),
    "q_ols_regression": (
        "Grouped-TSQR least squares: two applyInPandas stages — "
        "(group, partition) local R factors, then a per-group "
        "reduction — so the bytes shuffled per group are "
        "O(partitions × (p+2)²) doubles, independent of row count. "
        "The lineitem scan reads only the 3 referenced columns."
    ),
    "q_abc_classification": (
        "The cumulative share runs on the distributed prefix_sum: a "
        "RangePartitioning exchange on the revenue sort key, a "
        "per-partition running-sum window (partitioned by "
        "spark_partition_id, so NO single-partition WindowExec "
        "appears), and a broadcast join against the K-row offset "
        "table. The widest stage is the ordinary sort-shuffle any "
        "global ORDER BY pays — valid at a 100M-part rollup."
    ),
    "q_winsorize": (
        "The exact p05/p95 thresholds aggregate to 5 rows and come "
        "back as a BroadcastHashJoin onto the fact scan — the "
        "lineitem table is read twice (threshold pass + clip pass) "
        "but never shuffles on a new key, and the clip itself is a "
        "codegen'd CASE expression, not a UDF."
    ),
    "p_unigram_lm_score": (
        "Train-then-score in one plan: token counts are a mergeable "
        "partial aggregate (map-side combine before the token "
        "shuffle), the corpus total broadcasts as a scalar, and the "
        "score join shuffles on the uniform token key — no driver "
        "materialization of the vocabulary anywhere."
    ),
    "q_skyline": (
        "Local-then-global Pareto frontier: the distinct shuffle is "
        "the only full-data exchange; each partition's pandas pass "
        "emits only its local skyline, so the coalesce(1) global "
        "pass is bounded by the sum of local frontiers (measured: "
        "20M rows / 100k-point frontier in 42 s, BENCH_NOTES). The "
        "recovery join broadcasts the frontier."
    ),
    "q_window_count_distinct": (
        "Running COUNT(DISTINCT) as first-occurrence markers + "
        "running sum: two user-keyed sort exchanges, no per-row set "
        "state — the collect_set alternative carries O(distinct) "
        "state per row and dies at scale."
    ),
    "q_time_rollup_hierarchy": (
        "One Expand + one partial-aggregated exchange produces day, "
        "month, year and grand-total rollups simultaneously — the "
        "shuffle carries ~4x day-level cardinality, not 4 scans of "
        "the fact table."
    ),
    "q_attribution_last_touch": (
        "One user-keyed sort exchange for the IGNORE-NULLS last-touch "
        "lookup, then a 3-key map-side-combined agg: attribution at "
        "100 TB is exactly one shuffle of the events table."
    ),
    "p_mixture_resample": (
        "The corpus never shuffles: per-language acceptance ratios "
        "come from a 5-row aggregate broadcast back, and the "
        "keep-test is a stateless hash expression in the scan stage."
    ),
    "p_set_similarity_ppjoin": (
        "Prefix filtering keeps the candidate self-join exact but "
        "pruned: only the |x|-ceil(tau|x|)+1 globally-rarest tokens "
        "per doc enter the join, so stop-word buckets (the inverted "
        "index's quadratic hazard) never shuffle. Verification is "
        "array_intersect on already-joined rows — no second pass "
        "over the corpus. The 1M-doc smoke's stop-token design "
        "proves the pruning: admitted stop tokens would make the "
        "run quadratic, not slow."
    ),
    "q_spatial_grid_join": (
        "A big-x-big distance join with no cross join: both sides "
        "hash-exchange on the grid cell (the right side at constant "
        "9x fan-out for the neighbor cells), and the distance "
        "predicate runs row-local post-join in integer math. "
        "Candidate pairs scale with local density, not n^2; a dense "
        "hotspot cell is the one residual hazard, mitigated by the "
        "same salting pattern as skew.salted_join."
    ),
    "q_acf_hourly": (
        "The lag-window formulation would funnel the series through "
        "one task; the lag self-join keeps the plan a hash exchange "
        "on the hour key with corr as an ordinary partial-merged "
        "aggregate. Same plan shape holds for per-key ACF at any "
        "cardinality."
    ),
    "q_global_row_number": (
        "row_number() OVER (ORDER BY ...) with no SinglePartition "
        "window: a range exchange (the unavoidable price of a total "
        "order), per-partition row numbering, and a K-row broadcast "
        "of partition-count offsets. The widest stage equals a "
        "global ORDER BY's — nothing is serialized."
    ),
    "q_bloom_prefilter_join": (
        "The probe (fact) side reaches the real join through k "
        "BroadcastHashJoins against the m/64-row bloom words frame "
        "— no SortMergeJoin/ShuffledHashJoin anywhere on the probe "
        "path, so the fact table is never shuffled until the bloom "
        "has already killed the non-matching ~96%. The build-side "
        "bit_or aggregation runs ONCE: the words are a bounded "
        "filter artifact (m/64 rows), collected and re-broadcast as "
        "a LocalTableScan per probe (r8; 14→10 jobs, no cache)."
    ),
    "q_ks_2sample": (
        "Both ECDF running counts share ONE range exchange (the "
        "multi-column prefix_sum): grouping by distinct value "
        "map-side combines first, so the sort-shuffle carries one "
        "row per distinct value, not per event. The ANSI twin is a "
        "single-partition ORDER BY window — the scale trap this "
        "plan exists to avoid."
    ),
    "q_gini_spend": (
        "The global rank rides assign_global_ids: range exchange + "
        "per-partition numbering + K-row offset broadcast; the "
        "final Gini reduction is one partial-aggregated row. No "
        "SinglePartition window despite the ORDER-BY-all semantics."
    ),
    "q_point_in_time_join": (
        "SCD2 AS-OF semantics without the quadratic interval join: "
        "change points and facts union into one frame and a single "
        "custkey-partitioned sort window sweeps the valid dimension "
        "value onto each fact. One sort shuffle total, regardless "
        "of how many intervals each key accumulates."
    ),
    "p_split_leakage_neardup": (
        "Signatures are per-doc JVM array expressions (zero "
        "shuffle); the only data-sized exchange is the (band, bkey) "
        "candidate join between the held-out and train band frames; "
        "exact-Jaccard verification joins shingle sets for candidate "
        "pairs only. The corpus never takes an all-pairs join — the "
        "brute-force cross-split Jaccard the DuckDB oracle runs is "
        "exactly the plan this operator exists to avoid."
    ),
    "q_avro_roundtrip": (
        "The Avro files enter the plan as a PythonDataSource scan "
        "with one input partition per container file (write "
        "parallelism round-trips into read parallelism; r14 the "
        "egress repartitions to the session parallelism so the "
        "Python codec fans out instead of running ~single-task, and "
        "both directions cross the JVM boundary as Arrow "
        "RecordBatches, not pickled rows), feeding a partial+final "
        "hash aggregate. The codec itself is the Python interchange "
        "path — at 100 TB the JVM spark-avro package reads the same "
        "files with this same plan shape."
    ),
    "q_poisson_bootstrap_ci": (
        "One round-robin exchange of the 2-column pre-explosion "
        "projection (spreads the R=64x CPU work when the scan has "
        "fewer splits than cores — the exchange is R x smaller than "
        "the work it parallelizes), then explode + md5 + the CASE "
        "ladder run fused inside one codegen span; the groupBy(r) "
        "map-side combines to R rows per task, so the only "
        "data-sized cost is the stateless expansion map. Error bars "
        "on a 100 TB aggregate in one extra pass."
    ),
    "q_auc_roc": (
        "Identical scale skeleton to q_mannwhitney_u: the raw scan "
        "collapses to one row per DISTINCT score (map-side partial "
        "agg), midranks ride prefix_sum's single range shuffle, and "
        "the AUC is one exact-arithmetic fold — no per-row window "
        "over the events ever exists in the plan."
    ),
    "q_label_propagation": (
        "Each of the 3 label-propagation rounds is one edge-vs-label "
        "hash join keyed on node id plus two node-cardinality "
        "groupBys with map-side combine — the identical exchange "
        "shape as q_pagerank's power iteration, so the same "
        "broadcast-to-shuffle degradation applies as the label "
        "table outgrows the threshold. Edge sparsification lowers "
        "to TakeOrdered; the per-node argmax window partitions on "
        "node id (never a global window). Since r13 every round "
        "ends in the stats barrier (jobs 40 -> 33; the unbarriered "
        "loop nested 2^rounds plan copies), so the rounds execute "
        "eagerly and the final plan below is just the pinned "
        "result — the per-round shape was in "
        "plans/r13/q_label_propagation_after.txt (since deleted)."
    ),
    "p_kmv_source_jaccard": (
        "The corpus is scanned once into per-source bottom-k "
        "sketches (vocab-bounded distinct + per-source rank); "
        "everything after — the pair frame, the union re-rank, the "
        "estimate — is arithmetic on k x |sources| rows (the sketch "
        "is barrier-pinned since r13: unpinned, its three references "
        "re-derived the corpus pipeline six times, two of them under "
        "BroadcastExchange boundaries where AQE reuse cannot fire). "
        "Adding a source to a 100 TB corpus updates the matrix "
        "without rescanning the other sources' text."
    ),
    "p_dedup_boilerplate_lines": (
        "Line fingerprints are md5 — the duplication-count groupBy "
        "shuffles uniformly by construction; the count join back is "
        "keyed on the same fingerprint (at a real corpus the "
        "nd >= k duplicated-line side is small enough to broadcast), "
        "and the two per-doc groupBys (kept-line reassembly, "
        "total line count) are the only other exchanges. "
        "Nothing data-sized reaches the driver; the "
        "1M-doc/7M-line planted smoke (exp_line_dedup_scale.py) is "
        "the closed-form scale evidence."
    ),
    "p_quality_gate": (
        "All six C4/Gopher rule verdicts compute in ONE map-side "
        "codegen span over the scan — the token array sorts once per "
        "doc and distinct-count/top-run read off run boundaries, so "
        "there is no explode and ZERO exchanges; a 100 TB corpus "
        "streams through at scan parallelism and the caller pays "
        "only for whatever it aggregates afterwards."
    ),
    "p_set_similarity_ppjoin": (
        "Prefix filtering shuffles only rarest-first prefix tokens "
        "(small buckets by construction) and the verify join touches "
        "candidate pairs only. The registered audit runs on a "
        "deterministic 10% doc shard + TakeOrderedAndProject: on the "
        "31-token sf vocabulary every qualifying pair must be scored "
        "before any top-k (5.1M pairs at tau 0.7, still 965k at 0.9 "
        "— measured), so sampling, not bounding, controls the "
        "intrinsic pair mass. The unbounded full-corpus emitter "
        "(ppjoin_pairs) keeps the exact pair set for audits; its "
        "40k-doc planted smoke on a realistic Zipfian vocabulary is "
        "the pruning evidence."
    ),
    "p_domain_quota": (
        "Two window stages, each one exchange: phase 1 ranks inside "
        "(domain, salt) buckets so a mega-domain's rows spread over "
        "16 partitions instead of one task's sort; phase 2 re-ranks "
        "per domain over an input bounded at k*salt_buckets rows per "
        "domain regardless of corpus size. Provably equal to the "
        "naive single-window rank (differential pytest)."
    ),
    "p_token_budget_select": (
        "The quality score is a map-side expression; the inclusive "
        "running token total rides prefix_sum's range shuffle (range "
        "repartition + per-partition window + K-row offset fold) — "
        "one sort-shuffle total, never a single-partition global "
        "window — and the budget is a filter on the running column. "
        "The displayed tree is Scan-ExistingRDD + filter because "
        "prefix_sum localCheckpoints to pin its range boundaries; "
        "the one range exchange lives inside that pinned "
        "materialization, not downstream of it. Swap the score "
        "column for a model-based one at 100 TB; the plan is "
        "unchanged."
    ),
    "p_dsir_select": (
        "DSIR importance selection (r13 single-pass form): ONE "
        "explode of the corpus into hashed uni+bigram features, "
        "pre-aggregated to a (doc, lang, bucket) count frame that is "
        "pinned through the stats barrier — the displayed tree is "
        "therefore Scan-ExistingRDD with NO Generate node: both the "
        "bucket-model build (64-row broadcast LLR table, grand "
        "totals via a window over those 64 rows) and the per-doc "
        "scoring aggregate read the one materialized count frame "
        "(before the pin, the explode executed once per subtree — "
        "AQE stage reuse does not fire across the broadcast "
        "boundary; measured 3.40 -> ~1.7 s at sf0.1). Per-doc "
        "weights are one hash aggregate on doc_id (sum c*w(b)); the "
        "top-K cut is TakeOrderedAndProject, never a global sort. "
        "At 100 TB the bucket count grows to the paper's 10^4 and "
        "the plan is unchanged."
    ),
    "q_link_prediction": (
        "Adamic-Adar link prediction: the symmetrized edge list "
        "self-joins on the middle vertex (both sides hash to the "
        "same key — one exchange pair), the degree attach carries "
        "NO forced broadcast (ADVICE r10: degrees are "
        "node-cardinality — billions of nodes would blow the 8 GB "
        "broadcast limit; AQE broadcasts when small, and the "
        "shuffle fallback keys on the same column as the wedge "
        "join, so its exchange is reused), existing edges leave "
        "via an anti-join; the edge list is pinned through the "
        "stats barrier so the caller's edge pipeline derives once, "
        "not once per reference (13 -> 6 exchanges). The 100 TB "
        "hazard is hub fan-out "
        "(deg^2 wedges per middle); max_degree caps any task at "
        "cap^2 pairs — exp_linkpred_scale pins a 20-billion-wedge "
        "hub being removed while all 400k closed-form pairs "
        "survive."
    ),
    "q_spearman_corr": (
        "Spearman per group: each variable collapses to its "
        "value-level histogram (map-side-combined groupBy, "
        "cardinality = distinct values), midranks come from a "
        "running window over that histogram (groups parallelize; "
        "value-level, never row-level state), and rows take their "
        "ranks back through two equi-joins on (group, value). The "
        "final correlation is one 6-sum mergeable aggregate per "
        "group. No row ever carries a row_number."
    ),
    "p_heavy_hitters_exact": (
        "Two-phase heavy hitters: phase 1 is ONE pass computing "
        "the mergeable approx_top_k sketch AND the grand total "
        "together (a single aggregation buffer per partition, NO "
        "token-keyed exchange), pinned as a 1-row frame; phase 2 "
        "exact-counts "
        "ONLY the candidates (broadcast semi-join + a groupBy "
        "whose key cardinality is <= k). The naive plan shuffles "
        "every distinct token; this one moves k counters per "
        "partition plus the candidate counts — exp_heavy_hitters_"
        "scale measured 10 candidate keys vs 1,000,010 distinct "
        "keys at 20M tokens, bit-identical answers."
    ),
    "q_holt_linear": (
        "Holt smoothing: the ONLY data-sized stage is the JVM "
        "groupBy collapsing events to one row per (series, day); "
        "the sequential recursion runs in an Arrow-batched "
        "applyInPandas over calendar-bounded per-series arrays "
        "(30 points here) — the honest shape for an operator with "
        "no order-reducible closed form. Series parallelize across "
        "the cluster; per-series state is two doubles."
    ),
    "p_rrf_fusion": (
        "Reciprocal-rank fusion: the scored pairs frame is pinned "
        "through the stats barrier so both rankers read ONE "
        "materialized broadcast-query corpus pass (unbarriered, "
        "Catalyst re-derived the scoring subtree per window "
        "branch); each pool is a per-query "
        "window over the scored set, and the fusion is a "
        "full-outer join of two bounded top-POOL lists plus a "
        "TakeOrdered. At 100 TB the pools come from the ANN "
        "operators, so fusion cost is O(queries * pool), "
        "independent of corpus size."
    ),
    "q_kcore_peel": (
        "k-core peeling, 3 bounded rounds: per round one "
        "node-cardinality degree aggregate + two semi-joins, with "
        "the _fresh_stats_barrier lineage+stats reset ending every "
        "round — each round references its input three times, so "
        "an unbarriered loop re-derives the base 3^r times "
        "(measured 24 s vs 12 s at three rounds). The graph only "
        "shrinks, so per-round shuffle volume is monotonically "
        "decreasing. The displayed tree is Scan-ExistingRDD + aggs "
        "because rounds are checkpoint-pinned."
    ),
    "q_changepoint_binseg": (
        "Binary segmentation: level 1 is the CUSUM query's plan "
        "(day-collapse groupBy, prefix_sum range shuffle, "
        "TakeOrdered top-1); level 2 derives each segment-local "
        "CUSUM as an affine function of the SAME prefix-sum column "
        "with the split row arriving as a broadcast 1-row frame — "
        "no second pass over the data, no driver round-trip, and "
        "the argmax per segment is a 2-partition window over the "
        "date-bounded series."
    ),
    "q_seasonal_decompose": (
        "Seasonal decomposition: the fact scan collapses to one "
        "row per DAY (map-side combine) — the only data-sized "
        "stage; the centered 7-day MA and the 7-row DOW seasonal "
        "frame run on the calendar-bounded daily series, and the "
        "seasonal table re-joins as a broadcast. Integer-cents "
        "daily sums make every division exact-int cross-engine."
    ),
    "q_cramers_v": (
        "Cramer's V: one data-sized aggregation (uniform two-key "
        "groupBy with map-side combine) collapses the fact table "
        "to the r x c contingency cells; margins are window sums "
        "over that cell table and V is a 1-row fold. Same plan as "
        "the chi-square query — V just normalizes the statistic "
        "so thresholds survive n growth."
    ),
    "q_theil_index": (
        "Theil index: two mergeable aggregations (fact -> "
        "per-customer spend -> ~25-nation frame) and a 1-row fold "
        "— no ranks, no windows, no global sort; the decomposition "
        "identity T_total = T_between + T_within comes from the "
        "same (n_g, sum x, sum x ln x) sufficient statistics. The "
        "cheapest inequality statistic at any scale (the Gini "
        "needs a global rank)."
    ),
    "q_decile_lift": (
        "Decile lift: the only global-order stage is "
        "assign_global_ids's range sort-shuffle (no ANSI "
        "single-partition ntile anywhere); the decile id is integer "
        "floor-division on the bigint rank, so the equal-depth cut "
        "is deterministic cross-engine; response rates and "
        "cumulative lift run on the 10-row decile frame."
    ),
    "q_attribution_markov": (
        "Markov attribution: ONE lag-window pass per user builds "
        "the transition counts (the q_attribution_* shuffle) — the "
        "only data-sized stage; the |S|^2 <= 49 exact-integer "
        "matrix collects to the driver and the fixed-step "
        "absorption runs per removal chain in plain Python (the "
        "bounded-state _two_sample_counts precedent). A distributed "
        "first cut of the channel-cardinality iteration cost ~25 s "
        "of pure task/planning overhead — bounded driver math is "
        "the honest plan."
    ),
}


def condense(plan: str, max_lines: int = 40) -> str:
    """Keep the operator tree, drop the per-node detail section."""
    lines = plan.splitlines()
    out = []
    for ln in lines:
        if re.match(r"^\(\d+\)", ln):  # detail section starts
            break
        if ln.strip():
            out.append(ln.rstrip())
    return "\n".join(out[:max_lines])


def markers(plan: str) -> str:
    # an executed AdaptiveSparkPlan's toString appends the pre-AQE
    # "== Initial Plan ==" — count only the final plan
    plan = plan.split("== Initial Plan ==")[0]
    codegen_ids = set(re.findall(r"\*[(]([0-9]+)[)]", plan))
    return (
        f"exchanges={plan.count('Exchange hashpartitioning')} "
        f"range_exchanges={plan.count('Exchange rangepartitioning')} "
        f"broadcasts={plan.count('BroadcastHashJoin') + plan.count('BroadcastNestedLoopJoin')} "
        f"sortmerge={plan.count('SortMergeJoin')} "
        f"codegen_spans={len(codegen_ids)} "
        f"pushed_filters={'yes' if 'PushedFilters: [' in plan and 'PushedFilters: []' not in plan else 'no'}"
    )


def main() -> None:
    import __spark_entry__ as entry_mod
    from matrixinversion_spark.profile import git_head
    from matrixinversion_spark.session import get_spark

    spark = get_spark("plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = [
        "# PLANS — physical plans of headline queries (generated)",
        "",
        f"Regenerated by `python scripts/dump_plans.py` at "
        f"sf_dir={SF_DIR}, HEAD {git_head(repo_root)}.",
        "Each entry: condensed `.explain(\"formatted\")` operator tree,",
        "plan markers, and why this is the plan we want at 100 TB.",
        "",
    ]
    for name, note in NOTES.items():
        df = qs[name](spark, SF_DIR)
        df.collect()  # run it so AQE finalizes the adaptive plan
        formatted = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        full = df._jdf.queryExecution().executedPlan().toString()
        out += [
            f"## {name}",
            "",
            note,
            "",
            f"`{markers(full)}`",
            "",
            "```",
            condense(formatted),
            "```",
            "",
        ]
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md written ({len(NOTES)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
