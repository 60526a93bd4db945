#!/bin/sh
# Scale-smoke harness: drives the registered operators at 1-20M rows
# against closed-form / differential oracles. sf0.01 gate-green plus
# one of these is the cheapest way to find the bugs that only exist
# at scale — this suite has caught, in round 6 alone:
#   - skyline's global pass being silently batch-local (Arrow 10k
#     batching) -> wrong frontiers past 10k candidates;
#   - salted_join's abs(hash) % n salt overflowing under ANSI mode
#     on Int.MinValue (1-in-2^32 per row);
#   - the Catalyst BigInt sizeInBytes compounding stall in iterative
#     join loops (driver stuck in BigInteger.multiplyKaratsuba);
# plus prefix_sum's RangePartitioner double-execution misalignment
# in round 5. Each script prints one line ending in ok=True/False
# and exits nonzero on failure. Budget ~10 min on local[32].
set -e
cd "$(dirname "$0")/.."
for s in exp_skyline_scale exp_minhash_scale exp_ann_scale \
         exp_skew_scale exp_cc_scale exp_asof_merge_scale \
         exp_sessionize_scale exp_ppjoin_scale exp_spatial_scale \
         exp_rownum_scale exp_bloom_scale exp_ks_scale \
         exp_neardup_scale exp_bootstrap_scale \
         exp_lpa_scale exp_lsh_megabucket exp_cdc_spans_scale \
         exp_semdedup_pq_scale exp_line_dedup_scale \
         exp_domain_quota_scale exp_heavy_hitters_scale \
         exp_linkpred_scale exp_sssp_scale; do
    echo "=== $s"
    # capture output so the script's exit code is NOT lost in a pipe
    # (plain sh has no pipefail: 'python | grep' returns grep's 0 and
    # would swallow an ok=False run whose line still matches 'ok=')
    out=$(python "scripts/$s.py" 2>/dev/null) || {
        printf '%s\n' "$out"; echo "$s FAILED"; exit 1; }
    printf '%s\n' "$out" | grep -E "ok=|=.*s "
    case "$out" in *"ok=False"*) echo "$s FAILED"; exit 1;; esac
done
echo "all scale smokes green"
