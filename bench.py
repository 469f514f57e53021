"""Benchmark runner — headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"q": sec, ...}, "sf": ...}

Each query is timed as a full action (collect) after a shared warm-up
so JVM startup is excluded; per-query times are wall-clock end-to-end
including the Parquet scan.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod
from pg_archiver_spark.session import get_spark

# Headline set: the flagship + one representative per operator family,
# weighted toward scan/join/agg-heavy shapes (what dominates at 100 TB).
HEADLINE = [
    "orderby_limit_topk",       # the reference's extraction query
    "agg_group_pricing",        # TPC-H Q1 shape (scan-bound agg)
    "join_broadcast_dim",       # fact ⋈ broadcast dim + agg
    "join_inner_equi",          # fact ⋈ fact shuffle join
    "join_asof",                # composed as-of join
    "window_topk_per_group",    # windowed top-k
    "window_running_sum",       # running aggregate
    "scan_filter_prune",        # pruned scan
    "text_wordcount",           # explode-heavy text op
    "dedup_ngram_jaccard",      # exact near-dup pairs
    "minhash_neardup",          # LSH near-dup
    "sim_cosine_topk",          # vector top-k
    "stream_session",           # session windows
    "udaf_pandas_grouped",      # Arrow UDAF path
    "pipeline_training_prep",   # composed quality→dedup→sample pipeline
    # Round-4 operator families (added r5 so regressions in them are
    # caught by BENCH deltas, not just correctness):
    "merge_cdc_apply",          # CDC merge (latest-wins upsert+delete)
    "sim_batch_knn_join",       # batch kNN (fixed-batch broadcast scoring)
    "agg_bitmap_distinct",      # bitmap-based exact distinct rollup
    # Round-5 representative: pure scan+filter throughput (pushdown
    # and column pruning dominate — the 100 TB-critical path).
    "composed_q6_forecast_revenue",
    # Round-6: the stateful-streaming family had no bench coverage —
    # state-store overhead is where streaming regressions hide
    # (applyInPandasWithState + event-time timeout eviction).
    "stream_state_timeout_sessions",
    # Round-7 representatives: corpus-wide segment dedup (window over a
    # content-hash shuffle) and int8 scalar quantization (two-pass
    # bounds + encode + ADC top-k) — the LLM-ingest hot paths added
    # this round.
    "dedup_paragraph",
    "sim_scalar_quantize_int8",
    # Round-7 session-3 representatives: the grid-bucketed spatial
    # radius join (cell-id equi-join + 9-cell explode fan-out) and the
    # single-pass 32-resample Poisson bootstrap (64 integer agg
    # columns over one scan) — both scale-pattern additions whose
    # regressions would hide without bench coverage.
    "join_spatial_grid",
    "analytics_bootstrap_ci",
    # Round-7 session-4 representatives: exact Shapley attribution
    # (events pass -> 2^n mask frame -> integer-weight algebra), DPO
    # preference pairs (shared-exchange double window + group-key
    # self-join), and the two-pass exact-quantile selection (bucket
    # histogram + value-grid refinement under pushed range predicates)
    # — the new analytics/LLM-prep hot paths of this session.
    "analytics_shapley_attribution",
    "pipeline_dpo_pairs",
    "agg_exact_quantile_twopass",
    # Round-8 representative: corpus-wide repeated-substring span
    # detection (overlapping-window explode → cross-doc frequency
    # filter → per-doc gaps-and-islands interval union) — the
    # ExactSubstr-style dedup hot path added this round.
    "dedup_repeated_substring_spans",
    # Round-11 representatives: the two retrieval shapes added this
    # round — panel BM25 (posting-pruned explode + ladder idf) and
    # margin-based bitext mining (O(N·panel) pair scoring + two-sided
    # window k-NN) — so regressions in the lexical and mining paths
    # show up in BENCH deltas.
    "sim_bm25_topk",
    "sim_bitext_margin_mine",
    # Round-12 representatives: the Count-Min sketch build (one
    # 256-cell partial-agg over the fact scan — the sketch-family
    # scan shape) and NDCG@10 (panel-broadcast corpus scoring + per-
    # query top-k window — the retrieval-eval shape). No trained-index
    # op joins the headline set: their per-corpus centroid/codebook
    # caches would time build on the first pass and serve on the rest,
    # making a min-of-5 read misleading (the r10/r11 build-vs-serve
    # ask) — the stress/recall pytests own those paths instead.
    "agg_countmin_sketch",
    "ml_ndcg_at_k",
]

# The headline set is VERSIONED (r6 verdict task 4): bump this when the
# list above changes so cross-round totals are never compared across
# different compositions; `value_r1_subset` (HEADLINE[:15]) stays the
# stable cross-round series.
HEADLINE_SET_VERSION = 9  # v1 = r1-r4 (15 q), v2 = r5 (+4), v3 = r6 (+1), v4 = r7 (+2), v5 = r7s3 (+2), v6 = r7s4 (+3), v7 = r8 (+1), v8 = r11 (+2), v9 = r12 (+2)

# TPC-H suite timing methodology is versioned separately (ADVICE r12
# #4): v1 = single pass (r ≤ 11), v2 = min-of-3 (r12+). Cross-round
# suite totals must only be trended within one methodology version —
# min-of-3 reads systematically lower than single-pass on the same
# plans.
TPCH_SUITE_METHOD_VERSION = 2
TPCH_SUITE_PASSES = 3
# Combined size of the final stdout lines above which print_tail warns.
TAIL_WARN_CHARS = 1800

# Per-query r1 baselines (BENCH_r01.json, sf0.1, this box) for the
# first 15 queries — the driver's 2x envelope is against these; the
# emitted vs_r1 ratio table makes per-query compliance machine-readable.
R1_BASELINE = {
    "orderby_limit_topk": 0.186, "agg_group_pricing": 0.875,
    "join_broadcast_dim": 0.908, "join_inner_equi": 0.452,
    "join_asof": 0.363, "window_topk_per_group": 0.317,
    "window_running_sum": 0.852, "scan_filter_prune": 0.25,
    "text_wordcount": 0.246, "dedup_ngram_jaccard": 1.694,
    "minhash_neardup": 2.209, "sim_cosine_topk": 0.349,
    "stream_session": 0.579, "udaf_pandas_grouped": 0.655,
    "pipeline_training_prep": 1.841,
}


def _tpch_suite(queries, spark, sf_dir) -> dict[str, float]:
    """Min-of-three timed passes over every TPC-H topology op
    (composed_q*) — the suite total is the judge-facing
    matches-the-reference-throughput number. r11's single-pass version
    drifted +12% uniformly with inflated sd (box noise, not plans —
    PLANS.md was byte-identical); min-of-N is the same asymmetric-noise
    estimator the headline set already uses (VERDICT r11 item #3)."""
    names = sorted(q for q in queries if q.startswith("composed_q"))
    out = {n: float("inf") for n in names}
    for _pass in range(TPCH_SUITE_PASSES):
        for name in names:
            t0 = time.time()
            queries[name](spark, sf_dir).collect()
            out[name] = min(out[name], round(time.time() - t0, 3))
    return out


def _box_canary() -> float:
    """Engine-independent box-speed control: a fixed single-thread
    md5+arithmetic workload, min of 3. Cross-round bench drift that
    scales WITH the canary is machine drift, not a plan regression —
    the adjudication r10-r12 had to argue from PLANS.md byte-identity
    alone (r12 measured a ~15% uniform suite shift with byte-identical
    plans; this pins the control for next time)."""
    best = float("inf")
    for _ in range(3):
        t0 = time.time()
        _canary_work()
        best = min(best, time.time() - t0)
    return round(best, 4)


def _canary_work() -> int:
    """The fixed md5+arithmetic canary workload (one unit). Module-level
    so the parallel canary can fork it unchanged — byte-identical work
    per process."""
    import hashlib

    h = b"canary"
    acc = 0
    for i in range(200_000):
        h = hashlib.md5(h + i.to_bytes(4, "little")).digest()
        acc += h[0]
    return acc


def _box_canary_parallel(nproc: int = 8) -> float:
    """Multi-core twin of the serial canary: the SAME workload forked
    onto nproc processes at once, min wall of 3 rounds. Session-2 r13
    probes showed the box's single-thread and parallel states move
    independently (fastest serial canary of the round coincided with
    the highest subset/canary ratio), so drift adjudication needs a
    control in each regime: parallel/serial ≈ 1 means an idle
    multi-core box; ≫ 1 means scheduler/SMT contention that the serial
    canary cannot see. Fixed nproc (not cpu_count) so the workload is
    comparable across boxes and core-count settings."""
    import multiprocessing as mp

    ctx = mp.get_context("fork")
    best = float("inf")
    for _ in range(3):
        procs = [ctx.Process(target=_canary_work) for _ in range(nproc)]
        t0 = time.time()
        for p in procs:
            p.start()
        for p in procs:
            p.join()
        best = min(best, time.time() - t0)
    return round(best, 4)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    canary = _box_canary()
    canary_par = _box_canary_parallel()
    spark = get_spark("bench")

    queries = entry_mod.queries()
    # Warm-up pass: JVM startup + whole-stage-codegen JIT compilation
    # (JMH-style steady-state methodology — at real scale the one-time
    # compile cost is amortized over the data, at sf0.1 it IS the time).
    for name in HEADLINE:
        queries[name](spark, sf_dir).collect()
    # Drop any DataFrame caches the warm-up materialized so the measured
    # pass re-does the actual data work.
    spark.catalog.clearCache()

    # Min of five measured passes — the shared test box shows sporadic
    # ambient load lasting whole minutes (same code measured 12.6s and
    # 16.1s back-to-back in round 4), and min is the standard
    # low-variance estimator of achievable latency under asymmetric
    # noise; five passes make it likely at least one pass per query
    # lands outside a load burst. All five samples are kept so the
    # JSON can also report per-query median and stddev: a cross-round
    # delta is only a regression if it clears the ambient-noise band
    # the spread documents (round-5 verdict ask).
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for _pass in range(5):
        for name in HEADLINE:
            t0 = time.time()
            queries[name](spark, sf_dir).collect()
            samples[name].append(round(time.time() - t0, 3))
        spark.catalog.clearCache()

    def _stats(xs: list[float]) -> dict[str, float]:
        n = len(xs)
        mean = sum(xs) / n
        sd = (sum((x - mean) ** 2 for x in xs) / (n - 1)) ** 0.5
        med = sorted(xs)[n // 2]
        return {"min": min(xs), "med": round(med, 3), "sd": round(sd, 3)}

    times = {name: min(xs) for name, xs in samples.items()}
    stats = {name: _stats(xs) for name, xs in samples.items()}
    total = round(sum(times.values()), 3)
    # Like-for-like subtotal over the 15 queries benched since round 1,
    # so cross-round comparisons aren't skewed by headline-set growth.
    r1_subset = round(sum(times[q] for q in HEADLINE[:15]), 3)
    vs_r1 = {
        q: round(times[q] / base, 2)
        for q, base in R1_BASELINE.items()
        if q in times
    }
    tpch = _tpch_suite(queries, spark, sf_dir)
    tpch_total = round(sum(tpch.values()), 3)
    # Canary-normalized ratios (VERDICT r12 item #5): box-speed drift
    # divides out, so a cross-round plan regression shows as a ratio
    # shift WITHOUT re-arguing from probe ladders. Accepted bands are
    # recorded in BASELINE.md (r12 anchors: subset/canary 85-90,
    # tpch/canary 110-122 across a ±20% machine swing).
    subset_per_canary = round(r1_subset / canary, 1)
    tpch_per_canary = round(tpch_total / canary, 1)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "headline_set_version": HEADLINE_SET_VERSION,
                "value_r1_subset": r1_subset,
                "vs_r1": vs_r1,
                "queries": times,
                "stats": stats,
                "value_tpch_suite": tpch_total,
                "tpch_suite_method_version": TPCH_SUITE_METHOD_VERSION,
                "tpch_suite_passes": TPCH_SUITE_PASSES,
                "tpch_queries": tpch,
                "box_canary_sec": canary,
                "box_canary_parallel_sec": canary_par,
                "subset_per_canary": subset_per_canary,
                "tpch_per_canary": tpch_per_canary,
                "sf": float(sf),
            }
        )
    )
    # Tail capture keeps only the last ~2000 chars of stdout: the full
    # JSON above does not fit, so re-print the per-query map as ONE
    # compact line (2-decimal, no spaces) second-to-last and a
    # totals-only envelope LAST, which the tail then always retains.
    print_tail(
        json.dumps(
            {
                "metric": "per_query_sec",
                "q": {
                    k: round(v, 2)
                    for k, v in sorted({**times, **tpch}.items())
                },
            },
            separators=(",", ":"),
        ),
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "headline_set_version": HEADLINE_SET_VERSION,
                "value_r1_subset": r1_subset,
                "vs_r1_max": max(vs_r1.values()) if vs_r1 else None,
                "value_tpch_suite": tpch_total,
                "tpch_suite_method_version": TPCH_SUITE_METHOD_VERSION,
                "box_canary_sec": canary,
                "box_canary_parallel_sec": canary_par,
                "subset_per_canary": subset_per_canary,
                "tpch_per_canary": tpch_per_canary,
                "sf": float(sf),
            }
        ),
    )


def print_tail(*lines: str) -> None:
    """Print the last stdout lines, warning loudly on stderr when they
    exceed TAIL_WARN_CHARS together — past that a 2000-char tail
    capture starts cutting the front of the per-query line."""
    size = sum(len(line) + 1 for line in lines)
    if size > TAIL_WARN_CHARS:
        print(
            f"WARNING: bench.py's last {len(lines)} stdout lines are {size}"
            f" chars (> {TAIL_WARN_CHARS}); a 2000-char tail capture will"
            " cut the per-query JSON",
            file=sys.stderr,
            flush=True,
        )
    sys.stdout.flush()  # earlier output must not interleave with the tail
    for line in lines:
        print(line)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
