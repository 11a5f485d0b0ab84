"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

The FINAL stdout line is ONE compact JSON object:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>}
Per-query spreads and the conversion-benchmark blocks go to a sidecar
file (BENCH_DETAIL.json next to this script) and an EARLIER stdout
line — the round-3 all-in-one line outgrew the driver's tail capture
(BENCH_r03 "parsed": null), so the parseable summary now comes last
and stays small.

Each query executes its FULL plan via the noop sink (no driver-side
collect — we measure engine time, not result transfer). Timings are
STEADY-STATE: one warm run, then ADAPTIVE best-of-N timed runs per
query — timing continues (up to 6 runs) until the two fastest runs
agree within min(0.3 s, 30% of best), so the reported best is a
REPRODUCED number, not a contention fluke, and one-time
whole-stage-codegen compilation doesn't swamp engine time — on a real
cluster those kernels compile once per executor lifetime, not once per
query. The sidecar's `spread` is second_best − best (uncertainty of
the reported number); `n_runs` says how hard each query fought the box.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from csv2parquet_spark.queries import REGISTRY  # noqa: E402
from csv2parquet_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "q1_pricing_summary",
    "filter_project",
    "q3_top_revenue_orders",
    "q5_local_supplier_volume",
    "join_left_outer_order_counts",
    "agg_distinct_counts",
    "window_rank_orders",
    "window_running_sum",
    "topk_orders_by_price",
    "stream_tumbling_window",
    "stream_session_windows",
    "asof_purchase_prev_click",
    "dedup_exact",
    "ngram_jaccard_near_dups",
    "minhash_near_dups",
    "simhash_near_dups",
    "similarity_topk_exact",
    "embedding_near_dups",
    "text_token_stats",
    "doc_fingerprints",
    "json_funcs",
    # round-2 additions
    "corpus_pipeline_end_to_end",
    "tfidf_top_terms",
    "count_min_token_counts",
    # round-3 additions
    "window_ntile_scalable",
    "multimodal_decode_real",
    # round-3 late additions (time-series + tokenizer/index ops);
    # round-over-round totals compare like-for-like on shared keys
    "sessionize_events_gap",
    "token_entropy_quality",
    "bpe_pair_counts",
    "inverted_index_postings",
    # round-3 continuation (corpus second wave + skew join + training)
    "exact_substr_dup_spans",
    "pack_sequences_greedy",
    "skew_join_salted",
    "bpe_train_merges",
    "logreg_gd_weights",
    # round-4 additions (funnel / LM filter / paragraph dedup /
    # length bucketing / image perceptual hash)
    "funnel_signup_view_purchase",
    "bigram_lm_scores",
    "paragraph_dedup_rebuild",
    "length_bucket_packing_report",
    "image_ahash_near_dups",
    "bm25_topk_docs",
    "multimodal_resize_real",
    "audio_features_real",
    "video_frame_sample_real",
    "image_features_real",
    # round-4 continuation (ML eval / scan-opt / URL hygiene / EWMA)
    "roc_auc_exact",
    "ewma_user_value",
    "url_canonical_dedup",
    "dpp_partitioned_days",
    "lateral_topk_per_nation",
    # round-4 second continuation (resampling + clustering loop)
    "timeseries_interpolate_linear",
    "kmeans_train_clusters",
    # round-5 additions (DSIR data selection / keep-best dedup /
    # runtime bloom-filter join / fixed-point PCA)
    "dsir_importance_weights",
    "dedup_keep_best_quality",
    "runtime_bloom_filter_join",
    "embedding_pca_project",
    "containment_near_dups",
    "content_defined_chunks",
    # round-5 fourth wave (order statistics + retrieval fusion)
    "skyline_parts_frontier",
    "mad_outlier_report",
    "rrf_fusion_hybrid",
    "mmr_diversify_topk",
    # round-5 fifth wave (calibration / survival)
    "isotonic_calibration_exact",
    "km_reorder_survival",
    # round-6: graph loops promoted into HEADLINE after the superstep
    # rework (VERDICT r5 item 3): map-side pair expansion + fused
    # repartition/aggregate edge build, shuffle_hash state joins (a
    # checkpointed state frame has no stats, so the planner re-SORTED
    # the edges every superstep), observe-fused dangling mass
    # (pagerank_fixed), and lineage checkpoints every 2+ supersteps.
    # Isolated sf0.1: lpa 8.2→4.3, bfs 6.0→3.7, textrank 6.9→3.6.
    "lpa_copurchase_communities",
    "bfs_hops_copurchase",
    "textrank_tokens",
    # round-6: winnowing promoted after the 38 s single-task fix
    # (gated scan rebalance + vectorized numpy kernel → 0.72 s).
    "winnowing_fingerprints",
    # round-5 eighth wave (inference completion)
    "ks_test_two_sample",
    "cuped_adjusted_ab_test",
    "revenue_concentration_report",
    # round-7 additions: continuous-ingestion reconcile over the
    # incremental converter's batch=*/ output, the t-closeness
    # governance sheet, and the grid-bucketed spatial radius join.
    "incremental_ingest_latest",
    "t_closeness_report",
    "spatial_radius_join_grid",
    # round-8 additions: deterministic seeded epoch shuffle (two-pass
    # global ranking over md5 order) and the compaction+GC'd ingest
    # layout readback.
    "epoch_shuffle_seeded",
    "incremental_ingest_after_gc",
]


# ---------------------------------------------------------------------------
# Canary calibration (VERDICT r7 item 1): the r7 driver bench drifted
# +9.6% like-for-like with every worst key in r7-untouched code — box
# drift and a real regression were indistinguishable because the bench
# had no in-run yardstick. These keys are FROZEN trivial queries
# (scan+filter, top-k sort, exact dedup, running-sum window, JSON
# funcs — code untouched since r1/r2); their per-round driver times are
# pinned below, so every future run carries its own box-speed ratio:
#   normalized_ratio(key, rN) = (t_now/t_rN) / canary_ratio_vs_rN.
# A normalized ratio ≈1 with a high raw ratio = box drift; a high
# normalized ratio = a real regression. Medians, not means — any one
# canary can catch a contended scheduler slot.
CANARY_KEYS = [
    "filter_project",
    "topk_orders_by_price",
    "dedup_exact",
    "window_running_sum",
    "json_funcs",
    # r9 widening (VERDICT r8 item 2): five keys was too few against
    # 1.5-2.5x host-noise phases — the r8 canary median (0.914 vs r7)
    # disagreed with the 74-shared-key median (1.09) by 19%. These five
    # additions span the suite's RUN ORDER (positions ~9/27/43/56/72 of
    # HEADLINE, vs the original five's 1-21) and the engine's execution
    # families (streaming-twin agg, text kernel, Arrow/Pandas-UDF
    # multimodal, dedup self-join, governance report), all code-frozen,
    # all r7->r8 raw drift within 3% of the like-for-like median.
    "stream_tumbling_window",
    "token_entropy_quality",
    "video_frame_sample_real",
    "containment_near_dups",
    "t_closeness_report",
]
# Driver-measured seconds at sf0.1 (BENCH_DETAIL.json as committed by
# the driver each round; r6 = commit 859528f, r7 = commit 710cbed,
# r8 = commit ff40f08). The r6/r7 pins predate the r9 widening and
# carry only the original five keys; r8 onward pins all ten.
#
# WHICH NORMALIZER IS AUTHORITATIVE (VERDICT r8 item 2): the canary
# median over the ten frozen keys. The all-shared-keys median is the
# CROSS-CHECK only — it includes every key that genuinely regressed,
# so whenever a real regression exists it overestimates the box ratio
# and under-flags the regression; the canaries are frozen code and
# cannot regress. If the two disagree beyond ~5%, trust the canaries
# and probe the disagreement (isolated quiet-box protocol, ROUND8.md
# §1) rather than averaging the normalizers.
CANARY_REF = {
    "r6": {
        "filter_project": 0.287,
        "topk_orders_by_price": 0.158,
        "dedup_exact": 0.217,
        "window_running_sum": 0.682,
        "json_funcs": 0.420,
    },
    "r7": {
        "filter_project": 0.357,
        "topk_orders_by_price": 0.157,
        "dedup_exact": 0.233,
        "window_running_sum": 0.582,
        "json_funcs": 0.542,
    },
    "r8": {
        "filter_project": 0.286,
        "topk_orders_by_price": 0.144,
        "dedup_exact": 0.213,
        "window_running_sum": 0.652,
        "json_funcs": 0.367,
        "stream_tumbling_window": 0.338,
        "token_entropy_quality": 0.428,
        "video_frame_sample_real": 1.308,
        "containment_near_dups": 1.984,
        "t_closeness_report": 0.702,
    },
}

# Conversion-path canary (VERDICT r8 item 2: the r8 driver run's 2.5x
# big-conversion drift was unadjudicable because no conversion job had
# a pinned reference). The small fixed fixture (the sf0.1 lineitem CSV,
# ~39 MB) is the PINNED canary — it was stable across the very rounds
# whose big-conversion times swung 2.5x (r7 3.250/2.017 s vs r8
# 3.227/1.955 s single/parallel), which bounds how much of a big-path
# swing can be code: the small and big paths execute the same plan, so
# a code regression moves both, while page-cache/writeback phases hit
# only the GB-scale job.
CONV_CANARY_REF = {
    "r7": {"single_file_sec": 3.250, "parallel_sec": 2.017},
    "r8": {"single_file_sec": 3.227, "parallel_sec": 1.955},
}

# Mid-size (~117 MB) conversion canary pins — driver-measured r9
# (BENCH_DETAIL.json @ commit 2b99c06; adopted into the BASELINE.md
# anchor table in r10 per VERDICT r9 item 5). Large enough that
# parse+encode dominates job overhead, so this ratio tracks sustained
# conversion throughput where the 39 MB fixture tracks fixed overhead.
MID_CONV_CANARY_REF = {
    "r9": {"single_file_sec": 5.463, "parallel_sec": 3.419},
}


def _inter_key_cleanup(spark) -> None:
    """JMH-style forced GC between benchmark keys — OFF by default
    (SPARK_GRAFT_BENCH_GC=1 opts in); kept as a documented NEGATIVE
    result from the round-8 late-suite-heat investigation.

    Hypothesis: queries leave localCheckpoint blocks/broadcasts that
    ContextCleaner only releases after a JVM GC, so late-suite keys
    inherit predecessor heap debt. One A/B on this box supported it
    dramatically (probes after 40 un-collected keys: tfidf 2.6→1.0 s,
    bfs 8.8→3.8 s with forced GC). But the effect did NOT reproduce:
    a same-protocol re-run hours later measured the no-cleanup arm at
    the GOOD numbers (tfidf 0.88, bfs 4.6), and two full-bench runs
    WITH inter-key GC (83.3, 86.4 s) came out slower than the
    committed no-GC run (76.3 s) — a System.gc() full GC shrinks the
    G1 heap and drops soft-referenced caches, so each next key repays
    heap growth inside its timed runs. Verdict: the original A/B
    caught a contended host phase, not a mechanism; box-phase noise
    (the canary section's job) dominates any cleanup effect. Default
    stays off so driver rounds remain methodology-comparable."""
    import gc as _gc

    _gc.collect()  # drop py4j refs so the JVM side becomes collectable
    spark.sparkContext._jvm.System.gc()


_GC_BETWEEN_KEYS = os.environ.get("SPARK_GRAFT_BENCH_GC", "0") == "1"


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def canary_section(times: dict[str, float]) -> dict:
    """Per-reference-round box-speed ratio from this run's canary times."""
    out: dict = {"keys": CANARY_KEYS, "ref": CANARY_REF}
    for rnd, ref in CANARY_REF.items():
        ratios = {
            k: round(times[k] / ref[k], 3)
            for k in CANARY_KEYS
            if k in times and ref.get(k)
        }
        out[f"ratios_vs_{rnd}"] = ratios
        # guard: a HEADLINE edit that drops canary keys must degrade to
        # an explicit marker, not crash the whole canary section
        out[f"box_ratio_vs_{rnd}"] = (
            round(_median(list(ratios.values())), 3) if ratios else None
        )
    missing = [k for k in CANARY_KEYS if k not in times]
    if missing:
        out["missing_keys"] = missing
    return out


def conv_canary_section(conv: dict, mid: dict | None = None) -> dict:
    """Box I/O-speed ratios for the conversion path, from the pinned
    small-fixture times (see CONV_CANARY_REF) and, when available, the
    mid-size canary (MID_CONV_CANARY_REF). Lives next to the query
    canaries so a future big-conversion swing arrives pre-adjudicated:
    conv canary moved too = box I/O phase; big path moved alone at
    stable canary = real code/plan regression."""
    out: dict = {"ref": CONV_CANARY_REF, "mid_ref": MID_CONV_CANARY_REF}
    # Each ref family gates on ITS OWN source dict (ADVICE r10): a
    # failed small-fixture bench must not skip the independent
    # mid-canary calibration, and vice versa — and a skip is recorded
    # with an explicit reason, never as silently-empty ratios.
    conv_ok = isinstance(conv, dict) and "error" not in conv
    mid_ok = isinstance(mid, dict) and "error" not in mid
    if not conv_ok:
        out["small_skipped"] = f"conv bench unavailable: {conv!r}"[:200]
    if not mid_ok:
        out["mid_skipped"] = f"mid conv canary unavailable: {mid!r}"[:200]
    for rnd, ref in CONV_CANARY_REF.items():
        ratios = {
            k: round(conv[k] / ref[k], 3)
            for k in ("single_file_sec", "parallel_sec")
            if conv_ok
            and isinstance(conv.get(k), (int, float))
            and ref.get(k)
        }
        out[f"ratios_vs_{rnd}"] = ratios
        out[f"box_ratio_vs_{rnd}"] = (
            round(_median(list(ratios.values())), 3) if ratios else None
        )
    for rnd, ref in MID_CONV_CANARY_REF.items():
        ratios = {
            k: round(mid[k] / ref[k], 3)
            for k in ("single_file_sec", "parallel_sec")
            if mid_ok
            and isinstance(mid.get(k), (int, float))
            and ref.get(k)
        }
        out[f"mid_ratios_vs_{rnd}"] = ratios
        out[f"mid_box_ratio_vs_{rnd}"] = (
            round(_median(list(ratios.values())), 3) if ratios else None
        )
    return out


def _bench_round() -> int:
    """This run's driver round = one past the newest recorded bench."""
    import glob as _glob

    here = os.path.dirname(os.path.abspath(__file__))
    rounds = [
        int(p.rsplit("_r", 1)[1].split(".")[0])
        for p in _glob.glob(os.path.join(here, "BENCH_r*.json"))
    ]
    return (max(rounds) + 1) if rounds else 1


def bench_rotation(spark, sf_dir: str, headline: list[str]) -> dict:
    """Rotating perf tier (VERDICT r7 item 2): HEADLINE covers 74 keys;
    the other ~210 registered queries had NO recorded wall time, so a
    constant-factor regression there (AQE flip, stray exchange with
    unchanged operators) was invisible between correctness rounds. Each
    round times a ~30-key slice of the non-HEADLINE registry in stable
    alphabetical order, keyed off the round number — every registered
    query gets a recorded time within any 7-round span. Warm once +
    best-of-2 (cheaper than HEADLINE's adaptive best-of-N: this tier
    exists to catch step-function regressions, not to be a precision
    yardstick)."""
    slice_size = int(os.environ.get("SPARK_GRAFT_ROTATION_KEYS", "30"))
    if slice_size <= 0:
        return {}
    rest = sorted(n for n in REGISTRY if n not in set(headline))
    if not rest:
        return {}
    rnd = _bench_round()
    start = ((rnd - 8) * slice_size) % len(rest)  # r8 = first slice
    picked = [rest[(start + i) % len(rest)] for i in range(min(slice_size, len(rest)))]
    times: dict[str, float] = {}
    for name in picked:
        fn = REGISTRY[name].fn
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
            times[name] = round(best, 3)
        except Exception as exc:  # pragma: no cover — never lose the round
            times[name] = -1.0
            print(f"rotation {name} failed: {exc!r}", file=sys.stderr)
        if _GC_BETWEEN_KEYS:
            _inter_key_cleanup(spark)
    return {
        "round": rnd,
        "start_index": start,
        "of_total": len(rest),
        "keys": times,
    }


def bench_conversion(spark, sf_dir: str) -> dict:
    """The reference's actual workload: CSV→Parquet, timed both in CLI
    parity mode (single output file, full-pass schema inference — the
    reference's default behavior) and the scale path (multi-part write,
    parallel across input splits). CSV generation is setup, not timed."""
    import duckdb

    from csv2parquet_spark.converter import ConvertOptions, convert

    work = "/tmp/spark_graft_bench"
    os.makedirs(work, exist_ok=True)
    csv_path = os.path.join(work, f"lineitem_{os.path.basename(sf_dir)}.csv")
    if not os.path.exists(csv_path):
        duckdb.sql(
            f"COPY (SELECT * FROM read_parquet('{sf_dir}/lineitem.parquet')) "
            f"TO '{csv_path}' (HEADER, DELIMITER ',')"
        )
    size_mb = os.path.getsize(csv_path) / 1e6
    # Steady-state like the queries: first run warms codegen, then record
    # the best of two timed runs (this box's I/O variance is ±2×).
    def timed(opts=None):
        args = (spark, csv_path, os.path.join(work, "out_bench.parquet"))
        convert(*args, *( [opts] if opts else [] ))
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            convert(*args, *( [opts] if opts else [] ))
            best = min(best, time.perf_counter() - t0)
        return best

    t_single = timed()
    t_multi = timed(ConvertOptions(single_file=False))
    return {
        "input_mb": round(size_mb, 1),
        "single_file_sec": round(t_single, 3),
        "parallel_sec": round(t_multi, 3),
        "parallel_mb_per_sec": round(size_mb / t_multi, 1),
    }


def _replicated_csv(sf_dir: str, target_mb: int) -> str:
    """Deterministic CSV fixture: the sf lineitem CSV body replicated to
    ~target_mb MB, cached in /tmp across runs (generation is setup, not
    timed)."""
    import duckdb

    work = "/tmp/spark_graft_bench"
    os.makedirs(work, exist_ok=True)
    base = os.path.join(work, f"lineitem_{os.path.basename(sf_dir)}.csv")
    if not os.path.exists(base):
        duckdb.sql(
            f"COPY (SELECT * FROM read_parquet('{sf_dir}/lineitem.parquet')) "
            f"TO '{base}' (HEADER, DELIMITER ',')"
        )
    big = os.path.join(work, f"big_lineitem_{target_mb}.csv")
    if (
        not os.path.exists(big)
        or abs(os.path.getsize(big) - target_mb * 1e6) > 0.1 * target_mb * 1e6
    ):
        with open(base, "rb") as f:
            header, body = f.read().split(b"\n", 1)
        reps = max(1, int(target_mb * 1e6 // max(1, len(body))))
        with open(big, "wb") as out:
            out.write(header + b"\n")
            for _ in range(reps):
                out.write(body)
    return big


def _fs_settle() -> None:
    """Flush dirty pages and give writeback a beat before a timed I/O
    run. The r8 driver bench generated a 2 GB CSV immediately before
    timing the first conversion over it — that run raced the kernel's
    writeback of its own input (and each subsequent mode raced the
    previous mode's parquet output), which is the leading mechanical
    suspect for the r8 2.5x big-conversion swing on untouched code
    (VERDICT r8 "What's missing" #1). sync() makes every timed mode
    start from the same clean-page state."""
    try:
        os.sync()
    except (AttributeError, OSError):  # pragma: no cover
        pass
    time.sleep(1.0)


def bench_conversion_canary(spark, sf_dir: str) -> dict:
    """FROZEN mid-size conversion canary (VERDICT r8 item 2): a fixed
    ~128 MB replicated-lineitem CSV, single-file + parallel, warm +
    best-of-2 with an fs-settle before every timed run. Large enough
    that parse+encode dominates job overhead (the 39 MB pinned canary
    is overhead-dominated), small enough that a timed run is seconds.
    Driver-measured r9 times become the pinned reference for r10+ in
    CONV_CANARY_REF / BASELINE.md."""
    from csv2parquet_spark.converter import ConvertOptions, convert

    path = _replicated_csv(sf_dir, 128)
    size_mb = os.path.getsize(path) / 1e6
    out = {"input_mb": round(size_mb, 1)}
    for label, opts in (
        ("single_file_sec", None),
        ("parallel_sec", ConvertOptions(single_file=False)),
    ):
        dst = os.path.join("/tmp/spark_graft_bench", "canary_conv.parquet")
        args = [spark, path, dst] + ([opts] if opts else [])
        convert(*args)  # warm
        best = float("inf")
        for _ in range(2):
            _fs_settle()
            t0 = time.perf_counter()
            convert(*args)
            best = min(best, time.perf_counter() - t0)
        out[label] = round(best, 3)
    return out


def bench_conversion_big(spark, sf_dir: str) -> dict:
    """Conversion throughput at REAL size: a multi-GB CSV (cached across
    rounds — generation is setup, not timed) so the MB/s figure measures
    sustained parse+encode, not fixed JVM/job overhead (a 39 MB input is
    overhead-dominated and says nothing about the 100 TB path).

    The input is the sf lineitem CSV body replicated to
    $SPARK_GRAFT_BENCH_BIG_MB (default 2048 MB; 0 skips). Timed once per
    mode — at GB scale codegen warm-up is noise — but since r9 each
    timed mode starts from a SETTLED filesystem (_fs_settle): the r8
    protocol let mode N race the writeback of mode N-1's output (and
    the first mode race its own input's generation), which made the
    number partly measure kernel flush scheduling."""
    from csv2parquet_spark.converter import ConvertOptions, convert

    target_mb = int(os.environ.get("SPARK_GRAFT_BENCH_BIG_MB", "2048"))
    if target_mb <= 0:
        return {}
    work = "/tmp/spark_graft_bench"
    big = _replicated_csv(sf_dir, target_mb)
    size_mb = os.path.getsize(big) / 1e6
    _fs_settle()
    t0 = time.perf_counter()
    convert(
        spark, big, os.path.join(work, "big_multi.parquet"), ConvertOptions(single_file=False)
    )
    t_multi = time.perf_counter() - t0
    # Sampled inference (the realistic at-scale knob: --max-read-records):
    # isolates the cost of the reference-default full-pass inference.
    _fs_settle()
    t0 = time.perf_counter()
    convert(
        spark,
        big,
        os.path.join(work, "big_multi.parquet"),
        ConvertOptions(single_file=False, max_read_records=65536),
    )
    t_sampled = time.perf_counter() - t0
    _fs_settle()
    t0 = time.perf_counter()
    convert(spark, big, os.path.join(work, "big_single.parquet"))
    t_single = time.perf_counter() - t0
    return {
        "input_mb": round(size_mb, 1),
        "single_file_sec": round(t_single, 3),
        "single_file_mb_per_sec": round(size_mb / t_single, 1),
        "parallel_sec": round(t_multi, 3),
        "parallel_mb_per_sec": round(size_mb / t_multi, 1),
        "parallel_sampled_infer_sec": round(t_sampled, 3),
        "parallel_sampled_infer_mb_per_sec": round(size_mb / t_sampled, 1),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    # Progress bars write \r-frames to stdout; under the driver's capture
    # they flood the tail and can push the JSON summary line out of the
    # window — disable them for a clean machine-readable stream.
    spark = get_spark("bench", extra_conf={"spark.ui.showConsoleProgress": "false"})
    # Pin the session's INTENDED shuffle-partition count now, before any
    # in-process getOrCreate can retune it (the r9 conf-leak hazard
    # documented in session.py): the per-key shuffle capture passes this
    # value explicitly so captured volumes stay comparable round-over-
    # round even if something mid-run flips the live conf (ADVICE r9).
    bench_shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))

    # Warm the JVM/codegen once with the flagship query.
    REGISTRY["q1_pricing_summary"].fn(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    times: dict[str, float] = {}
    spread: dict[str, float] = {}
    nruns: dict[str, int] = {}
    shuffle: dict[str, dict[str, int]] = {}
    capture_shuffle = os.environ.get("SPARK_GRAFT_BENCH_SHUFFLE", "1") == "1"
    for name in HEADLINE:
        fn = REGISTRY[name].fn
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # codegen warm
        # Adaptive best-of-N (VERDICT r4 item 3: the r4 driver run was
        # contended, with spreads larger than the measurement): keep
        # timing until the two FASTEST runs agree within min(0.3 s, 30%
        # of best) — i.e. the reported best is reproduced, not a fluke —
        # or the run cap is hit. `spread` is second_best − best (the
        # uncertainty OF THE REPORTED NUMBER; max−min only measures how
        # contended the box was, which is noise we're discarding).
        runs: list[float] = []
        for _ in range(6):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
            if len(runs) >= 3:
                s = sorted(runs)
                if s[1] - s[0] < min(0.3, 0.3 * s[0]):
                    break
        s = sorted(runs)
        times[name] = round(s[0], 3)
        spread[name] = round(s[1] - s[0], 3)
        nruns[name] = len(runs)
        if capture_shuffle:
            # Box-noise-IMMUNE plan signal (VERDICT r8 item 8): shuffle
            # write volume is deterministic where wall time is not. One
            # untimed extra execution per key, on a FRESH frame so the
            # timed QEs above aren't double-counted. Never let a metric
            # walk cost the round its timings.
            try:
                from csv2parquet_spark.planmetrics import (
                    executed_shuffle_metrics,
                )

                shuffle[name] = executed_shuffle_metrics(
                    fn(spark, sf_dir), shuffle_partitions=bench_shuffle_parts
                )
            except Exception as exc:  # pragma: no cover - defensive
                shuffle[name] = {"error": repr(exc)}  # type: ignore[dict-item]
        if _GC_BETWEEN_KEYS:
            _inter_key_cleanup(spark)

    total = round(sum(times.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # The canary and vs_prev references are sf0.1 runs.
    at_ref_sf = isinstance(sf_val, float) and math.isclose(sf_val, 0.1)
    # The calibration and rotation tiers must never cost the round its
    # headline numbers; same for the long I/O-bound conversion benches.
    try:
        # Reference times are sf0.1 (the driver's bench SF) — at any
        # other SF the ratios would be meaningless.
        canary = (
            canary_section(times)
            if at_ref_sf
            else {"skipped": f"canary refs are sf0.1, ran sf{sf_val}"}
        )
    except Exception as exc:  # pragma: no cover - defensive
        canary = {"error": repr(exc)}
    try:
        rotation = bench_rotation(spark, sf_dir, HEADLINE)
    except Exception as exc:  # pragma: no cover - defensive
        rotation = {"error": repr(exc)}
    # Each conversion bench fails independently (ADVICE r9): a shared
    # try block let a canary/big-path failure overwrite an
    # already-successful small-fixture result and silently skip the
    # conversion-canary calibration.
    try:
        conv = bench_conversion(spark, sf_dir)
    except Exception as exc:  # pragma: no cover - defensive
        conv = {"error": repr(exc)}
    try:
        conv_canary = bench_conversion_canary(spark, sf_dir)
    except Exception as exc:  # pragma: no cover - defensive
        conv_canary = {"error": repr(exc)}
    try:
        conv_big = bench_conversion_big(spark, sf_dir)
    except Exception as exc:  # pragma: no cover - defensive
        conv_big = {"error": repr(exc)}
    try:
        # Per-family gating lives INSIDE conv_canary_section (ADVICE
        # r10); the only section-level skip is the wrong-SF case where
        # no ref family is comparable.
        conv_cal = (
            conv_canary_section(conv, conv_canary)
            if at_ref_sf
            else {"skipped": f"conv canary refs are sf0.1, ran sf{sf_val}"}
        )
    except Exception as exc:  # pragma: no cover - defensive
        conv_cal = {"error": repr(exc)}
    detail = {
        "metric": "headline_query_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": times,
        "spread": spread,
        "n_runs": nruns,
        "sf": sf_val,
        # Records whether the opt-in inter-key forced GC ran (default
        # off — see _inter_key_cleanup for the negative result that
        # keeps it off). All driver rounds compare like-for-like.
        "gc_between_keys": _GC_BETWEEN_KEYS,
        "canary": canary,
        "shuffle": shuffle,
        "shuffle_partitions": bench_shuffle_parts,
        "rotation": rotation,
        "csv_to_parquet": conv,
        "csv_to_parquet_canary": conv_canary,
        "csv_to_parquet_canary_calibration": conv_cal,
        "csv_to_parquet_big": conv_big,
    }
    # Repo-side round-over-round comparison (VERDICT r11 item 3's
    # intent, robust to the driver's 2 KB tail): diff this run's
    # per-query map against the NEWEST archived BENCH_DETAIL_r{M}.json
    # so n_common / improved / regressed exist as artifacts even when
    # the driver-side PERF tooling cannot reconstruct them. Purely
    # informational — wall ratios across rounds carry box phase; the
    # canary ratios of both runs ride along for normalization.
    try:
        import glob as _g
        import re as _re

        root = os.path.dirname(os.path.abspath(__file__))
        archived = sorted(
            (
                (int(m.group(1)), p)
                for p in _g.glob(os.path.join(root, "BENCH_DETAIL_r*.json"))
                if (m := _re.search(r"BENCH_DETAIL_r(\d+)\.json$", p))
            )
        )
        if archived and at_ref_sf:
            prev_round, prev_path = archived[-1]
            with open(prev_path) as f:
                prev = json.load(f)
            pq = prev.get("queries", {})
            common = [k for k in times if k in pq and pq[k] > 0]
            ratios = [times[k] / pq[k] for k in common]
            vs_prev = {
                "prev_round_file": os.path.basename(prev_path),
                "prev_total": prev.get("value"),
                "prev_canary_box_ratio_vs_r8": (prev.get("canary") or {}).get(
                    "box_ratio_vs_r8"
                ),
                "n_common": len(common),
                "geomean_ratio": (
                    round(
                        math.exp(sum(math.log(r) for r in ratios) / len(ratios)),
                        3,
                    )
                    if ratios
                    else None
                ),
                "improved_gt10pct": sum(1 for r in ratios if r < 0.9),
                "regressed_gt10pct": sum(1 for r in ratios if r > 1.1),
            }
        else:
            vs_prev = {"skipped": "no archived detail or non-sf0.1 run"}
    except Exception as exc:  # pragma: no cover - defensive
        vs_prev = {"error": repr(exc)}
    detail["vs_prev"] = vs_prev
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)
    # Self-archive (ADVICE/VERDICT r10 item 5): BENCH_DETAIL.json is
    # overwritten every run, which made per-key round-over-round
    # comparison impossible from artifacts. Infer the CURRENT round as
    # max(BENCH_r{N}.json)+1 — the driver writes BENCH_r{N} for the
    # round being closed AFTER running this script — and keep a
    # per-round copy. Re-runs within a round just refresh the same file.
    try:
        import glob
        import re

        root = os.path.dirname(os.path.abspath(__file__))
        rounds = [
            int(m.group(1))
            for p in glob.glob(os.path.join(root, "BENCH_r*.json"))
            if (m := re.search(r"BENCH_r(\d+)\.json$", p))
        ]
        rnd = (max(rounds) + 1) if rounds else 1
        with open(
            os.path.join(root, f"BENCH_DETAIL_r{rnd:02d}.json"), "w"
        ) as f:
            json.dump(detail, f, indent=1)
    except OSError:
        pass  # archiving is best-effort; the driver contract line matters
    # Earlier line: full detail for humans/archaeology. Final line: the
    # compact driver contract. The driver's tail capture is 2000 bytes
    # (len(BENCH_r11.tail) == 2000 exactly) and a 76-key per-query map
    # is ≥2.2 KB COMPACT (the key names alone are ~1.8 KB), so putting
    # the map back in the final line would front-truncate it and break
    # the parse — the BENCH_r05 "parsed": null failure mode (VERDICT r5
    # item 5). VERDICT r11 item 3's fallback is used instead: a SECOND
    # machine-readable line right before the final one carries the
    # 2dp-rounded map for any capture window larger than the map (and
    # for the repo's own artifacts); the final line stays small, last,
    # and parseable, and additionally carries the canary box-speed
    # ratio so a future driver swing arrives pre-adjudicated without
    # the sidecar.
    print(json.dumps(detail))
    print(
        json.dumps(
            {
                "metric": "headline_query_per_query_sec",
                "queries": {k: round(v, 2) for k, v in times.items()},
                "sf": sf_val,
            },
            separators=(",", ":"),
        )
    )
    sys.stdout.flush()
    final = {
        "metric": "headline_query_wall_sec",
        "value": total,
        "unit": "sec",
        "n_queries": len(times),
        "sf": sf_val,
        "queries_detail": "BENCH_DETAIL.json",
    }
    if isinstance(canary, dict) and canary.get("box_ratio_vs_r8") is not None:
        final["canary_box_ratio_vs_r8"] = canary["box_ratio_vs_r8"]
    print(json.dumps(final))


if __name__ == "__main__":
    main()
