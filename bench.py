#!/usr/bin/env python
"""Headline benchmark: runs the flagship queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line:

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1}

Each query is FULLY materialized to the driver every sample. Since
round 5 that fetch is the Arrow path (``toPandas()``) instead of
row-pickle ``collect()``: with Arrow enabled the engine transfers
columnar batches, which is both the production materialization path
and 2x faster for the one large result set in the suite
(events_session_30m, 95k rows: 1.463 s via collect vs 0.775 s via
Arrow — the 0.7 s delta was py4j row deserialization in the Python
client, not engine time). Row counts still come from the materialized
frame. A warmup action amortizes JVM/codegen startup out of the
per-query numbers.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: The headline set: one per major operator family (scan-agg, star join,
#: top-k, distinct-agg, event-time windows, sessionization, as-of join,
#: dedup, ANN, text). Names must exist in the registry.
HEADLINE = [
    "q1_pricing_summary",
    "join_star_5way",
    "q3_shipping_priority",
    "q8_market_share",
    "q9_product_profit",
    "q21_waiting_supplier",
    "agg_count_distinct",
    "window_topk_per_group",
    "events_tumbling_1h",
    "events_session_30m",
    "asof_join_latest_order",
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_cosine_topk_arrow",
    "text_quality_score",
    # round 6: the broadcast-Bloom decontamination branch — the shape a
    # 100 TB run actually takes (prune corpus grams pre-shuffle against
    # a broadcast eval-set word table); keeps the bench honest about
    # the LLM-pipeline scale path, per the round-5 re-anchor note in
    # BASELINE.md.
    "text_contamination_bloom",
    # round 9: the two new LLM-pipeline families — perceptual-hash
    # image near-dup (banded Hamming ball over mapInPandas dHashes)
    # and the unigram-LM tokenizer trainer (broadcast-model Viterbi
    # EM); existing keys stay untouched for cross-round comparison.
    "multimodal_phash_dedup",
    "text_unigram_lm_train",
    # round 9: BM25 retrieval — the broadcast-probe inverted-index
    # shape (decontamination / eval-leakage standing probe).
    "text_bm25_topk",
    # round 10: the two new serving/multimodal flagships. Full-suite
    # totals grow by these rows; cross-round comparison reads the
    # frozen shared_core_sec (suite composition no longer confounds
    # the gate — the r10 drift isolation in BASELINE.md).
    "text_bm25_topk_indexed",
    "multimodal_video_dedup",
    # round 11: the persisted-IVF serving probe (the ANN twin of the
    # indexed BM25 row — dialed cell count, partition-pruned scan,
    # salted two-level top-k) and the corpus-wide unified curation
    # report (text DAG + three modality dedups composed — the
    # heaviest certified composition in the registry, so its wall
    # clock is worth a standing number).
    "ann_ivf_topk_indexed",
    "corpus_unified_curation",
]

#: FROZEN shared-core suite (r10): the 16 queries the headline set held
#: through rounds 6-8.  Round 9 added three Python-stage-heavy rows to
#: the interleaved rotation and every r8-shared query drifted +7..+27%
#: with zero plan-file changes — suite composition changes executor
#: cache/GC pressure for all co-rotating queries, so cross-round deltas
#: on the full suite compare unlike against unlike.  This list NEVER
#: changes: `shared_core_sec` is the round-over-round regression gate;
#: the full-suite `value` tracks coverage growth.  (Diagnosis + numbers:
#: BASELINE.md "round-10 drift isolation".)
SHARED_CORE = [
    "q1_pricing_summary",
    "join_star_5way",
    "q3_shipping_priority",
    "q8_market_share",
    "q9_product_profit",
    "q21_waiting_supplier",
    "agg_count_distinct",
    "window_topk_per_group",
    "events_tumbling_1h",
    "events_session_30m",
    "asof_join_latest_order",
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_cosine_topk_arrow",
    "text_quality_score",
    "text_contamination_bloom",
]


#: r14 CPU-calibration row (VERDICT r13 ask #7): a DATA-INDEPENDENT
#: constant-work query — 400M generated rows through a 5-deep xxhash64
#: chain into one sum, 32 partitions, no I/O, no shuffle beyond the
#: final 32-row reduce — sampled once per interleaved round alongside
#: the suite.  Box-speed drift (the documented ±15-20% wander) moves
#: this number and the query times TOGETHER, so verdicts read the
#: drift-normalized ratio ``shared_core_sec / calibration_sec``
#: instead of re-litigating raw cross-round digits (normalization
#: rule: BASELINE.md "round-14 calibration row").
CALIBRATION_ROWS = 400_000_000


def _calibration_sample(spark) -> float:
    import time

    from pyspark.sql import functions as F

    h = F.xxhash64("id")
    for _ in range(4):
        h = F.xxhash64(h, F.lit(11))
    t0 = time.perf_counter()
    # shiftright keeps the 400M-term sum inside a long (raw xxhash64
    # sums overflow ANSI arithmetic)
    spark.range(0, CALIBRATION_ROWS, 1, 32).select(
        F.sum(F.shiftright(h, 20)).alias("s")
    ).collect()
    return time.perf_counter() - t0


def count_spark_drivers(ps_out: str) -> int:
    """Live Spark driver JVMs in ``ps -eo comm,args`` output: lines whose
    EXECUTABLE is exactly ``java`` and whose arguments name SparkSubmit.
    A shell or grep whose argument string merely mentions the class name
    (e.g. a harness wrapper that also inspects for Spark JVMs), or a
    command whose name only ends in "java", is not a live driver and
    must not flag the run as contaminated; blank lines are skipped."""
    n = 0
    for line in ps_out.splitlines():
        parts = line.split(None, 1)
        if (
            len(parts) == 2
            and parts[0] == "java"
            and "org.apache.spark.deploy.SparkSubmit" in parts[1]
        ):
            n += 1
    return n


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        sf = -1.0

    # isolation hook (r10 drift diagnosis): restrict the interleaved
    # rotation to an explicit comma-separated query list so a suite can
    # be timed WITHOUT co-rotating heavy rows perturbing its samples
    suite = HEADLINE
    override = os.environ.get("SPARK_GRAFT_BENCH_QUERIES", "").strip()
    if override:
        suite = [q.strip() for q in override.split(",") if q.strip()]

    from tailsql_spark.plans.registry import REGISTRY
    from tailsql_spark.session import get_spark

    # r17 (VERDICT r16 ask #5, solo-run discipline): two of r16's bench
    # runs were contaminated by concurrent Spark work on the box.  Scan
    # for live Spark driver JVMs BEFORE starting ours; record the count
    # in the headline JSON so a contaminated run is self-labelling, and
    # refuse outright only under SPARK_GRAFT_SOLO_STRICT=1 (refusal is
    # opt-in: the grading driver may legitimately run this bench from a
    # harness that keeps its own JVM alive, and a lost BENCH artifact is
    # worse than a flagged one).
    concurrent_spark = 0
    try:
        import subprocess

        concurrent_spark = count_spark_drivers(
            subprocess.run(
                ["ps", "-eo", "comm,args"], capture_output=True, text=True, timeout=10
            ).stdout
        )
    except Exception:
        concurrent_spark = -1  # scan unavailable; never block the bench
    if concurrent_spark > 0:
        print(
            f"# WARNING: {concurrent_spark} live Spark driver JVM(s) detected — "
            "samples may be contaminated (solo-run discipline)",
            file=sys.stderr,
        )
        if os.environ.get("SPARK_GRAFT_SOLO_STRICT") == "1":
            print("# SPARK_GRAFT_SOLO_STRICT=1: refusing to run", file=sys.stderr)
            sys.exit(3)

    spark = get_spark(app_name="tailsql_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warmup: JVM start, parquet footers, and the scan→shuffle→agg
    # codegen paths, all out of the measured numbers
    from pyspark.sql import functions as F

    from tailsql_spark.plans.catalog import load_tables

    tables = load_tables(spark, sf_dir)
    tables["lineitem"].groupBy("l_returnflag").agg(
        F.count("*"), F.sum("l_quantity")
    ).collect()
    # spin up the Arrow/Python worker pool (session setup, not query cost)
    spark.range(32).mapInPandas(lambda it: it, schema="id long").count()

    # One untimed warmup execution per query (JMH-style): the first run
    # of a plan pays whole-stage-codegen compilation + JIT (~1 s of
    # constant cost at any scale factor — measured 1.75 s first vs
    # 0.39 s steady-state for q1 at sf0.1). The timed run then measures
    # the engine, not the compiler.
    for name in suite:
        REGISTRY[name].build(spark, sf_dir).toPandas()
        spark.catalog.clearCache()
    _calibration_sample(spark)  # codegen warmup for the calibration row

    # Five timed runs per query, report the min: local-mode scheduling
    # of many small stages is noisy (observed 2× outliers, and
    # whole-box throughput drifts ±20% between rounds) — the min of
    # five tracks the plan's floor, not the box's mood. Rounds are
    # INTERLEAVED (round-robin over the whole suite), not consecutive
    # per query: the dominant noise is multi-second box-wide stalls,
    # and five back-to-back runs of one query fit inside a single
    # stall, poisoning every sample of that query. Spread across the
    # suite, a stall taxes one sample of several queries and the
    # per-query min survives. clearCache before every sample — we time
    # the real pipeline, only codegen stays warm.
    samples: dict[str, list[float]] = {name: [] for name in suite}
    rows: dict[str, int] = {}
    cal_samples: list[float] = []
    for _ in range(5):
        for name in suite:
            spec = REGISTRY[name]
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            df = spec.build(spark, sf_dir)
            rows[name] = len(df.toPandas())
            samples[name].append(time.perf_counter() - t0)
        # one calibration sample per interleaved round: it rides the
        # same box conditions (stalls, thermal/noisy-neighbor drift)
        # as that round's query samples
        cal_samples.append(_calibration_sample(spark))
    calibration_sec = round(min(cal_samples), 3)
    # r15 (VERDICT r14 ask #5): the spread rule that arms the
    # calibration gate — a min sitting far below the round's median
    # means one lucky quiet window, and dividing by it would overstate
    # the normalized ratio; the flag tells the verdict to read the
    # ratio against the sidecar spreads instead of trusting the point.
    cal_sorted = sorted(cal_samples)
    calibration_median_sec = round(cal_sorted[len(cal_sorted) // 2], 3)
    calibration_spread_flag = calibration_median_sec > 2 * calibration_sec
    per_query = {name: round(min(samples[name]), 3) for name in suite}
    for name in suite:
        print(f"# {name}: {per_query[name]:.3f}s ({rows[name]} rows)", file=sys.stderr)

    total = round(sum(per_query.values()), 3)
    # the frozen shared-core subtotal (same samples, fixed query list):
    # THE apples-to-apples round-over-round number — composition-immune
    # because the list never changes (only reported when the suite ran
    # all of it, e.g. not under a partial isolation override)
    core = [q for q in SHARED_CORE if q in per_query]
    shared_core_sec = (
        round(sum(per_query[q] for q in core), 3) if len(core) == len(SHARED_CORE) else None
    )
    # r17 (VERDICT r16 ask #5): a median-based twin of the normalized
    # ratio, immune to min-of-5 luck — per interleaved ROUND sum the
    # shared-core samples (round subtotals ride one box condition),
    # take the median subtotal over the median calibration.  The
    # regression rule (BASELINE.md): a real regression moves BOTH
    # shared_core_per_cal and this median ratio beyond the bands.
    shared_core_per_cal_median = None
    if shared_core_sec is not None and calibration_median_sec > 0:
        round_subtotals = sorted(
            sum(samples[q][r] for q in core) for r in range(len(cal_samples))
        )
        shared_core_median_sec = round_subtotals[len(round_subtotals) // 2]
        shared_core_per_cal_median = round(
            shared_core_median_sec / calibration_median_sec, 3
        )
    # Full sample sets go to a SIDECAR file, not stdout: in round 10 the
    # single JSON line (21 queries x 5-sample arrays) outgrew the
    # driver's tail capture and BENCH_r10.json recorded "parsed": null —
    # the round's machine-readable headline was lost even though every
    # number survived in the samples. The final stdout line is now a
    # COMPACT summary (value, shared_core_sec, per-query mins) that
    # stays parseable no matter how many queries the suite grows to;
    # per-sample spreads for drift adjudication live in the sidecar.
    sidecar = {
        "timing": "min_of_5_interleaved_rounds",
        "sf": sf,
        "shared_core_queries": SHARED_CORE,
        "calibration_rows": CALIBRATION_ROWS,
        "calibration_samples": [round(s, 3) for s in cal_samples],
        "samples": {name: [round(s, 3) for s in samples[name]] for name in suite},
    }
    sidecar_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "tools",
        "measurements",
        "bench_samples_latest.json",
    )
    try:
        os.makedirs(os.path.dirname(sidecar_path), exist_ok=True)
        with open(sidecar_path, "w") as fh:
            json.dump(sidecar, fh)
        print(f"# full sample sets: {sidecar_path}", file=sys.stderr)
    except OSError as exc:  # read-only checkout must not kill the headline
        print(f"# sidecar write failed ({exc}); samples on stderr only", file=sys.stderr)
        print(f"# samples: {json.dumps(sidecar['samples'])}", file=sys.stderr)
    print(
        json.dumps(
            {
                "metric": "headline_suite_wall_sec",
                "value": total,
                "unit": "sec",
                "queries": per_query,
                "sf": sf,
                # r10: frozen 16-query shared-core subtotal — the
                # regression gate; `value` tracks the growing full suite
                "shared_core_sec": shared_core_sec,
                # r14: data-independent constant-work sample (min of 5,
                # one per interleaved round) — divide shared_core_sec
                # by this to read drift-normalized round-over-round
                # deltas (BASELINE.md "round-14 calibration row")
                "calibration_sec": calibration_sec,
                # r15: calibration median + spread flag (ask #5) — when
                # the flag is true, the min-of-5 calibration sat >2x
                # below the round's median and shared_core_per_cal
                # must be read against the sidecar spreads, not alone
                "calibration_median_sec": calibration_median_sec,
                "calibration_spread_flag": calibration_spread_flag,
                "shared_core_per_cal": (
                    round(shared_core_sec / calibration_sec, 3)
                    if shared_core_sec is not None and calibration_sec > 0
                    else None
                ),
                # r17 (ask #5): median-twin of the ratio — a regression
                # requires BOTH ratios to move beyond the sample bands
                "shared_core_per_cal_median": shared_core_per_cal_median,
                # r17 (ask #5): live Spark driver JVMs seen at startup
                # (0 = solo run; -1 = scan unavailable)
                "concurrent_spark_at_start": concurrent_spark,
                "timing": "min_of_5_interleaved_rounds",
            }
        )
    )


if __name__ == "__main__":
    main()
