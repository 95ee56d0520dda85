"""``registry_core``: seven certified registry queries.

The tables are the certified sf0.01 set, copied into ``perfbench/data``
so a run reads nothing outside its checkout. Each query is built and
materialized with ``toPandas()`` once untimed (warm-up, part of setup;
the seven warm-ups run in parallel threads to keep set-up short), then
timed in interleaved rounds, as ``bench.py`` does: one round per
ROUND_S seconds of ``--seconds``, at least MIN_ROUNDS. The round count
depends on ``--seconds`` alone and the order is fixed, so every run
takes the same samples; the inputs do not depend on the seed. After
timing, every sample is compared with the query's DuckDB oracle.
"""

from __future__ import annotations

import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import check
import stats
from tracing import OFF, JobCounter

#: three light rows on the job-launch floor, then four heavy-operator rows
QUERIES = (
    "q1_pricing_summary",
    "join_star_5way",
    "events_session_30m",
    "dedup_minhash_lsh",
    "text_contamination_bloom",
    "text_unigram_lm_train",
    "corpus_unified_curation",
)
MIN_ROUNDS = 1
#: seconds of --seconds per timed round
ROUND_S = 30
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


def run(spark_session, t_start: float, work: str, seed: int, seconds: float, tracer) -> dict:
    from tailsql_spark.plans.catalog import load_tables
    from tailsql_spark.plans.registry import REGISTRY

    data = DATA
    spark = spark_session()
    load_tables(spark, data)  # once, before the threads share it
    with ThreadPoolExecutor(len(QUERIES)) as pool:
        list(pool.map(lambda name: REGISTRY[name].build(spark, data).toPandas(), QUERIES))
    spark.catalog.clearCache()
    setup_s = time.time() - t_start

    traced = tracer is not OFF
    jobs = JobCounter(spark.sparkContext) if traced else None
    samples: dict[str, list[float]] = {q: [] for q in QUERIES}
    job_counts: dict[str, list[int]] = {q: [] for q in QUERIES}
    results = []  # (query, columns, pandas frame | exception)
    rounds = max(MIN_ROUNDS, int(seconds // ROUND_S))
    for rnd in range(rounds):
        for name in QUERIES:
            spark.catalog.clearCache()
            if traced:
                before = jobs.mark()
            a = time.time()
            with tracer.span(f"registry.{name}", round=rnd):
                try:
                    with tracer.span("build"):
                        df = REGISTRY[name].build(spark, data)
                    with tracer.span("materialize"):
                        pdf = df.toPandas()
                    results.append((name, df.columns, pdf))
                    samples[name].append(time.time() - a)
                except Exception as exc:  # a failed query is a failed operation
                    results.append((name, None, exc))
            if traced:
                job_counts[name].append(jobs.mark() - before)

    con = check.oracle_connection(data, os.path.join(work, "duckdb"))
    oracle = {q: con.execute(REGISTRY[q].oracle).df() for q in QUERIES}
    con.close()
    failed, errors = 0, []
    for name, columns, pdf in results:
        problem = f"raised {pdf!r}" if columns is None else check.registry_mismatch(columns, pdf, oracle[name])
        if problem:
            failed += 1
            errors.append(f"{name}: {problem}")

    if any(not samples[q] for q in QUERIES):
        raise RuntimeError(f"registry queries failed: {errors[:3]}")
    medians = {q: stats.median(samples[q]) for q in QUERIES}
    suite = sum(medians.values())
    result = {
        "attempted": len(results),
        "failed": failed,
        "errors": errors[:5],
        "info": {
            "rounds": rounds,
            "samples_ms": {q: [round(1000 * x) for x in samples[q]] for q in QUERIES},
        },
        "named": {"registry_suite_s": (suite, "s")},
        "e2e": {
            "setup_s": setup_s,
            "work_s": suite,
            # a query's answer is due when it is issued, so its lag is its
            # latency; the geometric mean weighs floor and heavy rows alike
            "lag_ms": 1000.0 * statistics.geometric_mean(medians.values()),
        },
    }
    if traced:
        result["layer"] = {
            **{f"registry.{q}.s": medians[q] for q in QUERIES},
            **{f"registry.{q}.jobs": stats.median(job_counts[q]) for q in QUERIES},
        }
    return result
