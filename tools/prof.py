#!/usr/bin/env python
"""Profiler for registry queries, at three levels of detail (guide §1/§7).

All levels share one session, one warm-up (JVM start, parquet footers,
the scan→shuffle→agg and Arrow codegen paths) and one untimed build of
each query before anything is measured.

``--level query`` (default) — for each named query: capture
.explain("formatted") to plans/<tag>/<name>_<suffix>.txt, then time N
samples of the bench-identical action (build + toPandas) AND of the
noop-sink action (computation only, no driver materialization), and
count the Spark jobs each execution launches (setJobGroup +
statusTracker — job count is the fixed-overhead driver at small SF).
Prints {query: {min, samples, jobs_last_run, noop_min, noop_samples,
noop_jobs_last_run}}.

``--level jobs`` — runs each query once with the UI enabled and dumps
every Spark job it launched (duration, stages, tasks, description) via
the UI REST API: answers "where do the N jobs of a small-SF run come
from".  Prints {query, wall_sec, n_jobs, sum_job_sec, jobs} per query.

``--level stages`` — runs each query once (noop sink) with the UI
enabled and dumps its slowest stages (wall, executor run time, tasks,
input / shuffle-read records, name).  Prints {query, wall_sec,
n_stages, stages} per query.

Usage:
  python tools/prof.py q1_pricing_summary dedup_minhash_lsh \\
      [--samples 5] [--tag r17] [--suffix before] [--no-plan]
  python tools/prof.py --level jobs text_bm25_topk [--action noop|topandas]
  python tools/prof.py --level stages corpus_unified_curation [--top 25]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request
from datetime import datetime

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

UI_PORT = 4057


def _ui(spark, what: str) -> list:
    url = (
        f"http://localhost:{UI_PORT}/api/v1/applications/"
        f"{spark.sparkContext.applicationId}/{what}"
    )
    with urllib.request.urlopen(url) as resp:
        return json.load(resp)


def _ts(s: str) -> datetime:
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fGMT")


def _timed(spark, name: str, group: str, run) -> tuple[float, int]:
    """Wall time and Spark job count of one ``run()`` under ``group``."""
    sc = spark.sparkContext
    spark.catalog.clearCache()
    sc.setJobGroup(group, name)
    t0 = time.perf_counter()
    run()
    wall = time.perf_counter() - t0
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    sc.setJobGroup(None, None)
    return wall, jobs


def profile_query(spark, args, name: str, spec, build) -> dict:
    if not args.no_plan:
        df = (spec.plan or spec.build)(spark, args.sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        plans_dir = os.path.join(ROOT, "plans", args.tag)
        os.makedirs(plans_dir, exist_ok=True)
        with open(os.path.join(plans_dir, f"{name}_{args.suffix}.txt"), "w") as fh:
            fh.write(txt)
    wall, noop = [], []
    jobs = njobs = 0
    for i in range(args.samples):
        w, jobs = _timed(spark, name, f"qprof-{name}-{i}", lambda: build().toPandas())
        wall.append(w)
    for i in range(args.samples):
        w, njobs = _timed(
            spark, name, f"qprofn-{name}-{i}",
            lambda: build().write.format("noop").mode("overwrite").save(),
        )
        noop.append(w)
    out = {
        "min": round(min(wall), 3),
        "samples": [round(s, 3) for s in wall],
        "jobs_last_run": jobs,
        "noop_min": round(min(noop), 3),
        "noop_samples": [round(s, 3) for s in noop],
        "noop_jobs_last_run": njobs,
    }
    print(
        f"# {name}: min {out['min']}s jobs {jobs} | noop {out['noop_min']}s jobs {njobs}",
        file=sys.stderr,
    )
    return out


def profile_jobs(spark, args, name: str, spec, build) -> dict:
    group = f"jobprof-{name}"
    wall, _ = _timed(
        spark, name, group,
        (lambda: build().write.format("noop").mode("overwrite").save())
        if args.action == "noop"
        else (lambda: build().toPandas()),
    )
    mine = sorted(
        (j for j in _ui(spark, "jobs?status=succeeded") if j.get("jobGroup") == group),
        key=lambda j: j["jobId"],
    )
    secs = [
        (_ts(j["completionTime"]) - _ts(j["submissionTime"])).total_seconds()
        for j in mine
    ]
    rows = [
        {
            "jobId": j["jobId"],
            "sec": round(sec, 3),
            "stages": j["numCompletedStages"],
            "tasks": j["numCompletedTasks"],
            "desc": (j.get("description") or j.get("name", ""))[:160],
        }
        for j, sec in zip(mine, secs)
    ]
    return {
        "query": name,
        "wall_sec": round(wall, 3),
        "n_jobs": len(mine),
        "sum_job_sec": round(sum(secs), 3),
        "jobs": rows,
    }


def profile_stages(spark, args, name: str, spec, build) -> dict:
    seen = {s["stageId"] for s in _ui(spark, "stages?status=complete")}
    wall, _ = _timed(
        spark, name, f"stageprof-{name}",
        lambda: build().write.format("noop").mode("overwrite").save(),
    )
    rows = sorted(
        (
            {
                "stage": s["stageId"],
                "wall_sec": round(
                    (
                        _ts(s["completionTime"]) - _ts(s["firstTaskLaunchedTime"])
                    ).total_seconds(),
                    3,
                ),
                "run_ms": s["executorRunTime"],
                "tasks": s["numCompleteTasks"],
                "in_rec": s["inputRecords"],
                "sh_read_rec": s["shuffleReadRecords"],
                "name": s["name"][:90],
            }
            for s in _ui(spark, "stages?status=complete")
            if s["stageId"] not in seen
        ),
        key=lambda r: -r["wall_sec"],
    )
    return {
        "query": name,
        "wall_sec": round(wall, 3),
        "n_stages": len(rows),
        "stages": rows[: args.top],
    }


LEVELS = {"query": profile_query, "jobs": profile_jobs, "stages": profile_stages}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--level", default="query", choices=sorted(LEVELS))
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR"),
        required="SPARK_GRAFT_SF_DIR" not in os.environ,
        help="parquet table dir (default: $SPARK_GRAFT_SF_DIR, as bench.py)",
    )
    ap.add_argument("--samples", type=int, default=5, help="query level")
    ap.add_argument("--tag", default="r17", help="query level: plans/<tag>/")
    ap.add_argument("--suffix", default="before", help="query level: plan file suffix")
    ap.add_argument("--no-plan", action="store_true", help="query level")
    ap.add_argument("--action", default="noop", choices=["noop", "topandas"], help="jobs level")
    ap.add_argument("--top", type=int, default=25, help="stages level")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from tailsql_spark.plans.catalog import load_tables
    from tailsql_spark.plans.registry import REGISTRY
    from tailsql_spark.session import get_spark

    ui = {"spark.ui.enabled": "true", "spark.ui.port": str(UI_PORT)}
    spark = get_spark(
        app_name=f"tailsql_prof_{args.level}",
        extra_conf=None if args.level == "query" else ui,
    )
    spark.sparkContext.setLogLevel("ERROR")

    # session warm-up (bench-identical shape)
    tables = load_tables(spark, args.sf_dir)
    tables["lineitem"].groupBy("l_returnflag").agg(F.count("*")).collect()
    spark.range(32).mapInPandas(lambda it: it, schema="id long").count()

    out = {}
    for name in args.queries:
        spec = REGISTRY[name]

        def build(spec=spec):
            return spec.build(spark, args.sf_dir)

        build().toPandas()  # per-query warm-up (codegen/JIT)
        spark.catalog.clearCache()
        out[name] = LEVELS[args.level](spark, args, name, spec, build)
        if args.level != "query":
            print(json.dumps(out[name], indent=1))
    if args.level == "query":
        print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
