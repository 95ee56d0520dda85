#!/usr/bin/env python3
"""Benchmark of the live loop and the query registry.

    python3 perfbench/run.py --workload tail_wide_window --seed 1 --seconds 24 --trace 0

Run from the repository root. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. Everything the
run writes stays under ``.perfbench_work/`` in the repository root. See
perfbench/README.md for the workloads and what each metric means.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

UNITS = {"setup_s": "s", "work_s": "s", "lag_ms": "ms"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric and its unit, in BENCHMARK.json order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def live_spark_drivers() -> int:
    """Spark driver JVMs alive on this machine: ``ps`` rows whose command
    name is exactly ``java`` and whose arguments name SparkSubmit."""
    out = subprocess.run(["ps", "-eo", "comm,args"], capture_output=True, text=True, timeout=10).stdout
    n = 0
    for line in out.splitlines()[1:]:
        parts = line.split(None, 1)
        if len(parts) == 2 and parts[0] == "java" and "org.apache.spark.deploy.SparkSubmit" in parts[1]:
            n += 1
    return n


def _environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and make the package importable by Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    import tempfile

    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)


class Session:
    """Builds the SparkSession on first call; ``close`` stops it and waits
    for the driver JVM to exit."""

    def __init__(self, warehouse: str):
        self.warehouse = warehouse
        self.spark = None

    def __call__(self):
        if self.spark is None:
            from tailsql_spark.session import get_spark

            self.spark = get_spark(
                app_name="perfbench",
                extra_conf={"spark.sql.warehouse.dir": self.warehouse, "spark.ui.showConsoleProgress": "false"},
            )
            self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def close(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            gateway.shutdown()
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["tail_wide_window", "registry_core"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "tailsql_spark", "__init__.py")):
        print(f"perfbench: no tailsql_spark package under {ROOT}", file=sys.stderr)
        return 2

    t_start, untraced = T_START, None
    if args.trace:
        # the untraced pass of the same seed and seconds, for the overhead
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", "0"]
        child = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=170)
        if child.returncode != 0:
            print("perfbench: the untraced pass failed", file=sys.stderr)
            return 1
        last = json.loads(child.stdout.strip().splitlines()[-1])
        untraced = {k: v["value"] for k, v in last["metrics"].items()}
        t_start = time.time()

    drivers = live_spark_drivers()
    if drivers:
        print(f"# perfbench: {drivers} other Spark driver JVM(s) alive; samples may be contaminated", file=sys.stderr)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    _environment(run_dir)

    import batch
    import live
    import stats
    from tracing import OFF, Tracer

    tracer = Tracer() if args.trace else OFF
    session = Session(os.path.join(run_dir, "warehouse"))
    workload = live if args.workload == "tail_wide_window" else batch
    steal0 = stats.cpu_steal()
    try:
        res = workload.run(session, t_start, run_dir, args.seed, args.seconds, tracer)
    finally:
        session.close()
        shutil.rmtree(run_dir, ignore_errors=True)

    steal1 = stats.cpu_steal()
    info = {"workload": args.workload, "seed": args.seed, "concurrent_spark_at_start": drivers,
            "cpu_steal_share": round(stats.steal_share(steal0, steal1), 4), **res["info"]}
    for err in res["errors"]:
        print(f"# FAILED: {err}", file=sys.stderr)
    print(f"# {json.dumps(info)}")
    for name, (value, unit) in res["named"].items():
        print(f"# {name} = {value:.6g} {unit}")
    if args.trace:
        units = per_layer_units()
        metrics = {name: res["layer"].get(name, 0) for name in units}
        overhead = {k: res["e2e"][k] - v for k, v in untraced.items()}
        print(f"# traced end-to-end: {json.dumps(res['e2e'])}")
        print(f"# untraced end-to-end (same seed and seconds): {json.dumps(untraced)}")
        print(f"# tracing overhead (traced - untraced): {json.dumps(overhead)}")
        tracer.dump(
            os.path.join(WORK, "traces", f"{args.workload}-{args.seed}-{tracer.run_id}.json"),
            {"info": info, "traced_e2e": res["e2e"], "untraced_e2e": untraced, "layer": metrics},
        )
    else:
        metrics, units = res["e2e"], UNITS
    for name, value in metrics.items():
        print(f"# {name} = {value:.6g} {units[name]}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {name: {"value": value, "unit": units[name]} for name, value in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
