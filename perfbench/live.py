"""``tail_wide_window``: the live loop, from an open-loop log under a wide
window to a backfill drain.

One ``tailf`` source (``seek_to_end=false``) follows a log of F1-shaped
lines (``gen.py``) through the README-demo filter. The window is
SIZE:SLIDE (processing time) and the trigger is ``min(1, SLIDE / 2)``, as
``StreamQueryer.run()`` picks it. A run has three phases:

1. Setup: build the session and a queryer, ``start()`` it on a log that
   holds PRIME lines, wait for the first micro-batch.
2. Open loop: ``gen.py`` appends at RATE lines/s and the benchmark calls
   ``emit()`` on its own epoch-aligned tick grid, OFFSET seconds after
   Spark's trigger grid (mid-way between two triggers), so the
   ingest-to-emit phase is the same in every run. Emissions due SIZE
   seconds after the writer started (window full) are timed for
   ``--seconds``; the ones before, every WARM_EVERY, warm the emission
   path, untimed.
3. Drain, on a JVM the open loop has warmed: the writer stops, and
   WARM_BURSTS + BURSTS blocks of BURST lines are appended in one write
   each, just before a trigger boundary; each after the warm-ups is timed
   by Spark's progress: the triggerExecution time of the micro-batches
   that ingested (spooled) its lines. An ``emit()`` after every
   DRAIN_EMIT_EVERY bursts keeps consecutive windows overlapping.

Every emission is checked against the generator; the chain of windows
has no gap, and the last one reaches the last line written.
"""

from __future__ import annotations

import json
import math
import os
import signal
import subprocess
import sys
import time

import check
import gen
import stats
from tracing import OFF, JobCounter, Tracer

#: a 2 s slide (1 s trigger) leaves the driver idle most of each second,
#: so a slow moment on the host does not queue later emissions behind it
SIZE, SLIDE = 10, 2
TRIGGER = min(1.0, SLIDE / 2)
#: mid-way between triggers: the micro-batch before (~0.3 s) has ended
OFFSET = 0.5
RATE = 300
PRIME = 200
BURST, BURSTS = 8_000, 8
#: untimed blocks first: the big-batch path is still warming up
WARM_BURSTS = 2
#: untimed emissions while the window fills, this far apart, to warm the
#: emission path before the timed ones
WARM_EVERY = TRIGGER / 2
#: a burst is written this long before a trigger boundary, so the
#: micro-batch at that boundary reads all of it
BURST_LEAD = 0.05
#: bursts between the drain's emissions: few enough that consecutive
#: windows overlap even on a slow host
DRAIN_EMIT_EVERY = 3
EMIT_GROUP = "perfbench-emit"
WAIT_S = 60


class Progress:
    """Lines ingested by a streaming query, from its progress reports."""

    def __init__(self, stream):
        self.stream = stream
        #: batch id -> (input rows, triggerExecution ms)
        self.batches: dict[int, tuple[int, int]] = {}
        self._last = None

    def lines(self) -> int:
        last = self.stream.lastProgress
        if last is not None and last["batchId"] != self._last:
            self._last = last["batchId"]
            for p in self.stream.recentProgress:
                self.batches[p["batchId"]] = (p["numInputRows"], p["durationMs"]["triggerExecution"])
        return sum(rows for rows, _ in self.batches.values())

    def wait_for(self, n: int) -> float:
        """Wait until ``n`` lines are in; return the seconds Spark spent in
        the micro-batches that brought lines since the previous call."""
        seen = set(self.batches)
        deadline = time.time() + WAIT_S
        while self.lines() < n:
            if self.stream.exception() is not None:
                raise RuntimeError(f"ingest query failed: {self.stream.exception()}")
            if time.time() > deadline:
                raise RuntimeError(f"ingested {self.lines()} of {n} lines in {WAIT_S} s")
            time.sleep(0.05)
        return sum(ms for b, (rows, ms) in self.batches.items() if b not in seen and rows) / 1000.0


def _spool_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(os.path.join(path, f)).num_rows
        for f in os.listdir(path)
        if f.startswith("part-")
    )


def _traced_queryer(base, tracer: Tracer):
    """StreamQueryer subclass timing process_batch around super()."""
    seen: set[str] = set()

    class Traced(base):
        def process_batch(self, idx, df, now=None):
            with tracer.span("process_batch"):
                super().process_batch(idx, df, now)
            # rows that reached the window: footers of the new segments
            for path in {os.path.join(self._spool_dir, n) for n in os.listdir(self._spool_dir)} - seen:
                seen.add(path)
                tracer.count("parse.rows_kept", _spool_rows(path))

    return Traced


def _progress_listener(tracer: Tracer, log: str):
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            size = os.path.getsize(log)
            d = p.durationMs
            tracer.count("tail.lines_in", p.numInputRows)
            now = time.time()
            tracer.record(
                "trigger", now - d.get("triggerExecution", 0) / 1000.0, now,
                batch_id=p.batchId, rows=p.numInputRows, duration_ms=dict(d),
                read_lag_bytes=size - int(json.loads(p.sources[0].endOffset)["pos"]),
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


def run(spark_session, t_start: float, work: str, seed: int, seconds: float, tracer) -> dict:
    from tailsql_spark.operators.windows import WindowSpec
    from tailsql_spark.streaming import squeryer
    from tailsql_spark.streaming.squeryer import SourceSpec, StreamQueryer

    log = os.path.join(work, "live.log")
    with open(log, "w") as f:
        f.write(gen.block(seed, 0, PRIME, int(time.time() * 1_000_000)))
    spark = spark_session()
    session_s = time.time() - t_start
    traced = tracer is not OFF
    if traced:
        jobs = JobCounter(spark.sparkContext)
        jobs_before = jobs.mark()
        real_render = squeryer.render

        def timed_render(*a, **kw):
            with tracer.span("render"):
                return real_render(*a, **kw)

        squeryer.render = timed_render

    listener = None
    queryer = None
    writer = None
    gen_out = ""
    emissions = []  # (phase, due, emit start, emit end, sink time, output | exception, segments)
    sink_log: list[tuple[float, str]] = []

    def emit(phase: str, due: float) -> None:
        a = time.time()
        n_sink = len(sink_log)
        with tracer.span("emit", due=due, phase=phase):
            try:
                queryer.emit()
                outcome = sink_log[n_sink][1]
            except Exception as exc:  # a failed emission is a failed operation
                outcome = exc
        b = time.time()
        sink_at = sink_log[n_sink][0] if len(sink_log) > n_sink else b
        segs = len(os.listdir(queryer._spool_dir))
        emissions.append((phase, due, a, b, sink_at, outcome, segs))

    try:
        if traced:
            listener = _progress_listener(tracer, log)
            spark.streams.addListener(listener)
        cls = _traced_queryer(StreamQueryer, tracer) if traced else StreamQueryer
        queryer = cls(
            spark,
            [SourceSpec(path=log, pattern=gen.PATTERN, filter_expr=gen.FILTER, seek_to_end=False)],
            WindowSpec(SIZE, SLIDE),
            gen.SQL,
            sink=lambda out: sink_log.append((time.time(), out)),
        )
        queryer.start(trigger_sec=TRIGGER)
        (stream,) = spark.streams.active
        progress = Progress(stream)
        progress.wait_for(PRIME)
        setup_s = time.time() - t_start
        if traced:
            spark.sparkContext.setJobGroup(EMIT_GROUP, "benchmark emissions")

        writer = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "gen.py"), log, str(seed), str(RATE), str(PRIME)],
            stdout=subprocess.PIPE, text=True,
        )
        # the window is full SIZE seconds from now; until then emit every
        # WARM_EVERY to warm the emission path, untimed
        open_at = time.time()
        due = (math.floor(open_at / SLIDE) + 1) * SLIDE + OFFSET
        timed_from = due + math.ceil(SIZE / SLIDE) * SLIDE
        while due < timed_from + seconds:
            time.sleep(max(0.0, due - time.time()))
            emit("timed" if due >= timed_from else "warm", due)
            progress.lines()  # recentProgress keeps only the last 100 batches
            if due >= timed_from:
                due += SLIDE
            else:
                # warm-ups skip the ticks they overran and stop a slide
                # short of the timed grid, so no backlog reaches it
                due = max(due + WARM_EVERY, time.time())
                if due > timed_from - SLIDE:
                    due = timed_from
        writer.send_signal(signal.SIGTERM)
        gen_out, _ = writer.communicate(timeout=30)
        drain_at = time.time()

        # drain, on a warm JVM: the bursts are built first; each is written
        # BURST_LEAD before a trigger boundary, so the micro-batch there
        # reads all of it. An emission after every DRAIN_EMIT_EVERY bursts
        # keeps consecutive windows overlapping, so the checks see every line.
        seq = PRIME + json.loads(gen_out.strip().splitlines()[-1])["lines"]
        stamp = int(time.time() * 1_000_000)
        texts = [gen.block(seed, seq + k * BURST, BURST, stamp) for k in range(WARM_BURSTS + BURSTS)]
        drains = []
        for k, text in enumerate(texts):
            boundary = (math.floor(time.time() / TRIGGER) + 1) * TRIGGER
            if boundary - BURST_LEAD - time.time() < 0.01:
                boundary += TRIGGER
            time.sleep(max(0.0, boundary - BURST_LEAD - time.time()))
            with open(log, "a") as f:
                f.write(text)
            with tracer.span("drain"):
                spark_s = progress.wait_for(seq + BURST)
            if k >= WARM_BURSTS:
                drains.append(spark_s)
            seq += BURST
            if (k + 1) % DRAIN_EMIT_EVERY == 0 or k + 1 == len(texts):
                emit("drain", time.time())
    finally:
        if writer is not None and writer.returncode is None:
            writer.send_signal(signal.SIGTERM)
            gen_out, _ = writer.communicate(timeout=30)
        if queryer is not None:
            queryer.stop()
        if listener is not None:
            spark.streams.removeListener(listener)
        if traced:
            squeryer.render = real_render

    gen_stats = json.loads(gen_out.strip().splitlines()[-1])
    with open(log) as f:
        # garbled lines carry no stamp; only kept lines' stamps are read
        created = [int(ln.split()[-1]) if "localhost" in ln else 0 for ln in f]
    checker = check.LiveChecker(seed, created)
    failed, errors = 0, []
    lag, fresh, wall, segs = [], [], [], []
    for i, (phase, due, a, b, sink_at, outcome, n_segs) in enumerate(emissions):
        rows, problem = None, None
        if isinstance(outcome, Exception):
            problem = f"emit raised {outcome!r}"
        else:
            try:
                rows = check.parse_raw(outcome)
                problem = checker.check(rows)
            except ValueError as exc:
                problem = str(exc)
        # with the chain of windows checked, the last one reaching the last
        # kept line means every drained line reached a window
        if not problem and i == len(emissions) - 1:
            hi, last = max(r[3] for r in rows.values()), checker.kept_seqs[-1]
            if hi != last:
                problem = f"last window ends at line {hi}, not at the last kept line {last}"
        if problem:
            failed += 1
            errors.append(f"{phase} emission: {problem}")
        elif phase == "timed":
            lag.append((sink_at - due) * 1000.0)
            fresh.append(sink_at * 1000.0 - max(r[4] for r in rows.values()) / 1000.0)
            wall.append(b - a)
            segs.append(n_segs)
    if len(lag) < 2:
        raise RuntimeError(f"only {len(lag)} timed emissions passed: {errors[:3]}")
    half = len(lag) // 2
    drain_s = stats.median(drains)
    named = {
        "drain_lines_per_s": (BURST / drain_s, "1/s"),
        "emit_lag_p50_ms": (stats.median(lag), "ms"),
        "freshness_p50_ms": (stats.median(fresh), "ms"),
    }
    if len(lag) >= 2 * stats.MIN_BEYOND:
        (lag_tail, pct), (fresh_tail, _) = stats.tail(lag), stats.tail(fresh)
        named["emit_lag_tail_ms"] = (lag_tail, f"ms (p{pct:.0f} of {len(lag)})")
        named["freshness_tail_ms"] = (fresh_tail, f"ms (p{pct:.0f} of {len(lag)})")
    named.update({
        "emit_lag_first_half_p50_ms": (stats.median(lag[:half]), "ms"),
        "emit_lag_second_half_p50_ms": (stats.median(lag[half:]), "ms"),
        "emit_lag_first_half_max_ms": (max(lag[:half]), "ms"),
        "emit_lag_second_half_max_ms": (max(lag[half:]), "ms"),
        "emit_wall_p50_ms": (1000.0 * stats.median(wall), "ms"),
        "segments_per_emission_p50": (stats.median(segs), "count"),
    })
    result = {
        "attempted": len(emissions),
        "failed": failed,
        "errors": errors[:5],
        "info": {
            "timed_emissions": len(lag), "lines": len(created), "gen": gen_stats,
            "phases_s": {"session": session_s, "setup": setup_s, "open_loop": drain_at - open_at,
                         "drain": time.time() - drain_at},
            "drains_s": drains, "lags_ms": [round(x) for x in lag],
        },
        "named": named,
        "e2e": {"setup_s": setup_s, "work_s": drain_s, "lag_ms": stats.median(lag)},
    }
    if traced:
        result["layer"] = _layers(tracer, jobs, jobs_before, emissions, gen_stats)
    return result


def _layers(tracer, jobs, jobs_before, emissions, gen_stats) -> dict:
    med = lambda xs: stats.median(xs) if xs else 0.0  # noqa: E731
    triggers = [s for s in tracer.spans if s["name"] == "trigger" and s["rows"] > 0]
    batches = [s for s in tracer.spans if s["name"] == "process_batch"]
    emits = [s for s in tracer.spans if s["name"] == "emit"]
    renders = [s for s in tracer.spans if s["name"] == "render"]
    timed_emits = [s for s in emits if s["phase"] == "timed"]
    t0 = min(s["start"] for s in batches + emits)
    t1 = max(s["end"] for s in batches + emits)

    def overlaps(b):
        return any(e["start"] < b["end"] and b["start"] < e["end"] for e in emits)

    emit_ms = [1000.0 * (s["end"] - s["start"]) for s in timed_emits]
    render_by_emit = [
        (1000.0 * (e["end"] - e["start"]),
         sum(1000.0 * (r["end"] - r["start"]) for r in renders if r["parent"] == e["id"]))
        for e in timed_emits
    ]
    emit_jobs = jobs.group(EMIT_GROUP)
    batch_jobs = jobs.mark() - jobs_before - emit_jobs
    lines_in = tracer.counts.get("tail.lines_in", 0)
    segs = [e[6] for e in emissions if e[0] == "timed"]
    return {
        "tail.lines_in": lines_in,
        "tail.latest_offset_ms_p50": med([s["duration_ms"].get("latestOffset", 0) for s in triggers]),
        "tail.read_lag_bytes_max": max((s["read_lag_bytes"] for s in triggers), default=0),
        "trigger.overhead_ms_p50": med([
            s["duration_ms"].get("triggerExecution", 0) - s["duration_ms"].get("addBatch", 0)
            - s["duration_ms"].get("latestOffset", 0) for s in triggers
        ]),
        "process_batch.calls": len(batches),
        "process_batch.p50_ms": med([1000.0 * (b["end"] - b["start"]) for b in batches]),
        "process_batch.busy_share": sum(b["end"] - b["start"] for b in batches) / max(t1 - t0, 1e-9),
        "process_batch.spark_jobs_per_call": batch_jobs / max(len(batches), 1),
        "process_batch.p50_ms_overlapping_emit": med([1000.0 * (b["end"] - b["start"]) for b in batches if overlaps(b)]),
        "process_batch.p50_ms_alone": med([1000.0 * (b["end"] - b["start"]) for b in batches if not overlaps(b)]),
        "parse.kept_ratio": tracer.counts.get("parse.rows_kept", 0) / max(lines_in, 1),
        "emit.calls": len(emits),
        "emit.p50_ms": med(emit_ms),
        # only with the 20 samples a tail needs (--seconds 40 or more)
        **({"emit.tail_ms": stats.tail(emit_ms)[0]} if len(emit_ms) >= 2 * stats.MIN_BEYOND else {}),
        "emit.spark_jobs_per_call": emit_jobs / max(len(emits), 1),
        "emit.segments_p50": med(segs),
        "render.p50_ms": med([r for _, r in render_by_emit]),
        "emit.pre_render_ms_p50": med([e - r for e, r in render_by_emit]),
        "gen.late_ms_max": gen_stats["late_ms_max"],
    }
