"""Streaming layer tests: tail source, window harness, batch path,
event-time aggregation with watermark (FIXTURES.md F1/F5)."""

from __future__ import annotations

import time


from pyspark.sql import functions as F

from tailsql_spark.operators.windows import WindowSpec
from tailsql_spark.streaming.squeryer import SourceSpec, StreamQueryer, run_batch

README_RE = r".+ (?P<method__str>GETM) (?P<status__str>SUCC) .+7710 (?P<time__int>[0-9]+).*"

LINES = [
    "2024/04/12 22:47:42.506277 GETM SUCC localhost:7710 605",
    "2024/04/12 22:47:43.012345 GETM SUCC localhost:7710 12500",
    "2024/04/12 22:47:43.523456 SETM FAIL localhost:7711 98",
    "2024/04/12 22:47:44.000001 GETM SUCC localhost:7710 13000",
]


def _write(path, lines):
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")


def test_run_batch_readme_demo(spark, tmp_path):
    """--do-not-tail ≡ TableParser path: one parse, one SQL, one render."""
    log = tmp_path / "demo.log"
    _write(log, LINES)
    out = run_batch(
        spark,
        [SourceSpec(path=str(log), pattern=README_RE)],
        "select count(1) as n from t0 where time > 12275",
    )
    assert out == "n\n2"


def test_tail_source_reads_appended_lines(spark, tmp_path):
    """True tail -f: bytes appended after stream start are ingested."""
    log = tmp_path / "grow.log"
    _write(log, LINES[:1])
    from tailsql_spark.sources.tail import TailDataSource

    spark.dataSource.register(TailDataSource)
    got: list = []
    df = (
        spark.readStream.format("tailf")
        .option("path", str(log))
        .option("seek_to_end", "false")
        .load()
    )
    q = (
        df.writeStream.outputMode("append")
        .foreachBatch(lambda b, _e: got.extend(r.value for r in b.collect()))
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        deadline = time.time() + 30
        while len(got) < 1 and time.time() < deadline:
            time.sleep(0.5)
        with open(log, "a") as fh:
            fh.write(LINES[1] + "\n")
        while len(got) < 2 and time.time() < deadline:
            time.sleep(0.5)
    finally:
        q.stop()
    assert got[:2] == [LINES[0], LINES[1]]


def test_tail_source_rotation(tmp_path):
    """File truncation → reader restarts from 0 (tail ReOpen)."""
    from tailsql_spark.sources.tail import TailStreamReader

    log = tmp_path / "rot.log"
    _write(log, ["aaa", "bbb"])
    r = TailStreamReader(str(log), seek_to_end=False, max_bytes_per_batch=1 << 20)
    rows, off = r.read({"pos": 0})
    assert [x[0] for x in rows] == ["aaa", "bbb"]
    _write(log, ["ccc"])  # rewrite smaller → rotation
    rows, off = r.read(off)
    assert [x[0] for x in rows] == ["ccc"]


def test_tail_source_partial_line_carry(tmp_path):
    from tailsql_spark.sources.tail import TailStreamReader

    log = tmp_path / "part.log"
    with open(log, "w") as fh:
        fh.write("complete\nhalf")
    r = TailStreamReader(str(log), seek_to_end=False, max_bytes_per_batch=1 << 20)
    rows, off = r.read({"pos": 0})
    assert [x[0] for x in rows] == ["complete"]
    with open(log, "a") as fh:
        fh.write("line\n")
    rows, off = r.read(off)
    assert [x[0] for x in rows] == ["halfline"]


def test_window_harness_sliding_eviction(spark, tmp_path):
    """Deterministic pump: rows older than SIZE leave the window; rows
    within SIZE appear in multiple sliding emissions (F5)."""
    spec = WindowSpec(size_sec=10, slide_sec=5)
    sq = StreamQueryer(
        spark,
        [SourceSpec(path="unused", pattern=README_RE)],
        spec,
        "select count(1) as n from t0",
        formatter="raw",
        sink=lambda s: None,
    )
    lines = spark.createDataFrame([(l,) for l in LINES], ["value"])
    parsed = sq.sources[0].compiled.parse_lines(lines)  # 3 GETM rows
    t0 = 1000.0
    sq.process_batch(0, parsed, now=t0)
    assert sq.emit(now=t0 + 1) == "n\n3"  # in window
    assert sq.emit(now=t0 + 6) == "n\n3"  # still in (sliding overlap)
    assert sq.emit(now=t0 + 11) == "n\n0"  # evicted after SIZE

    # empty view still answers joins (squeryer.go:429-431)
    sq2 = StreamQueryer(
        spark,
        [SourceSpec(path="u1", pattern=README_RE), SourceSpec(path="u2", pattern=README_RE)],
        spec,
        "select count(1) as n from t0 join t1 using (time)",
        sink=lambda s: None,
    )
    sq2.process_batch(0, parsed, now=t0)
    assert sq2.emit(now=t0 + 1) == "n\n0"


def test_process_batch_is_one_spark_job(spark):
    """The spool write is the ONLY job per micro-batch: row count and
    max event time come from the parquet footers it produced, not from
    extra count/agg jobs (round-1 verdict #8)."""
    spec = WindowSpec(size_sec=60, slide_sec=30, ts_field="ts")
    sq = StreamQueryer(
        spark,
        [SourceSpec(path="unused", pattern=r"(?P<ts__date>\S+) (?P<v__int>\d+)")],
        spec,
        "select count(1) as n from t0",
        sink=lambda s: None,
    )
    lines = spark.createDataFrame(
        [(f"2024-04-12T10:00:{s:02d} {i}",) for i, s in enumerate([0, 20, 40])], ["value"]
    )
    parsed = sq.sources[0].compiled.parse_lines(lines)
    sc = spark.sparkContext
    sc.setJobGroup("one_job_probe", "spool write only")
    try:
        sq.process_batch(0, parsed, now=1000.0)
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("one_job_probe")
    assert len(jobs) == 1, f"expected exactly the write job, got {len(jobs)}"
    # and the footer stats really did fill the event-time bookkeeping
    b = sq._buffers[0][-1]
    assert b.n == 3 and b.max_event_ts is not None


def test_window_harness_tumbling_clears(spark):
    spec = WindowSpec(size_sec=10, slide_sec=0)
    sq = StreamQueryer(
        spark,
        [SourceSpec(path="unused", pattern=README_RE)],
        spec,
        "select count(1) as n from t0",
        sink=lambda s: None,
    )
    lines = spark.createDataFrame([(l,) for l in LINES], ["value"])
    parsed = sq.sources[0].compiled.parse_lines(lines)
    t0 = 2000.0
    sq.process_batch(0, parsed, now=t0)
    assert sq.emit(now=t0 + 1) == "n\n3"
    # tumbling boundary: buffer cleared, next window empty
    assert sq.emit(now=t0 + 2) == "n\n0"


def test_run_skips_ticks_an_emission_overran(monkeypatch):
    """An emission 2.5 periods long makes run() skip the two ticks it
    overran, not fire them back to back."""
    from tailsql_spark.streaming import squeryer

    class Clock:
        now = 1000.0

        def time(self):
            return self.now

        def sleep(self, sec):
            self.now += sec

    clock, period, starts = Clock(), 2.0, []

    class Probe(StreamQueryer):
        def start(self, trigger_sec=1.0):
            pass

        def emit(self, now=None):
            starts.append(clock.now)
            clock.now += 2.5 * period if len(starts) == 2 else 0.1

    monkeypatch.setattr(squeryer, "time", clock)
    sq = Probe(
        None,
        [SourceSpec(path="unused", pattern=README_RE)],
        WindowSpec(size_sec=10, slide_sec=period),
        "select 1",
        sink=lambda s: None,
    )
    sq.run(duration_sec=20)
    gaps = [b - a for a, b in zip(starts, starts[1:])]
    assert len(starts) >= 5 and min(gaps) >= period, gaps
    assert sq.missed_ticks == 2


def test_event_time_stream_with_watermark(spark, sf_dir):
    """Event-time tumbling agg under readStream + watermark (the
    reference's broken event-time path done right, SURVEY §2A)."""
    from tailsql_spark.plans.catalog import load_table

    batch = load_table(spark, sf_dir, "events")
    # stream the events table through a staged parquet dir deterministically
    events = batch.select("ts", "event_type", "value")
    src = events.repartition(4)
    src.write.mode("overwrite").parquet("/tmp/_stream_events")
    stream = spark.readStream.schema(events.schema).parquet("/tmp/_stream_events")
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("evt_windows")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = spark.sql("select sum(n) as total from evt_windows").collect()[0].total
    # append mode emits only windows older than the watermark; the final
    # (open) windows are withheld — total ≤ row count, > 0
    n_events = events.count()
    assert got is not None and 0 < got <= n_events


def test_formatters():
    from tailsql_spark.sinks.formatters import format_raw, format_rawv, format_table

    cols = ["a", "bb"]
    rows = [(1, None), (2, "x")]
    assert format_raw(cols, rows) == "a bb\n1 NULL\n2 x"
    v = format_rawv(cols, rows)
    assert "1. row" in v and " a: 1" in v and "bb: NULL" in v
    t = format_table(cols, rows)
    assert t.splitlines()[0].startswith("+") and "| a " in t.splitlines()[1]
    assert "NULL" in t


def test_render_max_rows_truncation(spark):
    """--max-rows driver-protection knob: defaults keep reference
    parity (every row, no marker); a cap pushes limit() into the plan
    and marks the truncation; an exact-fit cap does not mark."""
    from tailsql_spark.sinks.formatters import render

    df = spark.range(5).selectExpr("id as a")
    full = render(df, "raw")
    assert full.count("\n") == 5 and "truncated" not in full
    capped = render(df.orderBy("a"), "raw", max_rows=3)
    assert "-- output truncated at 3 rows --" in capped
    assert capped.count("\n") == 4  # header + 3 rows + marker
    exact = render(df, "raw", max_rows=5)
    assert "truncated" not in exact and exact.count("\n") == 5


def test_window_harness_event_time(spark):
    """IDX_OF_TS >= 0 → the window is (wm - SIZE, wm] of the PARSED
    timestamp, independent of arrival time (the reference's intended —
    and broken — event-time path, done right)."""
    re_ts = r"(?P<ts__date>\S+) (?P<v__int>\d+)"
    spec = WindowSpec(size_sec=60, slide_sec=30, ts_field="ts")
    sq = StreamQueryer(
        spark,
        [SourceSpec(path="unused", pattern=re_ts)],
        spec,
        "select count(1) as n, min(v) as lo, max(v) as hi from t0",
        sink=lambda s: None,
    )
    lines1 = spark.createDataFrame(
        [(f"2024-04-12T10:00:{s:02d} {i}",) for i, s in enumerate([0, 20, 40])], ["value"]
    )
    sq.process_batch(0, sq.sources[0].compiled.parse_lines(lines1), now=1000.0)
    # wm = 10:00:40 → window (09:59:40, 10:00:40] holds all 3
    assert sq.emit(now=1001.0) == "n lo hi\n3 0 2"

    # late batch arrives MUCH later (arrival time irrelevant): events at
    # 10:01:30/10:01:50 push wm to 10:01:50 → window (10:00:50, 10:01:50]
    lines2 = spark.createDataFrame(
        [("2024-04-12T10:01:30 3",), ("2024-04-12T10:01:50 4",)], ["value"]
    )
    sq.process_batch(0, sq.sources[0].compiled.parse_lines(lines2), now=9999.0)
    assert sq.emit(now=10000.0) == "n lo hi\n2 3 4"


def test_harness_lossy_throttle(spark):
    """max_rows_per_sec sheds overflow by sampling (operator #7)."""
    spec = WindowSpec(size_sec=100, slide_sec=50)
    sq = StreamQueryer(
        spark,
        [SourceSpec(path="unused", pattern=r"(?P<v__int>\d+)", max_rows_per_sec=100)],
        spec,
        "select count(1) as n from t0",
        sink=lambda s: None,
    )
    big = spark.createDataFrame([(str(i),) for i in range(5000)], ["value"])
    parsed = sq.sources[0].compiled.parse_lines(big)
    sq.process_batch(0, parsed, now=100.0)   # first batch: dt≈1s budget≈100
    kept = sum(b.n for b in sq._buffers[0])
    assert 30 <= kept <= 250, kept  # sampled to ≈100, not 5000


def test_harness_drop_tail_throttle(spark):
    """throttle_mode='drop_tail': EXACT budget kept, and it is the
    EARLIEST rows by event time (flow.Discard parity,
    squeryer.go:343-352) — unlike the default sampling shed."""
    spec = WindowSpec(size_sec=100, slide_sec=50, ts_field="ts")
    sq = StreamQueryer(
        spark,
        [
            SourceSpec(
                path="unused",
                pattern=r"(?P<ts__date>\S+) (?P<v__int>\d+)",
                max_rows_per_sec=100,
                throttle_mode="drop_tail",
            )
        ],
        spec,
        "select count(1) as n from t0",
        sink=lambda s: None,
    )
    lines = [
        (f"2024-04-12T10:{m:02d}:{s:02d} {m * 60 + s}",)
        for m in range(10)
        for s in range(60)
    ]  # 600 rows, strictly increasing event time
    parsed = sq.sources[0].compiled.parse_lines(
        spark.createDataFrame(lines, ["value"])
    )
    sq.process_batch(0, parsed, now=100.0)  # first batch: dt≈1s budget=100
    assert sum(b.n for b in sq._buffers[0]) == 100  # exact, not ≈
    kept = spark.read.parquet(sq._buffers[0][0].path)
    vs = sorted(r.v for r in kept.collect())
    assert vs == list(range(100)), vs[:5]  # the EARLIEST 100 survive


def test_streaming_batch_equivalence_tumbling(spark, sf_dir):
    """Golden equivalence: the SAME F.window tumbling aggregation gives
    identical results run as a stream (complete mode) and as a batch —
    the property that lets one plan serve both modes."""
    from tailsql_spark.plans.catalog import load_table

    events = load_table(spark, sf_dir, "events").select("ts", "event_type")
    events.write.mode("overwrite").parquet("/tmp/_stream_eq")

    def agg(df):
        return (
            df.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("ws"), "event_type", "n")
        )

    batch = {(r.ws, r.event_type): r.n for r in agg(events).collect()}
    stream = spark.readStream.schema(events.schema).parquet("/tmp/_stream_eq")
    q = (
        agg(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("eq_windows")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    streamed = {
        (r.ws, r.event_type): r.n for r in spark.sql("select * from eq_windows").collect()
    }
    assert streamed == batch and len(batch) > 100


def test_stateful_running_user_stats(spark, sf_dir):
    """Custom stateful operator (applyInPandasWithState, the certified
    registry row ``stream_stateful_user_totals``): per-user running
    totals across micro-batches equal the batch ground truth."""
    from tailsql_spark.plans.catalog import load_table
    from tailsql_spark.plans.registry import REGISTRY

    events = load_table(spark, sf_dir, "events").select("user_id", "value")
    got = {
        r.user_id: (r.n_events, r.total_cents)
        for r in REGISTRY["stream_stateful_user_totals"].build(spark, sf_dir).collect()
    }
    cents = F.round(F.col("value") * 100, 0).cast("long")
    want = {
        r.user_id: (r.n, r.s)
        for r in events.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum(cents).alias("s"))
        .collect()
    }
    assert set(got) == set(want) and len(want) >= 10
    for k in want:
        assert got[k][0] == want[k][0], k
        # integer cents: micro-batch order cannot perturb the sum
        assert got[k][1] == want[k][1], k


def test_run_batch_two_file_join(spark, tmp_path):
    """FIXTURES.md F3: requests ⋈ upstream-calls on request id across
    two differently-shaped log files (README.md:10 use case)."""
    req = tmp_path / "requests.log"
    ups = tmp_path / "upstream.log"
    req.write_text(
        "2024-04-12T22:47:42 req-1 /api/users 200 35\n"
        "2024-04-12T22:47:43 req-2 /api/items 500 99\n"
        "2024-04-12T22:47:44 req-3 /api/users 200 12\n"
    )
    ups.write_text(
        "2024-04-12T22:47:42 req-1 db-primary 12\n"
        "2024-04-12T22:47:42 req-1 cache 1\n"
        "2024-04-12T22:47:43 req-2 db-primary 88\n"
    )
    out = run_batch(
        spark,
        [
            SourceSpec(
                path=str(req),
                pattern=r"(?P<ts__date>\S+) (?P<rid__str>req-\d+) (?P<path__str>\S+) (?P<code__int>\d+) (?P<ms__int>\d+)",
            ),
            SourceSpec(
                path=str(ups),
                pattern=r"(?P<ts__date>\S+) (?P<rid__str>req-\d+) (?P<backend__str>\S+) (?P<ms__int>\d+)",
            ),
        ],
        """
        select t0.rid, t0.code, count(t1.backend) as n_calls, sum(t1.ms) as backend_ms
        from t0 left join t1 on t0.rid = t1.rid
        group by t0.rid, t0.code order by t0.rid
        """,
    )
    assert out.splitlines() == [
        "rid code n_calls backend_ms",
        "req-1 200 2 13",
        "req-2 500 1 88",
        "req-3 200 0 NULL",
    ]


def test_streaming_dedup_within_watermark(spark, sf_dir, tmp_path):
    """Streaming exact-dedup: duplicate events injected into the stream
    are dropped by keyed streaming state (the streaming counterpart of
    the batch dedup_exact operator)."""
    from tailsql_spark.plans.catalog import load_table

    events = load_table(spark, sf_dir, "events").select("event_id", "ts", "value")
    doubled = events.unionByName(events)  # every event twice
    src = str(tmp_path / "dup_events")
    doubled.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(doubled.schema).parquet(src)
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicates(["event_id"])
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_stream")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    n = spark.sql("select count(*) as n from dedup_stream").collect()[0].n
    assert n == events.count()  # duplicates gone, originals intact


def test_session_append_equals_complete_mode(spark, sf_dir):
    """Append mode + watermark emits exactly the sessions complete mode
    holds in state — with the sentinel advancing the watermark past the
    bounded stage's tail sessions, and never itself emitted."""
    from tailsql_spark.plans.streaming_exec import (
        stream_session_30m,
        stream_session_append,
    )

    append_rows = {tuple(r) for r in stream_session_append(spark, sf_dir).collect()}
    complete_rows = {tuple(r) for r in stream_session_30m(spark, sf_dir).collect()}
    assert append_rows == complete_rows
    assert append_rows, "no sessions emitted"
    assert all(r[0] != -1 for r in append_rows), "sentinel leaked into output"


def test_stream_result_survives_scratch_cleanup(spark, oracle_sf_dir):
    """The DataFrame a streaming-incremental build returns must stay
    readable AFTER the build's scratch/state dirs are deleted — i.e. the
    final snapshot is persisted distributed (session-owned warehouse
    dir), never collected through the driver (round-4 verdict #1:
    the final state is corpus-proportional at real scale)."""
    import inspect

    from tailsql_spark.plans import streaming_exec

    # static guard: no driver-side collect in the module UNLESS the
    # line carries an explicit planning-metadata audit marker (bounded
    # by bucket/partition COUNT, never row count — the class the
    # manifest-pruning verdict blessed); an unmarked collect is a
    # corpus-sized result funneling through the driver
    src = inspect.getsource(streaming_exec)
    unaudited = [
        (i + 1, line.strip())
        for i, line in enumerate(src.splitlines())
        if ".collect()" in line and "planning-metadata" not in line
    ]
    assert unaudited == [], f"unaudited driver collect(s): {unaudited}"
    # static guard: every incremental builder drains through the ONE
    # runner (_run_incremental → _drain) — a second checkpointLocation or
    # availableNow trigger means a hand-rolled stream lifecycle grew back
    assert src.count("checkpointLocation") == 1
    assert src.count(".trigger(availableNow=True)") == 1
    # static guard: ONE per-batch state layout — the b##### parse lives
    # only in _batch_dirs, the lease is taken only through family_lease
    # (and the blocking wait it builds on), and the per-family listings,
    # the second directory lister and the *_locked splits stay deleted
    import ast

    top = [
        (n.name, n.lineno, n.end_lineno)
        for n in ast.parse(src).body
        if isinstance(n, ast.FunctionDef)
    ]

    def owners(pattern):
        return {
            name
            for i, line in enumerate(src.splitlines(), 1)
            if pattern in line and not line.lstrip().startswith("def ")
            for name, first, last in top
            if first <= i <= last
        }

    assert owners("[1:].isdigit()") == {"_batch_dirs"}
    assert owners("acquire_family_lease(") == {"family_lease", "wait_family_lease"}
    # ...and ONE bucketed layout: one manifest read, one data-then-
    # manifest write, one version-bumping commit per layout (the flat
    # one is _rewrite_flat_family); the two processors' own pointer
    # writes only advance the dial's row estimate
    assert owners('"recursiveFileLookup"') == {"_manifest_rows"}
    assert owners("_bucket_manifest_write(") == {"_bucketed_write"}
    assert owners('["version"]) + 1') == {
        "_rewrite_flat_family", "_commit_bucketed_base",
    }
    assert owners("_state_meta_write(") == {
        "_commit_bucketed_base", "_minhash_bucketed_processor", "_bm25_index_processor",
    }
    for gone in (
        "_mh_state_paths",
        "_del_state_paths",
        "_fs_list",
        "_rewrite_flat_family_locked",
        "_ivf_purge_takedowns_locked",
        "_ivf_retrain_quantizer_locked",
        "_curation_maintain_locked",
    ):
        assert not hasattr(streaming_exec, gone), gone

    out = streaming_exec.stream_contamination(spark, oracle_sf_dir)
    # scratch dirs are gone by now; the result must still materialize
    rows = out.collect()
    assert len(rows) > 0


def test_runner_failure_cleans_owned_root_keeps_caller_root(spark, tmp_path):
    """A processor that raises mid-stream must surface its error, delete
    an OWNED state root (staged source + checkpoint + state families)
    instead of leaking it under the tempdir, and leave a CALLER-owned
    root in place for inspection and resume."""
    import os
    import tempfile

    import pytest

    from tailsql_spark.plans.streaming_exec import _run_incremental

    frame = spark.range(16).withColumnRenamed("id", "doc_id")

    def setup(root):
        spark.createDataFrame([], "doc_id long").write.mode("overwrite").parquet(
            f"{root}/fam/seed"
        )

        def process(batch_df, batch_id):
            raise RuntimeError("processor boom")

        return process

    def finish(root):
        raise AssertionError("finish must not run after a failed drain")

    def owned_dirs():
        return {d for d in os.listdir(tempfile.gettempdir()) if d.startswith("tailsql_")}

    before = owned_dirs()
    with pytest.raises(Exception, match="processor boom"):
        _run_incremental(
            "stream_failing_probe", "corpus", None, frame, setup, finish
        )
    assert owned_dirs() - before == set()

    root = str(tmp_path / "caller_root")
    with pytest.raises(Exception, match="processor boom"):
        _run_incremental(
            "stream_failing_probe", "corpus", root, frame, setup, finish
        )
    assert {"src", "src_corpus", "fam", "ckpt"} <= set(os.listdir(root))


def test_incremental_state_root_parameterized(spark, sf_dir, tmp_path):
    """The certified incremental operators accept a caller-owned
    ``state_root`` — exercised here as a ``file://`` URI so the
    Hadoop-FileSystem branch of the state list/prune dispatch is what
    actually runs (the exact code path a ``hdfs://``/``s3a://`` root
    takes on a cluster).  The result must equal the default
    (owned-tempdir) run, and the index + checkpoint must SURVIVE under
    the caller's root — shared state outlives the run."""
    import os

    from tailsql_spark.plans.streaming_exec import stream_dedup_minhash

    root = f"file://{tmp_path}/mh_state"
    got = {tuple(r) for r in stream_dedup_minhash(spark, sf_dir, state_root=root).collect()}
    want = {tuple(r) for r in stream_dedup_minhash(spark, sf_dir).collect()}
    assert got == want
    kept = set(os.listdir(f"{tmp_path}/mh_state"))
    # index dir families + streaming checkpoint persist for a resume
    assert {"ex", "sig", "pairs", "ckpt"} <= kept, kept
    assert any(d.startswith("b") for d in os.listdir(f"{tmp_path}/mh_state/sig"))


def test_wrapper_reinvoke_same_root_is_noop_resume(spark, sf_dir, tmp_path):
    """r7 ADVICE: re-invoking a PUBLIC stream_* wrapper against a used
    caller-owned root must RESUME — the staged source is pinned at
    {root}/src, so the retained checkpoint has already consumed every
    file and the second call processes ZERO batches over the persisted
    index.  Before the fix each call staged the full corpus into a
    fresh tempdir the checkpoint had never seen, re-processing all
    batches and duplicating index state and pair emissions."""
    import os

    from tailsql_spark.plans.streaming_exec import stream_dedup_minhash

    root = str(tmp_path / "mh_reuse")
    first = {
        tuple(r)
        for r in stream_dedup_minhash(spark, sf_dir, state_root=root).collect()
    }
    # the staged source is pinned under the root, not a scratch tempdir
    assert os.path.exists(f"{root}/src/_SUCCESS")
    n_sig_dirs = len(os.listdir(f"{root}/sig"))
    second = {
        tuple(r)
        for r in stream_dedup_minhash(spark, sf_dir, state_root=root).collect()
    }
    assert second == first
    # zero new batch dirs: the resume re-processed nothing
    assert len(os.listdir(f"{root}/sig")) == n_sig_dirs


def test_fs_dispatchers_hadoop_branch(spark, tmp_path):
    """_fs_list_dirs/_fs_rmtree's URI branch (the code path hdfs://s3a://
    roots take) driven directly over file:// — list children, delete a
    subtree recursively, leave siblings intact."""
    import os

    from tailsql_spark.plans.streaming_exec import _fs_list_dirs, _fs_rmtree

    (tmp_path / "a" / "inner").mkdir(parents=True)
    (tmp_path / "a" / "inner" / "f.txt").write_text("x")
    (tmp_path / "b").mkdir()
    root = f"file://{tmp_path}"
    assert sorted(_fs_list_dirs(root)) == ["a", "b"]
    _fs_rmtree(f"{root}/a")
    assert sorted(_fs_list_dirs(root)) == ["b"]
    assert not os.path.exists(tmp_path / "a")


def test_stream_merge_equals_batch_merge(spark, sf_dir):
    """stream_merge_upsert's certified claim, asserted directly: the
    per-micro-batch partition-pruned MERGE sequence ends with the same
    per-partition table state as the one-shot batch tombstone merge
    (disjoint per-key decisions commute)."""
    from tailsql_spark.plans.registry import REGISTRY

    got = {
        tuple(r)
        for r in REGISTRY["stream_merge_upsert"].build(spark, sf_dir).collect()
    }
    want = {
        tuple(r)
        for r in REGISTRY["sink_merge_delete_tombstones"]
        .build(spark, sf_dir)
        .collect()
    }
    assert got == want


def test_reused_root_with_different_corpus_raises(spark, sf_dir, tmp_path):
    """r8 review: a caller-owned root resumed against a DIFFERENT
    corpus must raise loudly — the checkpoint would no-op and the call
    would silently return the old corpus's accumulated results."""
    import shutil

    import pytest

    from tailsql_spark.plans.streaming_exec import stream_dedup_minhash

    other = str(tmp_path / "sfother")
    shutil.copytree("/root/testdata/sf0.001", other)

    root = str(tmp_path / "mh_identity")
    stream_dedup_minhash(spark, sf_dir, state_root=root)
    with pytest.raises(ValueError, match="one root belongs to one pipeline"):
        stream_dedup_minhash(spark, other, state_root=root)


def test_glob_tail_source_routes_to_partitioned_reader(spark, tmp_path):
    """r13: a glob tail path routes through the planner-partitioned
    'tailn' source — the ingest plan is a streaming scan whose rows
    come from executor-side per-file range reads — and a LIVE
    availableNow pump over two growing files parses both files' lines
    through the same regex pipeline as the single-file tail."""
    d = tmp_path / "logs"
    d.mkdir()
    (d / "s1.log").write_text("2024-01-01 7\n")
    (d / "s2.log").write_text("2024-01-01 8\nbad line\n")
    sq = StreamQueryer(
        spark,
        [
            SourceSpec(
                path=str(d / "*.log"),
                pattern=r"(?P<ts__date>\S+) (?P<v__int>\d+)",
                seek_to_end=False,
            )
        ],
        WindowSpec(size_sec=60, slide_sec=60),
        "select count(1) as n from t0",
        sink=lambda s: None,
    )
    lines = sq._parsed_stream(0)
    assert lines.isStreaming
    rows: list = []
    q = (
        lines.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(lambda b, _e: rows.extend(b.collect()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    assert sorted(r.v for r in rows) == [7, 8], rows
