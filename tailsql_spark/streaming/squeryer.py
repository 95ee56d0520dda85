"""The streaming query harness: per-window SQL over tailed line streams.

Re-expresses the reference's whole dataflow (``/root/reference/sql/
squeryer.go:354-439``) on Structured Streaming:

* one streaming query per source pumps micro-batches through
  parse (regex DSL) → filter → into a windowed buffer
  (≡ source → Map parse → Filter chain, ``squeryer.go:399-406``);
* a window clock emits every SLIDE (or SIZE) seconds: the buffer is
  evicted to the window span, each source's rows become temp view
  ``t0..tN`` (≡ Clean+Insert, ``squeryer.go:261-276`` — view
  replacement IS the Clean/Insert cycle), the user's SQL runs
  verbatim through Spark SQL (≡ ``engine.Query``,
  ``engine.go:256-258``), and the result renders to the sink
  (``sink/stdout.go:67-89``);
* buffered micro-batches stay DISTRIBUTED: each batch is spooled to a
  parquet segment (executors write in parallel; no driver collect) and
  the window view is a scan over the live segments. foreachBatch hands
  the callback a DataFrame bound to a CLONED SparkSession whose temp
  views/plans are invisible to the main session — the spool decouples
  the two, and at cluster scale is simply a scratch object-store
  prefix. The spool is a fresh temp dir and the buffer index lives in
  driver memory, so a restart starts from an empty window;
* a lock serializes buffer mutation against emission, exactly the
  reference's engine mutex (``squeryer.go:55,262,285``);
* empty sources still get (empty) views so multi-table joins stay
  valid (``squeryer.go:429-431``).

Windows here are processing-time (the reference default, ``IDX_OF_TS
= -1``). Event-time windows done right are the streaming aggregation
path (``F.window`` + ``withWatermark``) shown in
:mod:`tailsql_spark.plans.streaming_sql` and tests.

The batch path (``--do-not-tail`` ≡ the vestigial ``TableParser``,
``sql/ptable.go:129-160``) is :func:`run_batch`: read whole files,
one parse, one SQL, one render.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from tailsql_spark.dsl import CompiledPattern, compile_pattern
from tailsql_spark.operators.rowfilter import apply_filter
from tailsql_spark.plans.dialect import translate_sql
from tailsql_spark.operators.windows import WindowSpec
from tailsql_spark.sinks.formatters import render


@dataclass
class SourceSpec:
    """One followed source: path + regex DSL + optional row filter.

    ``path``: a glob streams through ``tailn`` (every matching file);
    anything else through ``tailf`` (one file, a FIFO, or stdin).

    ``max_rows_per_sec``: lossy throttle budget (reference operator #7,
    ``sql/squeryer.go:343-352``) — overflow is shed by uniform sampling
    (see operators/throttle.py for why sampling, not drop-tail).
    """

    path: str
    pattern: str
    filter_expr: str | None = None
    seek_to_end: bool = False
    max_rows_per_sec: float = 0.0  # 0 → no throttle
    #: ``sample`` (default): uniform shed, unbiased per-window stats;
    #: ``drop_tail``: exact flow.Discard parity — keep the earliest
    #: rows up to budget (operators/throttle.py:shed).
    throttle_mode: str = "sample"
    compiled: CompiledPattern = field(init=False)

    def __post_init__(self) -> None:
        if self.throttle_mode not in ("sample", "drop_tail"):
            raise ValueError(
                f"throttle_mode must be 'sample' or 'drop_tail', "
                f"got {self.throttle_mode!r}"
            )
        self.compiled = compile_pattern(self.pattern)


@dataclass
class _Buffered:
    ts: float
    path: str
    n: int
    max_event_ts: int | None = None  # epoch micros; event-time mode only


def _event_micros(mx) -> int | None:
    """Normalize a max-event-time value (parquet footer stat or Spark
    agg result) to epoch micros."""
    import datetime as dt

    if mx is None:
        return None
    if isinstance(mx, int):
        # integer event-time column: epoch seconds (Spark's
        # long→timestamp cast semantics) → micros
        return mx * 1_000_000
    if mx.tzinfo is None:
        mx = mx.replace(tzinfo=dt.timezone.utc)
    epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
    return (mx - epoch) // dt.timedelta(microseconds=1)


class StreamQueryer:
    """Drives N sources into per-window ``t0..tN`` views + SQL + sink."""

    def __init__(
        self,
        spark: SparkSession,
        sources: list[SourceSpec],
        window: WindowSpec,
        sql_text: str,
        formatter: str = "raw",
        sink=None,
        max_rows: int | None = None,
    ):
        self.spark = spark
        self.sources = sources
        self.window = window
        self.sql_text = sql_text
        self.formatter = formatter
        #: driver-protection cap for the stdout sink; None = reference
        #: parity (print every row of the window's result)
        self.max_rows = max_rows
        self.sink = sink if sink is not None else print
        self._buffers: dict[int, list[_Buffered]] = {i: [] for i in range(len(sources))}
        self._lock = threading.Lock()
        self._queries = []
        self._emissions = 0
        #: window ticks :meth:`run` skipped because an emission overran them
        self.missed_ticks = 0
        self._batch_seq = 0
        self._last_batch_ts: dict[int, float] = {}
        import tempfile

        # Window spool: local scratch dir for buffered batch segments
        # (its footer stats are read driver-side — see _spool_stats).
        self._spool_dir = tempfile.mkdtemp(prefix="tailsql_spool_")

    # ------------------------------------------------------------------
    # ingest
    # ------------------------------------------------------------------
    def _parsed_stream(self, idx: int) -> DataFrame:
        src = self.sources[idx]
        if any(ch in src.path for ch in "*?["):
            # glob path → the planner-partitioned multi-file tail
            # (r13): every grown file's byte range is read by an
            # executor; the driver only stats sizes to plan offsets
            from tailsql_spark.sources.tail import TailNDataSource

            self.spark.dataSource.register(TailNDataSource)
            lines = (
                self.spark.readStream.format("tailn")
                .option("paths", src.path)
                .option("seek_to_end", str(src.seek_to_end).lower())
                .load()
                .select("value")
            )
        else:
            from tailsql_spark.sources.tail import TailDataSource

            self.spark.dataSource.register(TailDataSource)
            reader = (
                self.spark.readStream.format("tailf")
                .option("path", src.path)
                .option("seek_to_end", str(src.seek_to_end).lower())
            )
            if src.seek_to_end:
                # pin tail-at-open semantics: snapshot EOF NOW, so a
                # line appended any time after start() is guaranteed
                # ingested (the reader's own lazy EOF snapshot happens
                # at first micro-batch planning — a silent drop window).
                # A file that doesn't exist yet pins offset 0: whatever
                # gets written after creation must all be read, exactly
                # like tail -F on a not-yet-created file.
                try:
                    pos = os.path.getsize(src.path)
                except OSError:
                    pos = 0
                reader = reader.option("start_offset", str(pos))
            lines = reader.load()
        parsed = src.compiled.parse_lines(lines)
        return apply_filter(parsed, src.filter_expr)

    def process_batch(self, idx: int, df: DataFrame, now: float | None = None) -> None:
        """foreachBatch callback body; public so tests can pump
        deterministic batches with a frozen clock.

        ``df`` may be bound to the streaming clone session — spooling to
        parquet is the session-neutral handoff (and the executors write
        the segment in parallel; nothing funnels through the driver).
        """
        now = time.time() if now is None else now
        src = self.sources[idx]
        persisted = False
        try:
            if src.max_rows_per_sec > 0:
                # lossy throttle: shedding must be sized BEFORE the
                # write, so this (rare) path keeps its count job
                # (squeryer.go:343-352 discard semantics)
                df = df.persist()
                persisted = True
                n = df.count()
                if n == 0:
                    return
                last = self._last_batch_ts.get(idx)
                dt = max(now - last, 0.2) if last is not None else 1.0
                budget = src.max_rows_per_sec * dt
                if n > budget:
                    from tailsql_spark.operators.throttle import shed

                    df2 = shed(
                        df, n, budget, src.throttle_mode, self.window.ts_field
                    ).persist()
                    df.unpersist()
                    df = df2
            self._last_batch_ts[idx] = now
            with self._lock:
                seq = self._batch_seq
                self._batch_seq += 1
            path = f"{self._spool_dir}/s{idx}_b{seq}"
            # INT96 parquet timestamps carry no min/max statistics; the
            # spool's footer stats ARE the per-batch event-time
            # bookkeeping (see _spool_stats), so write INT64 micros.
            # Scoped save/restore on the WRITING session (the foreachBatch
            # clone, not self.spark): constructing a queryer must not
            # change timestamp physical type for unrelated parquet
            # writes on a shared session.
            sess = df.sparkSession
            _TS_KEY = "spark.sql.parquet.outputTimestampType"
            prev_ts = sess.conf.get(_TS_KEY, None)
            sess.conf.set(_TS_KEY, "TIMESTAMP_MICROS")
            try:
                df.write.mode("overwrite").parquet(path)
            finally:
                if prev_ts is None:
                    sess.conf.unset(_TS_KEY)
                else:
                    sess.conf.set(_TS_KEY, prev_ts)
            # Row count AND max event time come from the parquet footers
            # the write job just produced — ONE Spark job per micro-batch
            # instead of count + agg/collect + write (round-1 verdict #7).
            n, max_ev = self._spool_stats(path)
            if n == 0:
                import shutil

                shutil.rmtree(path, ignore_errors=True)
                return
            with self._lock:
                self._buffers[idx].append(_Buffered(now, path, n, max_ev))
        finally:
            if persisted:
                df.unpersist()

    def _spool_stats(self, path: str) -> tuple[int, int | None]:
        """Row count + max event time (epoch micros) from the spool
        segment's parquet footers.  Driver-side metadata reads — no
        Spark job; the executors already computed both during the
        write.  Requires INT64 timestamps (scoped per spool write):
        INT96 columns carry no min/max statistics.

        If the footer listing comes back EMPTY — or reading it raises at
        all (transient I/O errors) — falls back to a Spark-side
        count/max agg rather than reporting 0 or killing the stream: a
        wrong 0 here would silently delete the just-ingested batch, and
        Spark can read any spool path it just wrote."""
        try:
            found, n, mx = self._spool_stats_footers(path)
        except Exception:
            return self._spool_stats_spark(path)
        if not found:
            # empty LISTING is indistinguishable from a listing failure
            # — verify via Spark.  (Real footers totalling 0 rows are
            # trusted: Spark always writes ≥1 schema-bearing part file.)
            return self._spool_stats_spark(path)
        return n, _event_micros(mx)

    def _spool_stats_footers(self, path: str) -> tuple[bool, int, object]:
        import glob

        import pyarrow.parquet as pq

        parts = sorted(glob.glob(f"{path}/part-*"))
        n = 0
        mx = None
        ts_field = self.window.ts_field
        for part in parts:
            md = pq.read_metadata(part)
            n += md.num_rows
            if not ts_field or ts_field not in md.schema.names:
                continue
            ci = md.schema.names.index(ts_field)
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                if st is not None and st.has_min_max:
                    v = st.max
                    if mx is None or v > mx:
                        mx = v
        return bool(parts), n, mx

    def _spool_stats_spark(self, path: str) -> tuple[int, int | None]:
        """Fallback bookkeeping when footers can't be listed driver-side
        (exotic filesystem, listing hiccup): one Spark count+max job —
        the pre-round-2 path, correct on any filesystem Spark can read."""
        from pyspark.sql import functions as F

        df = self.spark.read.parquet(path)
        ts_field = self.window.ts_field
        if ts_field and ts_field in df.columns:
            row = df.agg(
                F.count(F.lit(1)).alias("n"), F.max(ts_field).alias("mx")
            ).collect()[0]
            return row["n"], _event_micros(row["mx"])
        return df.count(), None

    def start(self, trigger_sec: float = 1.0) -> None:
        for i in range(len(self.sources)):
            q = (
                self._parsed_stream(i)
                .writeStream.outputMode("append")
                .foreachBatch(lambda df, _epoch, i=i: self.process_batch(i, df))
                .trigger(processingTime=f"{trigger_sec} seconds")
                .start()
            )
            self._queries.append(q)

    # ------------------------------------------------------------------
    # window emission (≡ Clean + Insert + Query + print)
    # ------------------------------------------------------------------
    def _evict(self, expired) -> None:
        """Delete every buffered segment ``expired(segment)`` selects."""
        import shutil

        for idx, buf in self._buffers.items():
            keep: list[_Buffered] = []
            for b in buf:
                if expired(b):
                    shutil.rmtree(b.path, ignore_errors=True)
                else:
                    keep.append(b)
            self._buffers[idx] = keep

    def emit(self, now: float | None = None) -> str:
        """Evict to the window span, rebuild views, run the SQL, render.

        Processing-time mode (``ts_field`` unset, the reference default):
        the window is the last SIZE seconds of *arrival*. Event-time
        mode (``IDX_OF_TS >= 0``): the window is ``(wm - SIZE, wm]`` of
        the PARSED timestamp column, where the watermark ``wm`` is the
        max event time observed across sources — the semantics the
        reference intended and got wrong (SURVEY §2A bug note).
        """
        from pyspark.sql import functions as F

        now = time.time() if now is None else now
        with self._lock:
            wm_us: int | None = None
            if self.window.ts_field:
                maxes = [
                    b.max_event_ts
                    for buf in self._buffers.values()
                    for b in buf
                    if b.max_event_ts is not None
                ]
                wm_us = max(maxes, default=None)
                if wm_us is not None:
                    horizon_us = wm_us - self.window.size_sec * 1_000_000
                    self._evict(
                        lambda b: b.max_event_ts is not None
                        and b.max_event_ts <= horizon_us
                    )
            else:
                horizon = now - self.window.size_sec
                self._evict(lambda b: b.ts <= horizon)
            for idx, src in enumerate(self.sources):
                paths = [b.path for b in self._buffers[idx]]
                if paths:
                    view = self.spark.read.schema(src.compiled.schema).parquet(*paths)
                    # reference constraint: IDX_OF_TS with multiple tables
                    # requires a shared schema (cmd/query.go winopt help);
                    # sources lacking the field keep arrival semantics
                    if wm_us is not None and any(
                        f.name == self.window.ts_field for f in src.compiled.fields
                    ):
                        ts_us = F.unix_micros(F.col(self.window.ts_field))
                        view = view.filter(
                            (ts_us > wm_us - self.window.size_sec * 1_000_000)
                            & (ts_us <= wm_us)
                        )
                else:
                    view = self.spark.createDataFrame([], src.compiled.schema)
                view.createOrReplaceTempView(f"t{idx}")
            result = self.spark.sql(translate_sql(self.sql_text))
            out = render(result, self.formatter, max_rows=self.max_rows)
            if self.window.is_tumbling:
                # tumbling boundary: next window starts empty (Clean)
                self._evict(lambda b: True)
        self._emissions += 1
        self.sink(out)
        return out

    def run(self, duration_sec: float | None = None) -> None:
        """Wall-clock loop: emit every SLIDE (sliding) / SIZE (tumbling)
        seconds, like the reference's window ticker."""
        period = self.window.slide_sec if not self.window.is_tumbling else self.window.size_sec
        self.start(trigger_sec=min(1.0, period / 2))
        t_end = None if duration_sec is None else time.time() + duration_sec
        nxt = time.time() + period
        try:
            while t_end is None or time.time() < t_end:
                time.sleep(max(0.0, nxt - time.time()))
                self.emit()
                # an emission slower than the period skips the ticks it
                # overran instead of firing them back to back
                missed = max(0, int((time.time() - nxt) // period))
                self.missed_ticks += missed
                nxt += (missed + 1) * period
        finally:
            self.stop()

    def stop(self) -> None:
        import shutil

        for q in self._queries:
            try:
                q.stop()
            except Exception:
                pass
        self._queries.clear()
        shutil.rmtree(self._spool_dir, ignore_errors=True)


def run_batch(
    spark: SparkSession,
    sources: list[SourceSpec],
    sql_text: str,
    formatter: str = "raw",
    max_rows: int | None = None,
) -> str:
    """One-shot batch mode (≡ ``--do-not-tail`` / TableParser path):
    read each file fully, parse, register ``t0..tN``, run the SQL once."""
    for idx, src in enumerate(sources):
        lines = spark.read.text(src.path)
        parsed = apply_filter(src.compiled.parse_lines(lines), src.filter_expr)
        parsed.createOrReplaceTempView(f"t{idx}")
    return render(spark.sql(translate_sql(sql_text)), formatter, max_rows=max_rows)
