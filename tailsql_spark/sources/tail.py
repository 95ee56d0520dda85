"""``tail -f`` / stdin / FIFO streaming sources via the PySpark Python
Data Source API.

Spark's built-in file stream ingests *new files*, not appended bytes
(the reference tails a single growing file: ``/root/reference/source/
fs.go:14-71`` with ``ReOpen: true`` rotation handling at
``sql/squeryer.go:96-101``). This module implements true append
semantics as a :class:`SimpleDataSourceStreamReader`:

* offsets are byte positions — replayable and checkpointable, so a
  restarted query resumes exactly where it stopped (a strict upgrade
  over the reference, which has no recovery);
* rotation-aware: when the file shrinks below the recorded offset, or
  its inode or first bytes change, the reader re-opens from 0 (tail
  ``ReOpen``).  ``tailf`` replays every batch deterministically: an end
  below the start means "rotated", and a replacement that re-plans to
  an end at or above the old position bumps the offset's rotation
  count (``{"pos": N, "rot": k}``; absent = 0), so a pair whose counts
  differ replays [0, end);
* ``seek_to_end`` mirrors tail's default start-at-EOF; ``False``
  reads from the beginning (``--do-not-tail`` still ultimately maps to
  plain batch ``spark.read.text``);
* stdin and FIFOs are the same reader over a non-seekable stream —
  offsets then count *lines consumed* (reference: ``source/stdin.go``,
  ``source/namedpipe.go``; a FIFO is just a blocking line stream,
  ``utils/utils.go:7-13``).

Scale note: one tailed file is inherently a serial byte stream, so the
``tailf`` reader is single-partition by design and the simple-reader
API executes on the driver (per-batch volume is a tail stream's line
rate — small by construction).  Horizontal scale comes from many
files: the ``tailn`` sibling (r13) is a PLANNER-PARTITIONED
:class:`DataSourceStreamReader` over a file glob — the driver only
stats sizes to plan offsets, and every file's byte range is read BY AN
EXECUTOR, one input partition per grown file, so tailing a thousand
service logs distributes instead of funneling through the driver.

Both formats plan and read a file through the same two functions:
:func:`_plan_file` decides a file's next line-aligned end offset
(rotation signals, the unchanged fast path, the per-batch byte cap),
and :func:`_read_lines` delivers the lines of one planned [start, end)
range (``end < start``: the file rotated, read [0, end)).  ``tailf`` is
their single-path, driver-side user; ``tailn`` loops the planner over
its glob and runs the range reader on executors.

Usage::

    spark.dataSource.register(TailDataSource)
    df = (spark.readStream.format("tailf")
          .option("path", "/var/log/app.log")
          .option("seek_to_end", "false").load())

    spark.dataSource.register(TailNDataSource)
    df = (spark.readStream.format("tailn")
          .option("paths", "/var/log/pods/*.log")
          .option("seek_to_end", "false").load())
"""

from __future__ import annotations

import os
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StringType, StructField, StructType

LINE_SCHEMA = StructType([StructField("value", StringType(), True)])

#: ``tailn`` rows carry provenance: which tailed file a line came from.
MULTI_LINE_SCHEMA = StructType(
    [
        StructField("path", StringType(), True),
        StructField("value", StringType(), True),
    ]
)


def _complete_through(path: str, lo: int, size: int) -> int:
    """Largest offset in (lo, size] that ends a COMPLETE line (the byte
    before it is a newline), scanning backward from ``size`` in bounded
    chunks.  Offsets only ever advance past complete lines, so an
    executor reading [start, end) can never split a line with the next
    batch.  Returns ``lo`` when no newline landed yet."""
    if size <= lo:
        return lo
    with open(path, "rb") as f:
        pos = size
        while pos > lo:
            step = min(65536, pos - lo)
            f.seek(pos - step)
            chunk = f.read(step)
            nl = chunk.rfind(b"\n")
            if nl >= 0:
                return pos - step + nl + 1
            pos -= step
    return lo


def _line_end_after(path: str, pos: int, size: int) -> int | None:
    """Smallest offset in (pos, size] that ends a complete line,
    scanning FORWARD from ``pos`` in bounded chunks; None when no
    newline landed yet."""
    with open(path, "rb") as f:
        f.seek(pos)
        while pos < size:
            chunk = f.read(min(65536, size - pos))
            if not chunk:
                break
            nl = chunk.find(b"\n")
            if nl >= 0:
                return pos + nl + 1
            pos += len(chunk)
    return None


def _plan_file(
    path: str,
    st: os.stat_result,
    prev: int | None,
    max_bytes: int,
    ident: dict[str, tuple[int, bytes]],
) -> int | None:
    """The per-file tail decision, shared by ``tailf`` and ``tailn``:
    the next line-aligned end offset for ``path`` given the previous
    plan's end ``prev`` (None: no plan yet and the stream starts at the
    file end).  None when the file vanished between stat and read
    (delete-based rotation is routine).

    Rotation: size alone misses a delete-rotated replacement LARGER
    than the original (it masquerades as growth, and the old offset
    would continue INTO the new file).  ``ident`` keeps, per path, two
    in-memory signals that unmask it — the inode (tail -F's rule;
    defeated when the filesystem immediately REUSES the freed inode,
    routine on tmpfs/ext4) and the file's first 64 bytes (the fluentd
    rule: appends never change the prefix; a same-prefix replacement
    escapes — documented heuristic).  They are deliberately NOT part of
    the checkpointed offset (byte positions stay the replayable
    contract), so across a restart the bigger-replacement case remains
    undetectable.  A detected replacement plans end=0 for one batch:
    any end >= the committed start would read as continuation, so the
    only robust signal is an end below every possible start — the
    batch reads nothing, and the next plan delivers the replacement
    from 0 under the normal cap.

    The 64-byte prefix probe is the ONLY per-file read a steady-state
    trigger does.  It stays serial: on local disk it is a warm-page-
    cache open+read of ~7 us, and a thread pool made it strictly WORSE
    (r16 A/B, 10k files: serial 0.07 s, 4 threads 1.5 s, 16 threads
    3.1 s — GIL thrash on non-blocking syscalls), so the serial knee is
    the per-driver fleet cap: ~14 us/file steady state, ~1.4 s/trigger
    at 100k files (SCALING.md r16); past it, shard the glob."""
    try:
        with open(path, "rb") as fh:
            prefix = fh.read(64)
        size = st.st_size
        old = ident.get(path)
        rotated = old is not None and (
            old[0] != st.st_ino or prefix[: len(old[1])] != old[1]
        )
        ident[path] = (st.st_ino, prefix)
        if rotated and prev:
            return 0
        if prev is None:
            return _complete_through(path, 0, size)
        if size == prev:
            # UNCHANGED fast path (r15, the fleet-planning dial): ends
            # were line-aligned when planned, so the plan is byte-
            # identical to last trigger's — skip the ≤64 KiB backscan.
            # Measured steady-state latestOffset: 2k×1 MB files 0.066 s
            # → 0.021 s, 10k tiny files 0.192 s → 0.143 s (the floor is
            # the stat+open pair); on cold object/network storage the
            # skipped read is a round trip.  The rotation signals above
            # still run every trigger.
            return prev
        if size - prev > max_bytes:
            # planner-side backpressure: advance by at most max_bytes
            # past the previous plan; the remainder replans next batch
            lo = prev
        elif size < prev and size > max_bytes:
            # a truncated/replaced file itself over the cap: re-read
            # from 0 (the smaller end signals rotation) in capped
            # slices — rotation is when a log dumps the MOST data, so
            # exempting it would void the backpressure contract
            lo = 0
        else:
            # growth searches from prev, never below it: a tailf start
            # taken mid-line (seek_to_end at the raw size) must not back
            # off to an earlier newline, which would read as rotation;
            # only a shrink re-reads from 0
            return _complete_through(path, prev if size > prev else 0, size)
        aligned = _complete_through(path, lo, lo + max_bytes)
        if aligned > lo:
            return aligned
        # one line longer than the cap is consumed whole, and the cap
        # restarts at its newline: the batch holds that line plus at
        # most max_bytes of whole lines, never the backlog behind it
        # (no newline yet: wait for the line to complete)
        end = _line_end_after(path, lo + max_bytes, size)
        if end is None:
            return lo
        return _complete_through(path, end, min(size, end + max_bytes))
    except OSError:
        return None


#: read granularity of :func:`_read_lines`: a [start, end) range is
#: consumed in chunks of this many bytes (never one full-range
#: ``f.read``), so a large backfill range costs bounded memory per
#: chunk plus the emitted rows.
READ_CHUNK = 4 << 20


def _range_start(start: int, end: int) -> int:
    """First byte an offset pair delivers: ``end < start`` means the
    file rotated (truncated or replaced) — read [0, end)."""
    return 0 if end < start else start


def _read_lines(
    path: str, start: int, end: int, chunk: int = READ_CHUNK
) -> Iterator[str]:
    """The lines of one planned [start, end) range, read in bounded
    chunks — deterministic, so replaying an offset pair re-delivers the
    same rows.  Ends are line-aligned by construction; a missing file
    yields nothing (the range vanished under delete-rotation)."""
    start = _range_start(start, end)
    if end <= start:
        return
    try:
        f = open(path, "rb")
    except OSError:
        return
    with f:
        f.seek(start)
        remaining = end - start
        buf = b""
        while remaining > 0:
            data = f.read(min(chunk, remaining))
            if not data:
                break  # truncated under us: emit what we have
            remaining -= len(data)
            buf += data
            *lines, buf = buf.split(b"\n")
            for ln in lines:
                if ln != b"":
                    yield ln.decode("utf-8", errors="replace")
        # a trailing remainder only appears if the file shrank mid-read
        # — emit it rather than drop bytes
        if buf != b"":
            yield buf.decode("utf-8", errors="replace")


class TailFilePartition(InputPartition):
    """One grown file's byte range for one micro-batch — the planner
    unit the executors read."""

    def __init__(self, path: str, start: int, end: int):
        self.path = path
        self.start = start
        self.end = end


class TailFleetPartition(InputPartition):
    """MANY small files' ranges packed into one executor task (r15) —
    Spark's file-source bin-packing (maxPartitionBytes + openCostInBytes)
    applied to the fleet tail: at 10k files the one-partition-per-file
    plan spent its wall on per-task Python-datasource overhead (measured
    3.7 MB/s at 10k files vs 31.8 MB/s at 1k), so whole-file ranges
    below the pack budget ride together and the per-task cost amortizes
    across ~a hundred files.  Splits of LARGE files stay one per
    partition — they were fanned out deliberately for parallelism."""

    def __init__(self, ranges: list[tuple[str, int, int]]):
        self.ranges = ranges


class TailStreamReader(SimpleDataSourceStreamReader):
    """Byte-offset tail reader for one regular file: the single-path,
    driver-side user of :func:`_plan_file` and :func:`_read_lines`."""

    def __init__(
        self,
        path: str,
        seek_to_end: bool,
        max_bytes_per_batch: int,
        start_offset: int | None = None,
    ):
        self.path = path
        self.seek_to_end = seek_to_end
        self.max_bytes = max_bytes_per_batch
        self.start_offset = start_offset
        self._ident: dict[str, tuple[int, bytes]] = {}

    def initialOffset(self) -> dict:
        # ``start_offset`` pins tail-at-OPEN semantics: without it the
        # EOF snapshot happens lazily at first micro-batch planning,
        # seconds after ``start()`` returns — lines appended in that gap
        # would be silently skipped. Callers that know "the stream is
        # live from HERE" (StreamQueryer does) resolve EOF eagerly and
        # pass it down; checkpointed restarts ignore this entirely
        # (recovered offsets win over initialOffset).
        if self.start_offset is not None and self.seek_to_end:
            return {"pos": self.start_offset}
        if self.seek_to_end and os.path.exists(self.path):
            return {"pos": os.path.getsize(self.path)}
        return {"pos": 0}

    def _plan(self, prev: int) -> int | None:
        try:
            st = os.stat(self.path)
        except OSError:
            return None
        return _plan_file(self.path, st, prev, self.max_bytes, self._ident)

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        pos, rot = int(start["pos"]), int(start.get("rot", 0))
        end = self._plan(pos)
        if end == 0 < pos:
            # a replaced file (the planner's one-batch rotation signal):
            # re-open from 0 within this same call.  An end below the
            # old position says "rotated" by itself; one at or above it
            # would replay as growth (or not advance at all), so the
            # offset's rotation count says it instead
            end = self._plan(0)
            if end is not None and end >= pos:
                rot += 1
            pos = 0
        if end is None:
            return iter([]), start
        # materialized: the engine copies a prefetched batch's iterator
        rows = [(v,) for v in _read_lines(self.path, pos, end)]
        return iter(rows), {"pos": end, "rot": rot} if rot else {"pos": end}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        # replay for recovery: deterministic re-read of [start, end), or
        # of [0, end) when a rotation lies between the two offsets
        s = int(start["pos"]) if start.get("rot", 0) == end.get("rot", 0) else 0
        return ((v,) for v in _read_lines(self.path, s, int(end["pos"])))


class PipeStreamReader(SimpleDataSourceStreamReader):
    """Line reader over a non-seekable stream (stdin or a named pipe).

    The stream is consumed exactly once; offsets count lines consumed.
    Replay (`readBetweenOffsets`) cannot re-produce consumed pipe data —
    restarts resume from "now", matching the reference's semantics
    (no recovery, ``source/stdin.go:31-46``).
    """

    def __init__(self, path: str | None):
        self.path = path  # None → stdin
        self._fd: int | None = None
        self._n = 0
        self._buf = b""

    def initialOffset(self) -> dict:
        return {"line": 0}

    def _handle(self) -> int:
        if self._fd is None:
            if self.path is None:
                import sys

                # stdin MUST be non-blocking too: a buffered
                # BufferedReader.read(65536) blocks until 64 KiB
                # accumulate or EOF, so a live low-rate `app | tailsql`
                # stream would stall the micro-batch indefinitely and
                # windows would never fill. Raw os.read on a
                # non-blocking fd returns whatever bytes are available
                # each batch instead.
                self._fd = sys.stdin.buffer.fileno()
                os.set_blocking(self._fd, False)
            else:
                # non-blocking FIFO open so an idle pipe never stalls a batch
                self._fd = os.open(self.path, os.O_RDONLY | os.O_NONBLOCK)
        return self._fd

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        fd = self._handle()
        try:
            while True:
                chunk = os.read(fd, 65536)
                if not chunk:
                    break
                self._buf += chunk
                if len(self._buf) > 1 << 26:
                    break
        except BlockingIOError:
            pass  # EAGAIN: no more bytes available right now
        if b"\n" in self._buf:
            *lines, self._buf = self._buf.split(b"\n")
        else:
            lines = []
        out = [(ln.decode("utf-8", errors="replace"),) for ln in lines if ln != b""]
        self._n += len(out)
        return iter(out), {"line": self._n}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        return iter([])  # consumed pipe data is gone (documented divergence)


class TailNStreamReader(DataSourceStreamReader):
    """Planner-partitioned tail over a FILE GLOB (r13 — the 100 TB
    shape of tail ingestion; cf. reference ``source/fs.go:14-71``,
    which tails exactly one file on one machine).

    Division of labor per micro-batch:

    * the DRIVER only plans: re-expand the glob (new files join the
      stream), ``stat`` each file, and back each size off to the last
      complete line (``_complete_through``) — offsets are a
      {path: byte_pos} dict, checkpointable and replayable;
    * every grown file becomes one :class:`TailFilePartition`, and its
      [start, end) byte range is read ON AN EXECUTOR — data bytes
      never pass through the driver, and a thousand log files fan out
      across the cluster;
    * rotation per file (:func:`_plan_file`) re-opens from 0,
      independently of every other file;
    * ``readBetweenOffsets`` semantics come from ``partitions(start,
      end)`` + deterministic range reads, so checkpointed restart
      resumes exactly (the same strict upgrade over the reference as
      the single-file reader).
    """

    #: executor-side read granularity (:func:`_read_lines`)
    READ_CHUNK = READ_CHUNK
    #: planner-side split granularity: a file range larger than this
    #: becomes several line-aligned partitions, so one huge backfill
    #: file fans out across executors instead of pinning one task.
    SPLIT_BYTES = 64 << 20

    def __init__(
        self, paths_glob: str, seek_to_end: bool, max_bytes_per_batch: int
    ):
        self.paths_glob = paths_glob
        self.seek_to_end = seek_to_end
        #: per-FILE per-batch advance cap (same dial as the single-file
        #: ``tailf`` reader, which the r13 ``tailn`` silently dropped —
        #: r13 ADVICE): without it, ``seek_to_end=false`` over large
        #: pre-existing logs makes the first micro-batch swallow every
        #: byte of every file at once.
        self.max_bytes = max_bytes_per_batch
        #: last offsets THIS planner returned — the cap is relative to
        #: these.  The cap must be applied here in latestOffset (Spark
        #: checkpoints whatever end we return; a partitions() that read
        #: less than [start, end) would silently LOSE the tail of the
        #: range), and offsets must never REGRESS relative to a
        #: committed plan (an end behind the committed start reads as
        #: rotation and re-delivers from 0 — duplicate rows).  None
        #: until the first planning call; Spark 4.x calls
        #: latestOffset() BEFORE initialOffset() on a fresh query, so
        #: the FIRST batch (fresh start or checkpoint restart alike)
        #: plans uncapped — a bounded-memory catch-up (chunked reads +
        #: range splitting below) — and the cap engages from the
        #: second plan on.  initialOffset therefore only SEEDS this
        #: when no plan exists yet; it never clobbers or rescans past an
        #: existing one (either puts a start behind or past the plan's
        #: end — duplicate delivery, caught empirically in r14).
        self._last_end: dict[str, int] | None = None
        #: in-memory rotation identity per path (see :func:`_plan_file`)
        self._ident: dict[str, tuple[int, bytes]] = {}

    def _files(self) -> list[str]:
        import glob

        return sorted(glob.glob(self.paths_glob))

    def _scan(self) -> list[tuple[str, os.stat_result]]:
        """Fleet discovery, batched (r15): when the glob's directory
        part is magic-free (the thousand-service layout — one dir of
        rotating logs), ONE scandir pass yields every entry WITH its
        stat (DirEntry.stat() serves from the scan), replacing the
        glob walk + per-file stat() round that charged two directory-
        resolution syscalls per file per trigger.  Multi-directory
        globs fall back to glob + stat.  Entries that vanish between
        listing and stat (delete-rotation is routine) are skipped, the
        same tolerance as the per-file OSError arms."""
        import fnmatch
        import glob as _glob

        d, _, pat = self.paths_glob.rpartition("/")
        out: list[tuple[str, os.stat_result]] = []
        if d and not _glob.has_magic(d):
            try:
                with os.scandir(d) as it:
                    for e in it:
                        # glob parity: glob never matches dot-prefixed
                        # names unless the pattern leads with '.', and
                        # a directory can't be tailed (r16)
                        if e.name.startswith(".") and not pat.startswith("."):
                            continue
                        if fnmatch.fnmatch(e.name, pat):
                            try:
                                if not e.is_file():
                                    continue
                                out.append((e.path, e.stat()))
                            except OSError:
                                continue
            except OSError:
                return []
            return sorted(out)
        for p in self._files():
            try:
                out.append((p, os.stat(p)))
            except OSError:
                continue
        return out

    def initialOffset(self) -> dict:
        # the engine may call latestOffset() first (observed on Spark
        # 4.x).  A plan made there IS the start: rescanning would put a
        # grown file's start past that plan's end — misread as rotation,
        # every old line re-delivered — and overwriting the plan would
        # put the next capped end BEHIND the committed start
        if self._last_end is not None:
            return dict(self._last_end) if self.seek_to_end else {}
        out: dict[str, int] = {}
        if self.seek_to_end:
            # tail semantics: the INITIAL file set starts at EOF
            # (complete lines only); files appearing later start at 0 —
            # they were born after the stream, so their content is "new"
            for p, st in self._scan():
                try:
                    out[p] = _complete_through(p, 0, st.st_size)
                except OSError:
                    # deleted between scan and backscan (delete-based
                    # rotation is routine) — skip; if it reappears, a
                    # later batch picks it up from 0
                    continue
        self._last_end = dict(out)
        return out

    def latestOffset(self) -> dict:
        out: dict[str, int] = {}
        prev_map = self._last_end
        for p, st in self._scan():
            prev = None if prev_map is None else prev_map.get(p, 0)
            if prev is None and not self.seek_to_end:
                # engine call order: Spark 4.x calls latestOffset()
                # BEFORE initialOffset() on a fresh query.  For a
                # backfill stream the committed start is 0, so the very
                # FIRST plan must already honor the cap.  seek_to_end
                # streams keep prev=None: their start is the file END,
                # and a capped end below it would misread as rotation.
                prev = 0
            end = _plan_file(p, st, prev, self.max_bytes, self._ident)
            if end is not None:
                out[p] = end
        self._last_end = dict(out)
        return out

    def _split_points(self, path: str, s: int, e: int) -> list[int]:
        """Line-aligned interior split points for a large [s, e) range
        (ascending, exclusive of both ends).  Each candidate is backed
        off to a complete-line boundary via ``_complete_through`` (a
        ≤64 KiB backward probe per point — planner-side metadata
        cost), so no partition ever splits a line."""
        points: list[int] = []
        cand = s + self.SPLIT_BYTES
        while cand < e:
            try:
                aligned = _complete_through(path, points[-1] if points else s, cand)
            except OSError:
                break  # file vanished mid-planning; read() tolerates it
            if aligned <= (points[-1] if points else s):
                break  # one >SPLIT_BYTES line: give up splitting here
            if aligned >= e:
                break
            points.append(aligned)
            cand = aligned + self.SPLIT_BYTES
        return points

    #: pack budget per fleet partition: whole-file ranges pack until
    #: their bytes + per-file OPEN_COST reach this — sized so a 1k-file
    #: fleet still fans out across ~32 cores while a 10k-file fleet
    #: collapses from 10k tasks to ~100
    PACK_TARGET = 16 << 20
    #: the charged per-file task overhead (Spark's openCostInBytes
    #: idea): without it a pack of ten thousand 50-byte files would
    #: look "small" while costing ten thousand opens in one task
    OPEN_COST = 128 << 10

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        parts: list[InputPartition] = []
        packable: list[tuple[str, int, int]] = []
        for p, e in end.items():
            e = int(e)
            s = _range_start(int(start.get(p, 0)), e)
            if e <= s:
                continue
            cuts = [s, *self._split_points(p, s, e), e]
            if (
                len(cuts) == 2
                and (e - s) + self.OPEN_COST <= self.PACK_TARGET
            ):
                # a whole-file range under the budget: bin-pack it with
                # its neighbors (the 10k-fleet shape)
                packable.append((p, s, e))
            else:
                # large or deliberately split ranges keep their own
                # task — they exist for parallelism
                for lo, hi in zip(cuts, cuts[1:]):
                    parts.append(TailFilePartition(p, lo, hi))
        bin_: list[tuple[str, int, int]] = []
        budget = 0
        for rng in packable:  # path-ordered: deterministic packing
            cost = (rng[2] - rng[1]) + self.OPEN_COST
            if bin_ and budget + cost > self.PACK_TARGET:
                parts.append(TailFleetPartition(bin_))
                bin_, budget = [], 0
            bin_.append(rng)
            budget += cost
        if bin_:
            parts.append(TailFleetPartition(bin_))
        if not parts:
            # Spark requires >= 1 partition per batch; an empty range
            # read yields no rows
            parts.append(TailFilePartition("", 0, 0))
        return parts

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        # EXECUTOR-side: a fleet partition reads its packed ranges in
        # order; a file partition is the single-range case
        if isinstance(partition, TailFleetPartition):
            ranges = partition.ranges
        else:
            ranges = [(partition.path, partition.start, partition.end)]
        return (
            (path, v)
            for path, start, end in ranges
            for v in _read_lines(path, start, end, self.READ_CHUNK)
        )

    def commit(self, end: dict) -> None:
        pass  # source files are not ours to clean


class TailNDataSource(DataSource):
    """``format("tailn")`` — planner-partitioned tail over a file glob.

    Options: ``paths`` (glob, required), ``seek_to_end`` (default
    true), ``max_bytes_per_batch`` (per-file per-batch advance cap,
    default 16 MiB — same dial as ``tailf``).  Rows are (path, value).
    """

    @classmethod
    def name(cls) -> str:
        return "tailn"

    def schema(self) -> StructType:
        return MULTI_LINE_SCHEMA

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        paths = self.options.get("paths")
        if not paths:
            raise ValueError("tailn requires the 'paths' glob option")
        return TailNStreamReader(
            paths,
            seek_to_end=str(self.options.get("seek_to_end", "true")).lower() == "true",
            max_bytes_per_batch=int(
                self.options.get("max_bytes_per_batch", 1 << 24)
            ),
        )


class TailDataSource(DataSource):
    """``format("tailf")`` — tail a file, stdin, or FIFO as a stream.

    Options: ``path`` (file/FIFO path; omit or ``-`` for stdin),
    ``seek_to_end`` (default true, tail semantics), ``max_bytes_per_batch``.
    """

    @classmethod
    def name(cls) -> str:
        return "tailf"

    def schema(self) -> StructType:
        return LINE_SCHEMA

    def simpleStreamReader(self, schema: StructType) -> SimpleDataSourceStreamReader:
        path = self.options.get("path")
        if path in (None, "", "-"):
            return PipeStreamReader(None)
        import stat

        if os.path.exists(path) and stat.S_ISFIFO(os.stat(path).st_mode):
            return PipeStreamReader(path)
        start_offset = self.options.get("start_offset")
        return TailStreamReader(
            path,
            seek_to_end=str(self.options.get("seek_to_end", "true")).lower() == "true",
            max_bytes_per_batch=int(self.options.get("max_bytes_per_batch", 1 << 24)),
            start_offset=None if start_offset is None else int(start_offset),
        )
