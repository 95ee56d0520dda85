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
* rotation-aware: when the file shrinks below the recorded offset the
  reader re-opens from 0 (tail ``ReOpen``);
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
    """Byte-offset tail reader for a regular file."""

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

    def _read_from(self, pos: int) -> tuple[list[tuple[str]], int]:
        try:
            st = os.stat(self.path)
        except OSError:
            return [], pos
        size = st.st_size
        # rotation detection (r14, parity with tailn): size alone
        # misses a delete-rotated replacement LARGER than the original
        # (masquerades as growth; the old offset would continue INTO
        # the new file).  The live reader also tracks inode + first
        # bytes — inode reuse after unlink+create is routine, and
        # appends never change the prefix.  In-memory only: across a
        # restart the bigger-replacement case remains undetectable
        # (byte positions stay the checkpoint contract).
        rotated = size < pos
        if not rotated and pos > 0:
            try:
                with open(self.path, "rb") as fh:
                    prefix = fh.read(64)
                old_sig = getattr(self, "_sig", b"")
                rotated = (
                    getattr(self, "_inode", st.st_ino) != st.st_ino
                ) or (old_sig != b"" and prefix[: len(old_sig)] != old_sig)
                self._sig = prefix
            except OSError:
                return [], pos
        else:
            try:
                with open(self.path, "rb") as fh:
                    self._sig = fh.read(64)
            except OSError:
                return [], pos
        self._inode = st.st_ino
        if rotated:  # rotation/truncation → re-open from start
            pos = 0
        if size == pos:
            return [], pos
        with open(self.path, "rb") as f:
            f.seek(pos)
            chunk = f.read(self.max_bytes)
        new_pos = pos + len(chunk)
        lines = chunk.split(b"\n")
        if not chunk.endswith(b"\n"):
            # incomplete trailing line: leave its bytes unconsumed — the
            # offset only ever advances past complete lines, so the
            # reader is stateless and restart-safe
            partial = lines.pop()
            new_pos -= len(partial)
        rows = [
            (ln.decode("utf-8", errors="replace"),) for ln in lines if ln != b""
        ]
        return rows, new_pos

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        rows, new_pos = self._read_from(int(start["pos"]))
        return iter(rows), {"pos": new_pos}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        # replay for recovery: deterministic re-read of [start, end)
        pos, end_pos = int(start["pos"]), int(end["pos"])
        if not os.path.exists(self.path) or end_pos <= pos:
            return iter([])
        with open(self.path, "rb") as f:
            f.seek(pos)
            data = f.read(end_pos - pos)
        return iter(
            (ln.decode("utf-8", errors="replace"),)
            for ln in data.split(b"\n")
            if ln != b""
        )


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
    * rotation per file: size below the recorded offset re-opens from
      0, independently of every other file;
    * ``readBetweenOffsets`` semantics come from ``partitions(start,
      end)`` + deterministic range reads, so checkpointed restart
      resumes exactly (the same strict upgrade over the reference as
      the single-file reader).
    """

    #: executor-side read granularity: a partition's [start, end) range
    #: is consumed in chunks of this many bytes (never one full-range
    #: ``f.read``), so a large backfill range costs bounded memory
    #: per-chunk plus the emitted rows.
    READ_CHUNK = 4 << 20
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
        #: when no plan exists yet; it never clobbers a more-advanced
        #: one (the clobber would put the next capped end behind the
        #: committed start — the duplicate-delivery bug the r14 review
        #: caught empirically).
        self._last_end: dict[str, int] | None = None
        #: in-memory rotation identity per path: a delete-rotated file
        #: whose REPLACEMENT is larger than the original is
        #: indistinguishable from growth by size alone (the
        #: [0, old_size) prefix of the new file would be silently
        #: skipped and the suffix delivered as a continuation).  Two
        #: signals unmask it for the LIVE planner — the inode (tail
        #: -F's rule; defeated when the filesystem immediately REUSES
        #: the freed inode, routine on tmpfs/ext4) and the file's
        #: first bytes (the fluentd rule: appends never change the
        #: prefix; a same-prefix replacement escapes — documented
        #: heuristic).  Deliberately NOT part of the checkpointed
        #: offset (byte positions stay the replayable contract);
        #: across a restart the bigger-replacement case remains
        #: undetectable, the same documented limit as the single-file
        #: reader.
        self._inode: dict[str, int] = {}
        self._sig: dict[str, bytes] = {}

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
        # seed the cap baseline ONLY when no plan exists yet: the
        # engine may call latestOffset() first (observed on Spark 4.x),
        # and overwriting its plan here would put the next capped end
        # BEHIND the committed start — misread as rotation, every
        # backfill byte delivered twice
        if self._last_end is None:
            self._last_end = dict(out)
        return out

    def _probe_prefixes(self, scan: list) -> dict:
        """64-byte prefix per scanned file (the rotation signature
        probe) — the ONLY per-file read a steady-state trigger does.
        Returns {path: bytes | None}; None marks a file that vanished
        between scan and probe (the established OSError tolerance).

        SERIAL, deliberately: on local disk the probe is a warm-page-
        cache open+read — ~7 us of mostly GIL-held work — and a thread
        pool makes it strictly WORSE (r16 A/B, 10k files: serial
        0.07 s, 4 threads 1.5 s, 16 threads 3.1 s — classic GIL thrash
        on non-blocking 'syscalls').  The measured serial knee is
        therefore the honest per-driver fleet cap: ~14 us/file steady
        state, ~1.4 s/trigger at 100k files (SCALING.md r16); past it,
        shard the glob across streams."""

        def probe(p: str):
            try:
                with open(p, "rb") as fh:
                    return p, fh.read(64)
            except OSError:
                return p, None

        return dict(probe(p) for p, _ in scan)

    def latestOffset(self) -> dict:
        out: dict[str, int] = {}
        prev_map = self._last_end
        scan = self._scan()
        prefixes = self._probe_prefixes(scan)
        for p, st in scan:
            try:
                size = st.st_size
                prev = None if prev_map is None else int(prev_map.get(p, 0))
                if prev is None and not self.seek_to_end:
                    # engine call order: Spark 4.x calls latestOffset()
                    # BEFORE initialOffset() on a fresh query.  For a
                    # backfill stream the committed start is 0, so the
                    # very FIRST plan must already honor the cap —
                    # leaving prev=None here planned the whole
                    # pre-existing file in one batch, defeating the
                    # backpressure dial exactly in its documented use
                    # case (large pre-existing logs).  seek_to_end
                    # streams keep prev=None: their start is the file
                    # END, and a capped end below it would misread as
                    # rotation.
                    prev = 0
                # inode change = delete-rotation even when the
                # replacement is BIGGER than the original (size alone
                # would masquerade as growth and skip the replacement's
                # [0, prev) prefix).  Plan end=0 for one batch: any
                # end >= the committed start would read as continuation
                # INTO the replacement, so the only robust signal is an
                # end below every possible start — partitions() then
                # plans nothing, the checkpoint commits 0, and the next
                # plan delivers the replacement from 0 under the normal
                # cap.
                #
                # UNCHANGED fast path (r15, the fleet-planning dial): a
                # file whose size equals the previous plan's end did not
                # grow and already ends on a complete line (ends were
                # line-aligned when planned), so the plan is byte-
                # identical to last trigger's — skip the ≤64 KiB
                # line-alignment backscan.  Measured steady-state
                # latestOffset: 2k×1 MB files 0.066 s → 0.021 s (3.2×;
                # the backscan reads 64 KiB/file there), 10k tiny files
                # 0.192 s → 0.143 s (the floor is the stat+open syscall
                # pair) — and on cold object/network storage the
                # skipped read is a round trip, not a page-cache hit.
                # The rotation signals stay AS STRONG as before: the
                # inode check rides the stat above, and the 64-byte
                # prefix probe below still runs every trigger — only
                # the backscan is skipped, and only when it provably
                # recomputes last trigger's answer.
                prefix = prefixes.get(p)
                if prefix is None:
                    continue  # vanished between scan and probe
                old_sig = self._sig.get(p, b"")
                rotated = (
                    p in self._inode and self._inode[p] != st.st_ino
                ) or (
                    old_sig != b"" and prefix[: len(old_sig)] != old_sig
                )
                self._inode[p] = st.st_ino
                self._sig[p] = prefix
                if rotated and prev is not None and prev > 0:
                    out[p] = 0
                    continue
                if prev is not None and size == prev:
                    out[p] = prev  # unchanged: last plan's aligned end
                    continue
                if (
                    prev is not None
                    and size > prev  # not rotated/shrunk
                    and size - prev > self.max_bytes
                ):
                    # planner-side backpressure: advance by at most
                    # max_bytes past the previous plan, backed off to a
                    # complete line; the remainder replans next batch
                    aligned = _complete_through(p, prev, prev + self.max_bytes)
                    if aligned <= prev:
                        # one line longer than the cap: it must be
                        # consumed whole — fall back to the full
                        # alignment for this file this batch
                        aligned = _complete_through(p, prev, size)
                    out[p] = aligned
                elif (
                    prev is not None
                    and size < prev  # delete-rotation replaced the file
                    and size > self.max_bytes
                ):
                    # the replacement content is itself over the cap:
                    # re-read from 0 (the smaller end signals rotation
                    # to partitions()) but still in capped slices —
                    # rotation is when a log dumps the MOST data, so
                    # exempting it would void the backpressure contract
                    # exactly when it matters
                    aligned = _complete_through(p, 0, self.max_bytes)
                    out[p] = (
                        aligned if aligned > 0 else _complete_through(p, 0, size)
                    )
                else:
                    out[p] = _complete_through(p, 0, size)
            except OSError:
                continue  # vanished between glob and stat/backscan
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
            s = int(start.get(p, 0))
            e = int(e)
            if e < s:  # rotation/truncation → re-read from 0
                s = 0
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
        # EXECUTOR-side: deterministic CHUNKED range read — bounded
        # memory even for a multi-GiB backfill partition (the r13
        # reader materialized the whole range in one f.read + a full
        # split() copy).  A fleet partition iterates its packed ranges
        # sequentially; a file partition is the single-range case.
        if isinstance(partition, TailFleetPartition):
            ranges = partition.ranges
        else:
            ranges = [(partition.path, partition.start, partition.end)]

        def _rows() -> Iterator[tuple]:
            for path, start, end_ in ranges:
                if not path:
                    continue
                try:
                    f = open(path, "rb")
                except OSError:
                    continue  # vanished under delete-rotation: range gone
                with f:
                    f.seek(start)
                    remaining = end_ - start
                    buf = b""
                    while remaining > 0:
                        chunk = f.read(min(self.READ_CHUNK, remaining))
                        if not chunk:
                            break  # truncated under us: emit what we have
                        remaining -= len(chunk)
                        buf += chunk
                        *lines, buf = buf.split(b"\n")
                        for ln in lines:
                            if ln != b"":
                                yield (
                                    path,
                                    ln.decode("utf-8", errors="replace"),
                                )
                    # partition ends are line-aligned by construction, so
                    # a trailing remainder only appears if the file shrank
                    # mid-read — emit it rather than drop bytes
                    if buf != b"":
                        yield (path, buf.decode("utf-8", errors="replace"))

        return _rows()

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
