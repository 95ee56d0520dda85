"""Source coverage: FIFO, pipe reader, checkpoint-resume, file formats
(reference: source/fs.go, source/stdin.go, source/namedpipe.go)."""

from __future__ import annotations

import os
import time





def test_pipe_reader_fifo(tmp_path):
    """Named-pipe line source (source/namedpipe.go): non-blocking reads,
    line-count offsets."""
    fifo = str(tmp_path / "p.fifo")
    os.mkfifo(fifo)
    fd = os.open(fifo, os.O_RDWR)  # keep a writer open so reads don't EOF
    try:
        from tailsql_spark.sources.tail import PipeStreamReader

        r = PipeStreamReader(fifo)
        rows, off = r.read(r.initialOffset())
        assert list(rows) == [] and off == {"line": 0}
        os.write(fd, b"one\ntwo\npartial")
        rows, off = r.read(off)
        assert [x[0] for x in rows] == ["one", "two"]
        assert off == {"line": 2}
        os.write(fd, b"_done\n")
        rows, off = r.read(off)
        assert [x[0] for x in rows] == ["partial_done"]
        assert off == {"line": 3}
    finally:
        os.close(fd)


def test_pipe_reader_stdin_live_low_rate(monkeypatch):
    """A live `app | tailsql` stream at low rate: ONE short line must
    emit on the next batch. The old BufferedReader.read(65536) blocked
    until 64 KiB accumulated or EOF, stalling micro-batches
    indefinitely (round-1 ADVICE). Raw non-blocking os.read returns
    what's available."""
    import io
    import sys
    import threading

    from tailsql_spark.sources.tail import PipeStreamReader

    r_fd, w_fd = os.pipe()
    try:
        fake_stdin = type(
            "FakeStdin", (), {"buffer": io.FileIO(r_fd, "rb", closefd=False)}
        )()
        monkeypatch.setattr(sys, "stdin", fake_stdin)

        reader = PipeStreamReader(None)  # None → stdin path
        os.write(w_fd, b"only one line\n")

        result: dict = {}

        def batch():
            rows, off = reader.read(reader.initialOffset())
            result["rows"], result["off"] = list(rows), off

        t = threading.Thread(target=batch, daemon=True)
        t.start()
        t.join(timeout=5)  # old blocking read would hang here forever
        assert not t.is_alive(), "stdin read blocked on a short line"
        assert [x[0] for x in result["rows"]] == ["only one line"]
        assert result["off"] == {"line": 1}

        # idle pipe: next batch returns immediately with nothing
        rows, off = reader.read(result["off"])
        assert list(rows) == [] and off == {"line": 1}
    finally:
        os.close(r_fd)
        os.close(w_fd)


def test_fifo_detection_dispatch(tmp_path):
    """TailDataSource routes FIFOs to the pipe reader and regular files
    to the byte-offset tailer (utils/utils.go:7-13 dispatch)."""
    from tailsql_spark.sources.tail import PipeStreamReader, TailDataSource, TailStreamReader

    fifo = str(tmp_path / "f.fifo")
    os.mkfifo(fifo)
    reg = str(tmp_path / "r.log")
    open(reg, "w").write("x\n")

    ds = TailDataSource(options={"path": fifo})
    assert isinstance(ds.simpleStreamReader(ds.schema()), PipeStreamReader)
    ds = TailDataSource(options={"path": reg})
    assert isinstance(ds.simpleStreamReader(ds.schema()), TailStreamReader)
    ds = TailDataSource(options={"path": "-"})
    assert isinstance(ds.simpleStreamReader(ds.schema()), PipeStreamReader)


def test_tailf_checkpoint_resume(spark, tmp_path):
    """Restart-with-checkpoint: offsets resume exactly — no loss, no
    duplicates (a strict upgrade over the reference, which has no
    recovery at all, SURVEY §2E 'delivery')."""
    from tailsql_spark.sources.tail import TailDataSource

    spark.dataSource.register(TailDataSource)
    log = tmp_path / "ckpt.log"
    log.write_text("a1\na2\n")
    ckpt = str(tmp_path / "ckpt_dir")
    out: list[str] = []

    def start():
        df = (
            spark.readStream.format("tailf")
            .option("path", str(log))
            .option("seek_to_end", "false")
            .load()
        )
        return (
            df.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .foreachBatch(lambda b, _e: out.extend(r.value for r in b.collect()))
            .trigger(processingTime="1 seconds")
            .start()
        )

    q = start()
    deadline = time.time() + 90
    while len(out) < 2 and time.time() < deadline:
        time.sleep(0.3)
    q.stop()
    assert out == ["a1", "a2"]

    # while the stream is DOWN, more lines arrive
    with open(log, "a") as fh:
        fh.write("b1\nb2\n")

    q = start()
    deadline = time.time() + 90
    while len(out) < 4 and time.time() < deadline:
        time.sleep(0.3)
    q.stop()
    # resumed from the checkpointed byte offset: b-lines exactly once
    assert out == ["a1", "a2", "b1", "b2"]


def test_formats_csv_json_roundtrip(spark, sf_dir, tmp_path):
    """CSV/JSON sources (free with Spark, absent in the reference):
    explicit-schema read-back preserves the data."""
    from tailsql_spark.plans.catalog import load_table

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    csv_dir, json_dir = str(tmp_path / "csv"), str(tmp_path / "json")
    events.write.mode("overwrite").option("header", True).csv(csv_dir)
    events.write.mode("overwrite").json(json_dir)

    schema = "event_id long, user_id long, event_type string, value double"
    back_csv = spark.read.schema(schema).option("header", True).csv(csv_dir)
    back_json = spark.read.schema(schema).json(json_dir)

    want = sorted((r.event_id, r.event_type, r.value) for r in events.collect())
    assert sorted((r.event_id, r.event_type, r.value) for r in back_csv.collect()) == want
    assert sorted((r.event_id, r.event_type, r.value) for r in back_json.collect()) == want


def test_tail_reader_pinned_start_offset(tmp_path):
    """A pinned start_offset wins over the lazy EOF snapshot — the
    tail-at-open guarantee; and a not-yet-created file pins 0 so
    everything written after creation is read (tail -F semantics)."""
    from tailsql_spark.sources.tail import TailStreamReader

    log = tmp_path / "late.log"
    log.write_text("already here\n")
    pinned = TailStreamReader(str(log), seek_to_end=True,
                              max_bytes_per_batch=1 << 20, start_offset=0)
    assert pinned.initialOffset() == {"pos": 0}
    lazy = TailStreamReader(str(log), seek_to_end=True,
                            max_bytes_per_batch=1 << 20)
    assert lazy.initialOffset() == {"pos": len("already here\n")}
    missing = TailStreamReader(str(tmp_path / "nope.log"), seek_to_end=True,
                               max_bytes_per_batch=1 << 20, start_offset=0)
    assert missing.initialOffset() == {"pos": 0}


def test_tailn_partitioned_reads_and_checkpoint_resume(spark, tmp_path):
    """r13: the planner-partitioned multi-file tail (format 'tailn').

    1. EXECUTOR-SIDE READS: grown files' byte ranges are read in input
       partitions, never funneled through the driver — small whole-file
       ranges bin-pack into fleet tasks (r15), large files split;
    2. PROVENANCE: rows carry the originating path;
    3. LINE-BOUNDARY DISCIPLINE: a partial trailing line (no newline
       yet) is not consumed until completed;
    4. CHECKPOINT RESUME + DYNAMIC FILES: lines appended while the
       stream is down arrive exactly once on restart, and a file BORN
       between runs joins the stream from offset 0."""
    import time

    from pyspark.sql import functions as F

    from tailsql_spark.sources.tail import TailNDataSource

    spark.dataSource.register(TailNDataSource)
    d = tmp_path / "logs"
    d.mkdir()
    (d / "a.log").write_text("a1\na2\n")
    (d / "b.log").write_text("b1\n")
    (d / "c.log").write_text("c-partial")  # no newline: must NOT appear
    ckpt = str(tmp_path / "ckpt")
    got: list[tuple] = []
    nparts: list[int] = []

    def run_once():
        df = (
            spark.readStream.format("tailn")
            .option("paths", str(d / "*.log"))
            .option("seek_to_end", "false")
            .load()
        )

        def sink(b, _e):
            rows = b.withColumn("pid", F.spark_partition_id()).collect()
            got.extend((r.path, r.value) for r in rows)
            nparts.append(len({r.pid for r in rows}))

        q = (
            df.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .foreachBatch(sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    run_once()
    vals = sorted(v for _p, v in got)
    assert vals == ["a1", "a2", "b1"], vals  # partial line unconsumed
    assert {p.rsplit("/", 1)[-1] for p, _v in got} == {"a.log", "b.log"}
    # r15: tiny whole-file ranges BIN-PACK into one executor task (the
    # fleet shape — per-task overhead amortizes across files); the read
    # is still executor-side with per-row path provenance
    assert nparts and max(nparts) == 1, nparts

    # stream DOWN: complete the partial line, append to a, add a NEW file
    with open(d / "c.log", "a") as fh:
        fh.write(" done\nc2\n")
    with open(d / "a.log", "a") as fh:
        fh.write("a3\n")
    (d / "d.log").write_text("d1\n")

    got.clear()
    nparts.clear()
    run_once()
    vals = sorted(v for _p, v in got)
    # exactly once: no a1/a2/b1 replays; the completed partial arrives whole
    assert vals == ["a3", "c-partial done", "c2", "d1"], vals
    assert {p.rsplit("/", 1)[-1] for p, _v in got} == {"a.log", "c.log", "d.log"}
    assert nparts and max(nparts) == 1, nparts  # packed (r15)


def test_tailn_per_batch_byte_cap_and_catchup(tmp_path):
    """r14 (r13 ADVICE): the multi-file tail honors max_bytes_per_batch
    — a large pre-existing backlog is planned in bounded per-batch
    slices (line-aligned), and successive latestOffset calls catch up
    without losing or duplicating a byte."""
    from tailsql_spark.sources.tail import TailNStreamReader

    log = tmp_path / "big.log"
    lines = [f"line-{i:04d}" for i in range(200)]
    log.write_text("".join(ln + "\n" for ln in lines))
    total = log.stat().st_size

    r = TailNStreamReader(str(log), seek_to_end=False, max_bytes_per_batch=256)
    start = r.initialOffset()
    assert start == {}  # backfill: read from 0

    # drain the backlog through the capped planner
    seen: list[str] = []
    prev: dict = start
    for _ in range(1000):
        end = r.latestOffset()
        if end == prev:
            break
        for part in r.partitions(prev, end):
            seen.extend(v for _p, v in r.read(part))
        prev = end
    assert prev[str(log)] == total
    assert seen == lines  # exactly once, in order
    # the cap actually bit: the backlog needed > total/256 batches
    n_batches = (total + 255) // 256
    assert n_batches > 1


def test_tailn_vanished_file_and_giant_line(tmp_path):
    """r14 (r13 ADVICE): a file deleted between glob and stat is
    skipped (delete-based rotation), and a single line longer than the
    cap is still consumed whole."""
    import os

    from tailsql_spark.sources.tail import TailNStreamReader

    a = tmp_path / "a.log"
    a.write_text("a1\n")
    giant = tmp_path / "g.log"
    giant.write_text("x" * 5000 + "\n" + "tail\n")

    r = TailNStreamReader(
        str(tmp_path / "*.log"), seek_to_end=False, max_bytes_per_batch=64
    )
    r.initialOffset()
    end = r.latestOffset()
    # giant's first line exceeds the cap: the fallback advances past it
    assert end[str(giant)] >= 5001
    rows = []
    for part in r.partitions({}, end):
        rows.extend(v for _p, v in r.read(part))
    assert "a1" in rows and "tail" in rows and ("x" * 5000) in rows

    # vanish a file between planning rounds: latestOffset must not raise
    os.unlink(str(a))
    end2 = r.latestOffset()
    assert str(a) not in end2

    # vanish between planning and executor read: read() yields nothing
    from tailsql_spark.sources.tail import TailFilePartition

    ghost = TailFilePartition(str(tmp_path / "gone.log"), 0, 100)
    assert list(r.read(ghost)) == []


def test_tailf_giant_line_is_consumed_whole(tmp_path):
    """A line longer than tailf's per-batch cap is consumed whole, the
    same fallback tailn takes — the reader must not stall at offset 0
    re-reading a capped slice that holds no complete line."""
    from tailsql_spark.sources.tail import TailStreamReader

    log = tmp_path / "g.log"
    lines = ["x" * 39, "s1", "s2"]  # a 40-byte first line, then two short
    log.write_text("".join(ln + "\n" for ln in lines))
    r = TailStreamReader(str(log), seek_to_end=False, max_bytes_per_batch=16)
    got: list[str] = []
    off = r.initialOffset()
    for _ in range(10):
        rows, nxt = r.read(off)
        got.extend(v for (v,) in rows)
        if nxt == off:
            break
        off = nxt
    assert got == lines, got
    assert off == {"pos": log.stat().st_size}


def test_giant_line_batch_restarts_the_cap(tmp_path):
    """The giant-line fallback restarts the cap at that line's newline:
    the batch holds the line plus at most one cap of whole lines, in
    both formats (a fallback planned to the file's last newline read the
    whole backlog into one driver-side tailf batch)."""
    from tailsql_spark.sources.tail import TailNStreamReader, TailStreamReader

    log = tmp_path / "g.log"
    lines = ["x" * 39] + [f"s{i:02d}" for i in range(20)]  # 40 + 20*4 bytes
    log.write_text("".join(ln + "\n" for ln in lines))

    n = TailNStreamReader(str(log), seek_to_end=False, max_bytes_per_batch=16)
    assert n.latestOffset() == {str(log): 56}

    r = TailStreamReader(str(log), seek_to_end=False, max_bytes_per_batch=16)
    rows, off = r.read(r.initialOffset())
    assert [v for (v,) in rows] == lines[:5] and off == {"pos": 56}
    got: list[str] = []
    for _ in range(20):
        rows, nxt = r.read(off)
        assert nxt["pos"] - off["pos"] <= 16
        got.extend(v for (v,) in rows)
        if nxt == off:
            break
        off = nxt
    assert got == lines[5:]


def test_tailf_mid_line_start_never_moves_backwards(tmp_path):
    """A seek_to_end tailf starts at the raw file size, which may fall
    inside a line the writer has not finished.  A partial append must
    leave the offset where it is — backing off to an earlier newline
    would read as rotation and re-deliver lines written before the
    stream started."""
    from tailsql_spark.sources.tail import TailStreamReader

    log = tmp_path / "app.log"
    log.write_text("a\nb\npart")
    r = TailStreamReader(str(log), seek_to_end=True,
                         max_bytes_per_batch=1 << 20)
    off = r.initialOffset()
    assert off == {"pos": 8}
    with open(log, "a") as fh:
        fh.write("ial")
    rows, off2 = r.read(off)
    assert list(rows) == [] and off2 == {"pos": 8}
    with open(log, "a") as fh:
        fh.write("\nnext\n")
    rows, off3 = r.read(off2)
    assert [v for (v,) in rows] == ["ial", "next"]
    assert off3 == {"pos": log.stat().st_size}


def test_tailn_range_split_and_chunked_read(tmp_path):
    """r14: a backfill range larger than SPLIT_BYTES fans out into
    several line-aligned partitions, and the executor read is chunked
    (READ_CHUNK) — same rows as a whole-range read."""
    from tailsql_spark.sources.tail import TailNStreamReader

    log = tmp_path / "wide.log"
    lines = [f"row-{i:05d}-" + "p" * 40 for i in range(4000)]
    log.write_text("".join(ln + "\n" for ln in lines))
    size = log.stat().st_size

    r = TailNStreamReader(str(log), seek_to_end=False,
                          max_bytes_per_batch=1 << 30)
    r.SPLIT_BYTES = 8192   # force splitting at test scale
    r.READ_CHUNK = 1024    # force chunked executor reads
    r.initialOffset()
    end = r.latestOffset()
    assert end[str(log)] == size
    parts = r.partitions({}, end)
    assert len(parts) > 3  # the range actually split
    # line-aligned split points: partitions tile [0, size) exactly
    spans = sorted((p.start, p.end) for p in parts)
    assert spans[0][0] == 0 and spans[-1][1] == size
    assert all(a[1] == b[0] for a, b in zip(spans, spans[1:]))
    got = []
    for part in parts:
        got.extend(v for _p, v in r.read(part))
    assert got == lines


def test_tailn_engine_call_order_never_duplicates(tmp_path):
    """r14 review finding (empirically confirmed on Spark 4.x): the
    engine calls latestOffset() BEFORE initialOffset() on a fresh
    query.  The first plan is therefore uncapped, and initialOffset
    must NOT clobber it — the clobber put the next capped end behind
    the committed start, which partitions() misread as rotation and
    re-delivered the whole backfill.  Emulates the engine's exact call
    order and asserts exactly-once delivery."""
    from tailsql_spark.sources.tail import TailNStreamReader

    log = tmp_path / "big.log"
    lines = [f"line-{i:04d}" for i in range(200)]
    log.write_text("".join(ln + "\n" for ln in lines))
    total = log.stat().st_size

    r = TailNStreamReader(str(log), seek_to_end=False, max_bytes_per_batch=256)
    # ENGINE ORDER: latestOffset first, then initialOffset
    first_end = r.latestOffset()
    start = r.initialOffset()
    assert start == {}
    seen: list[str] = []
    prev = start
    end = first_end
    for _ in range(1000):
        for part in r.partitions(prev, end):
            seen.extend(v for _p, v in r.read(part))
        prev = end
        end = r.latestOffset()
        if end == prev:
            break
    # first batch was uncapped (no baseline yet) — the whole backlog,
    # delivered exactly once, never re-read
    assert prev[str(log)] == total
    assert seen == lines, (len(seen), len(lines))

    # append more than the cap: subsequent plans are now capped
    extra = [f"extra-{i:04d}" for i in range(100)]
    with open(log, "a") as fh:
        fh.write("".join(ln + "\n" for ln in extra))
    end2 = r.latestOffset()
    assert 0 < end2[str(log)] - prev[str(log)] <= 256
    # drain and confirm exactly-once end-to-end
    got: list[str] = []
    prev2, e2 = prev, end2
    for _ in range(1000):
        for part in r.partitions(prev2, e2):
            got.extend(v for _p, v in r.read(part))
        prev2 = e2
        e2 = r.latestOffset()
        if e2 == prev2:
            break
    assert got == extra


def test_tailn_rotation_replacement_is_capped(tmp_path):
    """r14 review finding: the rotation branch planned one uncapped
    batch over the entire replacement file — the backpressure contract
    voided exactly when rotation dumps the most data.  A delete-rotated
    file larger than the cap must re-deliver from 0 in capped,
    line-aligned slices."""
    import os

    from tailsql_spark.sources.tail import TailNStreamReader

    log = tmp_path / "rot.log"
    log.write_text("".join(f"old-{i}\n" for i in range(50)))

    r = TailNStreamReader(str(log), seek_to_end=False, max_bytes_per_batch=256)
    end = r.latestOffset()
    r.initialOffset()
    seen = []
    for part in r.partitions({}, end):
        seen.extend(v for _p, v in r.read(part))
    prev = end

    # delete-rotate: replacement much larger than the cap
    os.unlink(log)
    repl = [f"new-{i:05d}" for i in range(300)]
    log.write_text("".join(ln + "\n" for ln in repl))
    total = log.stat().st_size

    end = r.latestOffset()
    assert end[str(log)] <= 256  # capped re-read from 0, not one big gulp
    got: list[str] = []
    for _ in range(1000):
        for part in r.partitions(prev, end):
            got.extend(v for _p, v in r.read(part))
        prev = end
        end = r.latestOffset()
        if end == prev:
            break
    assert prev[str(log)] == total
    assert got == repl  # exactly once, in order, across many capped slices


def test_tailf_bigger_replacement_rotation_detected(tmp_path):
    """r14 (parity with tailn): a delete-rotated file whose replacement
    is LARGER than the original must not masquerade as growth — the
    single-file reader re-opens from 0 (inode + first-bytes signals)
    instead of continuing the old offset into the new content."""
    import os

    from tailsql_spark.sources.tail import TailStreamReader

    log = tmp_path / "app.log"
    log.write_text("old-1\nold-2\n")
    r = TailStreamReader(str(log), seek_to_end=False,
                         max_bytes_per_batch=1 << 20)
    start = r.initialOffset()
    rows, off = r.read(start)
    assert [v for (v,) in rows] == ["old-1", "old-2"]

    # delete-rotate with a LARGER replacement
    os.unlink(log)
    repl = [f"replacement-line-{i}" for i in range(10)]
    log.write_text("".join(ln + "\n" for ln in repl))
    rows2, off2 = r.read(off)
    got = [v for (v,) in rows2]
    assert got == repl, got  # from 0, complete — not a mid-file suffix
    assert off2["pos"] == log.stat().st_size


def test_tailf_rotation_batch_replays_identically(tmp_path):
    """Exactly-once recovery rests on replaying any [start, end)
    deterministically: after a truncate-rotate the live batch moves the
    offset backwards (end < start), and readBetweenOffsets over the
    same pair must re-deliver the same rows — [0, end) of the new
    file."""
    from tailsql_spark.sources.tail import TailStreamReader

    log = tmp_path / "rot.log"
    log.write_text("line-one\nline-two\nxx\n")  # 21 bytes
    r = TailStreamReader(str(log), seek_to_end=False,
                         max_bytes_per_batch=1 << 20)
    _rows, off = r.read(r.initialOffset())
    assert off == {"pos": 21}
    log.write_text("ccc\n")  # truncate-rotate in place
    rows, off2 = r.read(off)
    live = list(rows)
    assert live == [("ccc",)] and off2 == {"pos": 4}
    assert list(r.readBetweenOffsets(off, off2)) == live


def test_tailf_same_size_replacement_advances_offset(tmp_path):
    """A delete-rotated replacement of the SAME size re-plans to the old
    position; the offset must still advance, or Spark's simple-reader
    wrapper rejects the non-empty batch (OFFSET_DID_NOT_ADVANCE) and
    the query dies.  Replay of the pair re-delivers the new file."""
    import os

    from pyspark.sql.datasource_internal import _SimpleStreamReaderWrapper

    from tailsql_spark.sources.tail import TailStreamReader

    log = tmp_path / "app.log"
    log.write_text("aaa\n")
    r = TailStreamReader(str(log), seek_to_end=False,
                         max_bytes_per_batch=1 << 20)
    w = _SimpleStreamReaderWrapper(r)
    off = w.latestOffset()
    assert off == {"pos": 4}
    os.unlink(log)
    log.write_text("bbb\n")
    off2 = w.latestOffset()
    assert off2 != off and off2["pos"] == 4
    assert list(w.getCache(off, off2)) == [("bbb",)]
    assert list(r.readBetweenOffsets(off, off2)) == [("bbb",)]


def test_tailf_bigger_replacement_batch_replays_identically(tmp_path):
    """After a delete-rotation to a LARGER file the live batch delivers
    the replacement from byte 0; replaying the same offset pair must
    too (not [old pos, end) of the new file, which tears its first
    line), and the offsets after it replay plain growth."""
    import os

    from tailsql_spark.sources.tail import TailStreamReader

    log = tmp_path / "app.log"
    log.write_text("old-line-1\n")
    r = TailStreamReader(str(log), seek_to_end=False,
                         max_bytes_per_batch=1 << 20)
    _rows, off = r.read(r.initialOffset())
    assert off == {"pos": 11}
    os.unlink(log)
    repl = [f"replacement-{i}" for i in range(4)]
    log.write_text("".join(ln + "\n" for ln in repl))
    rows, off2 = r.read(off)
    live = list(rows)
    assert live == [(v,) for v in repl] and off2["pos"] == 56
    assert list(r.readBetweenOffsets(off, off2)) == live
    with open(log, "a") as fh:
        fh.write("after\n")
    rows3, off3 = r.read(off2)
    assert list(rows3) == [("after",)]
    assert list(r.readBetweenOffsets(off2, off3)) == [("after",)]


def test_tailn_seek_to_end_engine_order_skips_old_lines(tmp_path):
    """Engine order on a fresh seek_to_end query: latestOffset() plans
    first, the file grows, then initialOffset() runs.  The start must be
    that first plan — a rescan put the start past the plan's end, which
    partitions() read as rotation and re-delivered every old line."""
    from tailsql_spark.sources.tail import TailNStreamReader

    d = tmp_path / "logs"
    d.mkdir()
    log = d / "app.log"
    log.write_text("".join(f"old-{i}\n" for i in range(5)))
    r = TailNStreamReader(str(d / "*.log"), seek_to_end=True,
                          max_bytes_per_batch=1 << 20)
    end = r.latestOffset()
    with open(log, "a") as fh:
        fh.write("new-1\n")
    start = r.initialOffset()
    got: list[str] = []
    for _ in range(3):
        for part in r.partitions(start, end):
            got.extend(v for _p, v in r.read(part))
        start, end = end, r.latestOffset()
    assert got == ["new-1"], got


def test_tailn_engine_call_order_first_plan_is_capped(tmp_path):
    """r14: Spark 4.x calls latestOffset() BEFORE initialOffset() on a
    fresh query (the engine order, unlike the direct-driver tests
    above).  The backfill cap must bind on that very first plan — it
    planned ENTIRE pre-existing files before this fix, defeating the
    backpressure dial in exactly its documented use case — while a
    seek_to_end stream's first plan stays the file end (a capped end
    below the start would misread as rotation)."""
    from tailsql_spark.sources.tail import TailNStreamReader

    log = tmp_path / "big.log"
    lines = [f"line-{i:04d}" for i in range(200)]
    log.write_text("".join(ln + "\n" for ln in lines))
    total = log.stat().st_size

    r = TailNStreamReader(str(log), seek_to_end=False, max_bytes_per_batch=256)
    first = r.latestOffset()  # engine order: no initialOffset() yet
    assert 0 < first[str(log)] <= 256, first

    # the stream still drains exactly once from that capped first plan
    prev = r.initialOffset()
    assert prev == {}
    seen: list[str] = []
    for _ in range(1000):
        end = r.latestOffset() if seen else first
        if end == prev:
            break
        for part in r.partitions(prev, end):
            seen.extend(v for _p, v in r.read(part))
        prev = end
    assert prev[str(log)] == total
    assert seen == lines

    r2 = TailNStreamReader(str(log), seek_to_end=True, max_bytes_per_batch=256)
    assert r2.latestOffset()[str(log)] == total  # end-seek: NOT capped


def test_tailn_fleet_bin_packing(tmp_path):
    """r15: the fleet planner bin-packs small whole-file ranges into
    TailFleetPartition tasks (bytes + per-file OPEN_COST up to
    PACK_TARGET) while large/split ranges keep their own partition —
    and delivery over the packed plan stays exactly-once, in path
    order within each file."""
    from tailsql_spark.sources.tail import (
        TailFilePartition,
        TailFleetPartition,
        TailNStreamReader,
    )

    d = tmp_path / "fleet"
    d.mkdir()
    expect: dict[str, list[str]] = {}
    for i in range(40):
        p = d / f"svc-{i:02d}.log"
        lines = [f"svc{i}-l{j}" for j in range(5)]
        p.write_text("".join(ln + "\n" for ln in lines))
        expect[str(p)] = lines
    big = d / "zz-big.log"
    big_lines = [f"big-{j:05d}" for j in range(3000)]
    big.write_text("".join(ln + "\n" for ln in big_lines))
    expect[str(big)] = big_lines

    r = TailNStreamReader(
        str(d / "*.log"), seek_to_end=False, max_bytes_per_batch=1 << 30
    )
    r.SPLIT_BYTES = 8192       # force the big file to split
    r.PACK_TARGET = 4 << 10    # tiny budget: several packs at test scale
    r.OPEN_COST = 64
    r.initialOffset()
    end = r.latestOffset()
    parts = r.partitions({}, end)
    fleets = [p for p in parts if isinstance(p, TailFleetPartition)]
    singles = [p for p in parts if isinstance(p, TailFilePartition)]
    # the 40 tiny files packed into FEWER tasks than files, > 1 pack
    n_packed = sum(len(p.ranges) for p in fleets)
    assert n_packed == 40
    assert 1 < len(fleets) < 40
    # the big file's splits each kept their own partition
    assert all(p.path == str(big) for p in singles)
    assert len(singles) > 1
    got: dict[str, list[str]] = {}
    for part in parts:
        for path, v in r.read(part):
            got.setdefault(path, []).append(v)
    assert got == expect  # exactly once, in order per file
