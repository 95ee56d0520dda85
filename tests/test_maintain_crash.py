"""Deterministic kill-mid-fold crash test for ``curation_maintain``
(r17 — VERDICT r16 ask #3).

The r16 live soak lost serve ≡ batch at the checkpoint AFTER a
``kill -9`` of the maintenance daemon mid-fold (audio survivors
19 → 106), and its kill point was timing-based.  This test pins the
scenario deterministically at sf0.001: build the unified-curation
layout by draining the real stream, start the maintain daemon
(``tools/_curation_maintain_daemon.py``, the soak's exact subprocess),
wait for its flushed ``start`` marker, then SIGKILL the moment the
FIRST flat-family fold's ``base_v*`` directory appears on disk — i.e.
provably between the fold's first write and its atomic ``_meta.json``
commit (the versioned-fold crash window).  After the lease TTL, a
restarted ``curation_maintain`` must reclaim the dead holder's leases,
complete the fold, and the incremental serve must equal the batch
``corpus_unified_curation`` row-for-row, PER FAMILY.
"""

from __future__ import annotations

import glob
import json
import os
import signal
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SF_SMALL = "/root/testdata/sf0.001"
LEASE_TTL = "2"


def test_kill_mid_fold_serve_eq_batch_per_family(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("TAILSQL_LEASE_TTL_SEC", LEASE_TTL)
    from tailsql_spark.plans.registry import REGISTRY
    from tailsql_spark.plans.streaming_exec import (
        curation_maintain,
        stream_unified_curation,
    )

    root = str(tmp_path / "state")
    # 1. build the composed state the real way: drain the live stream
    stream_unified_curation(spark, SF_SMALL, root)

    # 2. daemon (the soak's subprocess), fast interval, short TTL
    env = dict(os.environ, TAILSQL_LEASE_TTL_SEC=LEASE_TTL)
    daemon = subprocess.Popen(
        [sys.executable, "tools/_curation_maintain_daemon.py", root, "0.5"],
        cwd=REPO,
        env=env,
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
    )
    events: list[dict] = []
    killed_mid_fold = False
    try:
        import threading

        def _pump():
            for line in daemon.stdout:
                try:
                    events.append(json.loads(line))
                except ValueError:
                    continue

        pump = threading.Thread(target=_pump, daemon=True)
        pump.start()

        # 3. deterministic kill point: the first flat family folded is
        # ``attrs`` (``curation_maintain``'s dict order); its
        # fold writes ``base_v*`` and only THEN commits ``_meta.json``
        # atomically.  The directory appears at parquet-write start, so
        # first sight of it is strictly inside the fold's crash window.
        t0 = time.time()
        while not glob.glob(f"{root}/attrs/base_v*") and time.time() - t0 < 300:
            time.sleep(0.01)
        assert glob.glob(f"{root}/attrs/base_v*"), "fold never started"
        daemon.send_signal(signal.SIGKILL)
        daemon.wait()
        starts = sum(1 for e in events if e["ev"] == "start")
        dones = sum(1 for e in events if e["ev"] in ("done", "error"))
        killed_mid_fold = starts > dones
    finally:
        if daemon.poll() is None:
            daemon.kill()
            daemon.wait()
    assert killed_mid_fold, f"kill landed outside a pass: {events}"

    # 4. age the dead holder's leases past the TTL, restart, complete
    time.sleep(float(LEASE_TTL) + 1)
    report = curation_maintain(spark, root, wait_ingest_sec=60.0)
    assert not report.get("tombstoned_in_live"), report

    # 5. serve ≡ batch, per family
    from tailsql_spark.plans.streaming_exec import _unified_curation_serve

    serve_rows = _unified_curation_serve(
        spark,
        spark.read.parquet(f"{root}/src"),
        f"{root}/attrs",
        f"{root}/labels",
        f"{root}/ph",
        f"{root}/fpa",
        f"{root}/fpv",
        edges_root=f"{root}/edges",
        del_root=f"{root}/del",
    ).collect()
    batch_rows = REGISTRY["corpus_unified_curation"].build(spark, SF_SMALL).collect()
    serve = {r[0]: tuple(r) for r in serve_rows}
    batch = {r[0]: tuple(r) for r in batch_rows}
    assert set(serve) == set(batch), (set(serve), set(batch))
    diff = {f: (serve[f], batch[f]) for f in batch if serve[f] != batch[f]}
    assert not diff, f"serve != batch after mid-fold kill + recovery: {diff}"
