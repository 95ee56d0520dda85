#!/usr/bin/env python
"""Cost of the composed curation maintenance job vs corpus scale
(r14 — the cron-affordability claim behind ``curation_maintain``).

Two numbers per scale, both over a streamed unified-curation state
carrying takedowns (doc_id % 13 == 5, the certified rule):

- ``t_maintain_sec``: the FULL pass — every flat family anti-join
  folded, both bucketed families del-aware re-folded, tombstone log
  compacted, vacuums, and the live-state purge invariant.  This is a
  compaction (one read+write of the live family set), so it should
  grow ~linearly with live state — the LSM bill, paid per maintenance
  window, not per batch.
- ``t_noop_sec``: the SECOND pass over the now-healthy state — the
  fast path the cron actually hits almost every tick.  This must stay
  ~FLAT across corpus scales (metadata reads only: one meta pointer +
  manifest/dir listing per family), or scheduling it frequently would
  be a tax.

Seeding runs the takedown processor itself over the whole corpus as
one giant 'I' batch plus one 'D' batch — byte-identical to streamed
accumulation; seeding cost is not what this measures.

Prints one JSON line {"factor": N, "rows": [{"scale", "seed_docs",
"dels", "t_maintain_sec", "t_noop_sec"}...]} plus a markdown table on
stderr.

Usage: python tools/maintain_cost.py [--factor 10] [--runs 2]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEL_MOD, DEL_RESIDUE = 13, 5


def seed_and_maintain(spark, docs_path: str, runs: int) -> dict:
    from pyspark.sql import functions as F

    from tailsql_spark.plans.streaming_exec import (
        _audio_fp_batch_processor,
        _cc_batch_processor,
        _curation_batch_processor,
        _mh_bucketed_seed,
        _minhash_bucketed_processor,
        _phash_batch_processor,
        _unified_batch_processor,
        _takedown_processor,
        _video_fp_batch_processor,
        curation_maintain,
    )

    docs = spark.read.parquet(docs_path).select(
        "doc_id", "lang", "text", "n_chars"
    )
    n_seed = docs.count()
    is_del = F.col("doc_id") % DEL_MOD == DEL_RESIDUE

    best_full, best_noop, n_dels = float("inf"), float("inf"), 0
    for _ in range(runs):
        root = tempfile.mkdtemp(prefix="tailsql_maintcost_")
        try:
            bands_root, ex_root, out_root = _mh_bucketed_seed(
                docs.select("doc_id", "text"), root
            )
            for sub, schema in (
                ("edges", "id_a long, id_b long"),
                ("labels", "doc_id long, cluster_id long"),
                ("attrs",
                 "doc_id long, lang string, fingerprint string, n_tokens long"),
                ("del", "doc_id long"),
                ("ph", "doc_id long, b0 long, b1 long, b2 long, b3 long"),
                ("fpa", "doc_id long, fh string"),
                ("fpv", "doc_id long, fh string"),
            ):
                spark.createDataFrame([], schema).write.mode("overwrite").parquet(
                    f"{root}/{sub}/seed"
                )
            del_root = f"{root}/del"
            process = _takedown_processor(
                _unified_batch_processor(
                    _curation_batch_processor(
                        _minhash_bucketed_processor(
                            bands_root, ex_root, out_root, del_root=del_root
                        ),
                        _cc_batch_processor(f"{root}/edges", f"{root}/labels"),
                        f"{root}/attrs",
                        out_root,
                    ),
                    _phash_batch_processor(f"{root}/ph"),
                    _audio_fp_batch_processor(f"{root}/fpa"),
                    _video_fp_batch_processor(f"{root}/fpv"),
                ),
                del_root,
            )
            t_seed0 = time.perf_counter()
            process(docs.withColumn("op", F.lit("I")), 0)
            process(docs.filter(is_del).withColumn("op", F.lit("D")), 1)
            t_seed = time.perf_counter() - t_seed0

            t0 = time.perf_counter()
            rep = curation_maintain(spark, root)
            t_full = time.perf_counter() - t0
            assert rep["noop"] is False and rep["tombstoned_in_live"] == 0, rep
            n_dels = rep["dels"]

            t0 = time.perf_counter()
            rep2 = curation_maintain(spark, root)
            t_noop = time.perf_counter() - t0
            assert rep2["noop"] is True, rep2

            best_full = min(best_full, t_full)
            best_noop = min(best_noop, t_noop)
            print(
                f"#   seed {t_seed:.1f}s; maintain {t_full:.2f}s; "
                f"noop {t_noop:.3f}s",
                file=sys.stderr,
            )
        finally:
            shutil.rmtree(root, ignore_errors=True)
    return {
        "seed_docs": n_seed,
        "dels": int(n_dels),
        "t_maintain_sec": round(best_full, 3),
        "t_noop_sec": round(best_noop, 3),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()

    src_1x = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from tailsql_spark.session import get_spark
    from tools.scale_curve import build_scaled_corpus

    spark = get_spark(app_name="tailsql_maintain_cost")
    spark.sparkContext.setLogLevel("ERROR")
    dest = build_scaled_corpus(spark, src_1x, args.factor)

    rows = []
    for label, path in (
        ("1x", f"{src_1x}/documents.parquet"),
        (f"{args.factor}x", f"{dest}/documents.parquet"),
    ):
        r = seed_and_maintain(spark, path, args.runs)
        r["scale"] = label
        rows.append(r)
        print(
            f"# {label}: {r['seed_docs']} docs, {r['dels']} dels → "
            f"maintain {r['t_maintain_sec']} s, noop {r['t_noop_sec']} s",
            file=sys.stderr,
        )

    print(json.dumps({"factor": args.factor, "runs": args.runs, "rows": rows}))
    print("\n| corpus | docs | dels | maintain sec | no-op sec |",
          file=sys.stderr)
    print("|---|---|---|---|---|", file=sys.stderr)
    for r in rows:
        print(
            f"| {r['scale']} | {r['seed_docs']} | {r['dels']} | "
            f"{r['t_maintain_sec']} | {r['t_noop_sec']} |",
            file=sys.stderr,
        )


if __name__ == "__main__":
    main()
