#!/usr/bin/env python
"""Per-stage scale audit of ``corpus_unified_curation`` (r15 — VERDICT
r14 ask #2: name the stage that turns ~6x/decade past 100k docs, then
fix it).

The composed query's 100x wall time (107 s in r14) is one number; this
tool splits it into the composition's seven stages and times each at
1x/10x/30x/100x of $SPARK_GRAFT_SF_DIR (default sf0.1, 5k docs — so
100x = 500k docs), materializing every stage to parquet so downstream
stages read the materialized result and each wall second is attributed
to exactly one stage:

  clean      corpus_clean_pipeline (quality gate + exact dedup)
  pairs      dedup_minhash_lsh (banded LSH candidate gen + verify)
  cc         connected_components over the pair set
  text_row   the text report row (broadcast labels into survivors)
  image      phash groups -> banded near pairs -> survivors
  audio      CDC postings -> df-capped pair gen -> survivors
  video      frame-sig band postings -> df-capped pair gen -> survivors

Prints a per-stage x per-factor table and writes
tools/measurements/r16_unified_phase_audit.json.

Usage: python tools/unified_phase_audit.py [--factors 1,10,30,100]
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


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factors", default="1,10,30,100")
    args = ap.parse_args()
    factors = [int(x) for x in args.factors.split(",")]

    from pyspark.sql import functions as F

    from tailsql_spark.operators.corpus import (
        corpus_clean_pipeline,
        unified_text_row,
    )
    from tailsql_spark.operators.dedup import _small_input, dedup_minhash_lsh
    from tailsql_spark.operators.graphs import connected_components
    from tailsql_spark.operators.multimodal import (
        AUDIO_DF_CAP,
        _big_corpus,
        AUDIO_MIN_SHARED,
        VIDEO_DF_CAP,
        VIDEO_MIN_SHARED,
        _posting_minp,
        _unified_media_row,
        audio_posting_rows,
        phash_hash_groups,
        synth_media,
        unified_image_row,
        video_band_postings,
    )
    from tailsql_spark.plans.catalog import load_tables
    from tailsql_spark.session import get_spark
    from tools.scale_curve import build_scaled_corpus

    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="tailsql_unified_phase_audit")
    spark.sparkContext.setLogLevel("ERROR")

    scratch = tempfile.mkdtemp(prefix="tailsql_phase_audit_")
    results: dict = {"src": src, "factors": {}}

    def timed(tag: str, factor: int, fn):
        spark.sparkContext.setJobGroup(f"{tag}@{factor}x", tag)
        t0 = time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t0
        spark.sparkContext.setJobGroup("", "")
        print(f"#   {tag:9s} {dt:8.2f}s", file=sys.stderr)
        return out, round(dt, 2)

    def mat(df, name: str, factor: int) -> str:
        p = f"{scratch}/{factor}x_{name}"
        df.write.mode("overwrite").parquet(p)
        return p

    try:
        # warmup: one untimed pass of the smallest factor so per-stage
        # whole-stage-codegen compilation and Python-worker startup are
        # out of the measured numbers (the bench.py discipline)
        measured = [factors[0], *factors]
        first = True
        for factor in measured:
            sf = src if factor == 1 else build_scaled_corpus(spark, src, factor)
            tag = " (warmup, untimed)" if first else ""
            print(f"# factor {factor}x ({sf}){tag}", file=sys.stderr)
            n_docs = load_tables(spark, sf)["documents"].count()
            phases: dict[str, float] = {}

            path, phases["clean"] = timed(
                "clean", factor,
                lambda: mat(corpus_clean_pipeline(spark, sf), "clean", factor),
            )
            cleaned = spark.read.parquet(path)
            path, phases["pairs"] = timed(
                "pairs", factor,
                lambda: mat(dedup_minhash_lsh(spark, sf), "pairs", factor),
            )
            pairs = spark.read.parquet(path)
            path, phases["cc"] = timed(
                "cc", factor,
                lambda: mat(connected_components(pairs), "cc", factor),
            )
            labels = spark.read.parquet(path)
            docs = load_tables(spark, sf)["documents"]
            _, phases["text_row"] = timed(
                "text_row", factor,
                lambda: unified_text_row(
                    cleaned, labels, docs, hint_broadcast=_small_input(sf)
                ).collect(),
            )
            media = synth_media(spark, sf)
            big = _big_corpus(sf)  # the registry queries' own size gate
            img = media.filter(F.col("media_type") == "image").select(
                "doc_id", "payload"
            )
            _, phases["image"] = timed(
                "image", factor,
                lambda: unified_image_row(
                    phash_hash_groups(img), persist_grp=big
                ).collect(),
            )
            audio = media.filter(F.col("media_type") == "audio").select(
                "doc_id", "payload"
            )
            _, phases["audio"] = timed(
                "audio", factor,
                lambda: _unified_media_row(
                    "audio",
                    _posting_minp(
                        audio.select("doc_id"), audio_posting_rows(audio),
                        AUDIO_DF_CAP, AUDIO_MIN_SHARED, persist_base=big,
                    ),
                ).collect(),
            )
            video = media.filter(F.col("media_type") == "video").select(
                "doc_id", "payload"
            )
            _, phases["video"] = timed(
                "video", factor,
                lambda: _unified_media_row(
                    "video",
                    _posting_minp(
                        video.select("doc_id"), video_band_postings(video),
                        VIDEO_DF_CAP, VIDEO_MIN_SHARED, persist_base=big,
                    ),
                ).collect(),
            )
            phases["total"] = round(sum(phases.values()), 2)
            if first:
                first = False
                continue
            results["factors"][str(factor)] = {"n_docs": n_docs, **phases}
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools", "measurements", "r17_unified_phase_audit.json",
    )
    with open(out_path, "w") as fh:
        json.dump(results, fh, indent=1)
    print(json.dumps(results))
    # markdown table on stderr
    keys = ["clean", "pairs", "cc", "text_row", "image", "audio", "video", "total"]
    print("\n| factor | n_docs | " + " | ".join(keys) + " |", file=sys.stderr)
    print("|---" * (len(keys) + 2) + "|", file=sys.stderr)
    for f_, row in results["factors"].items():
        print(
            f"| {f_}x | {row['n_docs']} | "
            + " | ".join(str(row[k]) for k in keys)
            + " |",
            file=sys.stderr,
        )


if __name__ == "__main__":
    main()
