#!/usr/bin/env python
"""One A/B harness for engine variants: ``python tools/ab.py <set>``.

One Spark session.  Every variant first runs once UNTIMED (JVM and
Python-worker startup and codegen stay out of the numbers), and its
result must equal that of every other variant in its group.  Then the
variants run interleaved for N rounds, the cache cleared before each
sample, and each reports its min-of-N (the bench.py discipline).

Environment (each set has its own defaults, listed below):
  AB_RUNS             timed rounds
  AB_FACTOR           corpus scale factor over the source (1: unscaled)
  SPARK_GRAFT_SF_DIR  source corpus (default: the sf0.1 test tables)

Sets (runs, factor):
  fh             (3, 100) r17 posting-key narrowing for the audio and
                 video dedup engines: string fh vs injective long fh
  posting_dedup  (3, 100) r17 §10 in-stage posting dedup (per-doc
                 (doc_id, fh) dedup inside the Arrow decode stage)
                 vs raw emission + Spark ``.distinct()``
  mm             (3, 100) r16 modality stages of the unified curation
                 report: current vs persisted postings / pairs
  session        (5, 1)   events_session_30m: ``F.session_window`` vs a
                 gaps-and-islands window-function plan

fh and posting_dedup compare results by full-row checksum, mm by the
collected report rows, session by the sorted session rows.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd  # noqa: E402
from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from tailsql_spark.operators.multimodal import (  # noqa: E402
    AUDIO_DF_CAP,
    AUDIO_MIN_SHARED,
    VIDEO_DF_CAP,
    VIDEO_MIN_SHARED,
    _posting_minp,
    _unified_media_row,
    _video_band_postings_pdf,
    audio_fingerprint_frames,
    audio_near_groups,
    audio_posting_rows,
    audio_tokens,
    phash_hash_groups,
    posting_kept,
    posting_match_pairs,
    synth_media,
    unified_image_row,
    video_band_postings,
)
from tailsql_spark.plans.catalog import load_tables  # noqa: E402
from tailsql_spark.session import get_spark  # noqa: E402
from tools.scale_curve import build_scaled_corpus  # noqa: E402


def _media(spark, sf: str, kind: str):
    media = synth_media(spark, sf)
    return media.filter(F.col("media_type") == kind).select("doc_id", "payload")


# --- fh / posting_dedup: the audio and video near-dup engines ---------


def _audio_posting_rows_raw(audio, as_long: bool):
    """Raw audio frame emission (no in-stage dedup) + Spark distinct;
    ``as_long``: injective long fh keys, else the pre-r17 15-hex
    strings."""

    def fingerprint(batches):
        for pdf in batches:
            ids, fhs = [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                for fh in audio_fingerprint_frames(audio_tokens(bytes(payload))):
                    ids.append(doc_id)
                    fhs.append(int(fh, 16) if as_long else fh)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "fh": pd.Series(fhs, dtype="int64" if as_long else "object"),
                }
            )

    fh_type = "long" if as_long else "string"
    return audio.mapInPandas(fingerprint, schema=f"doc_id long, fh {fh_type}").distinct()


def _video_band_postings_raw(videos, as_long: bool):
    """Raw video band emission + Spark distinct (see the audio twin)."""

    def emit(batches):
        for pdf in batches:
            yield _video_band_postings_pdf(pdf, as_long=as_long)

    fh_type = "long" if as_long else "string"
    return videos.mapInPandas(emit, schema=f"doc_id long, fh {fh_type}").distinct()


def _near_dup_variants(spark, sf: str, old: str, new: str, as_long: bool):
    """The audio and video near-dup groups over the pre-change posting
    builders (``old``) and the current ones (``new``): each variant is
    timed as a noop write and compared by checksum."""
    audio, video = _media(spark, sf, "audio"), _media(spark, sf, "video")
    ids_a, ids_v = audio.select("doc_id"), video.select("doc_id")

    def run_audio(post):
        df = audio_near_groups(ids_a, post)
        df.write.format("noop").mode("overwrite").save()
        return df

    def run_video(post):
        df = audio_near_groups(
            ids_v, post, df_cap=VIDEO_DF_CAP, min_shared=VIDEO_MIN_SHARED
        )
        df.write.format("noop").mode("overwrite").save()
        return df

    return {
        "audio": {
            f"audio_{old}": lambda: run_audio(_audio_posting_rows_raw(audio, as_long)),
            f"audio_{new}": lambda: run_audio(audio_posting_rows(audio)),
        },
        "video": {
            f"video_{old}": lambda: run_video(_video_band_postings_raw(video, as_long)),
            f"video_{new}": lambda: run_video(video_band_postings(video)),
        },
    }


def _checksum(df):
    return tuple(
        df.agg(
            F.count("*"),
            F.sum(F.hash("doc_id", "n_frames", "n_matches",
                         "best_match_doc", "best_common")),
        ).collect()[0]
    )


def fh_variants(spark, sf: str):
    return _near_dup_variants(spark, sf, "string", "long", as_long=False)


def posting_dedup_variants(spark, sf: str):
    return _near_dup_variants(spark, sf, "distinct", "instage", as_long=True)


# --- mm: the unified curation report's modality stages ----------------


def _persisted(frame, use):
    """``use(frame)`` over the persisted frame, unpersisted after."""
    frame = frame.persist()
    try:
        return use(frame)
    finally:
        frame.unpersist()


def _min_partner(ids, sym):
    mn = sym.groupBy("id").agg(F.min("p").alias("minp"))
    return ids.join(mn, ids["doc_id"] == mn["id"], "left").select("doc_id", "minp")


def _minp_explode(ids, ff, df_cap, min_shared):
    pairs = posting_match_pairs(posting_kept(ff, df_cap), min_shared)
    return _min_partner(ids, pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("id_a").alias("id"), F.col("id_b").alias("p")),
                F.struct(F.col("id_b").alias("id"), F.col("id_a").alias("p")),
            )
        ).alias("s")
    ).select("s.id", "s.p"))


def _minp_union(ids, pairs):
    return _min_partner(ids, pairs.select(
        F.col("id_a").alias("id"), F.col("id_b").alias("p")
    ).unionByName(pairs.select(F.col("id_b").alias("id"), F.col("id_a").alias("p"))))


def mm_variants(spark, sf: str):
    audio, video = _media(spark, sf, "audio"), _media(spark, sf, "video")
    img = _media(spark, sf, "image")
    ids_a, ids_v = audio.select("doc_id"), video.select("doc_id")
    acap, ashared = AUDIO_DF_CAP, AUDIO_MIN_SHARED
    vcap, vshared = VIDEO_DF_CAP, VIDEO_MIN_SHARED

    def audio_row(flags):
        return _unified_media_row("audio", flags).collect()

    def video_row(flags):
        return _unified_media_row("video", flags).collect()

    def image_row(grp):
        return unified_image_row(grp).collect()

    def persisted_pairs(ff):
        pairs = posting_match_pairs(posting_kept(ff, acap), ashared)
        return _persisted(pairs, lambda p: audio_row(_minp_union(ids_a, p)))

    return {
        "audio": {
            "audio_current": lambda: audio_row(
                _posting_minp(ids_a, audio_posting_rows(audio), acap, ashared)
            ),
            "audio_persist": lambda: _persisted(
                audio_posting_rows(audio),
                lambda ff: audio_row(_posting_minp(ids_a, ff, acap, ashared)),
            ),
            "audio_persist_explode": lambda: _persisted(
                audio_posting_rows(audio),
                lambda ff: audio_row(_minp_explode(ids_a, ff, acap, ashared)),
            ),
            "audio_persist_pairs": lambda: _persisted(
                audio_posting_rows(audio), persisted_pairs
            ),
        },
        "video": {
            "video_current": lambda: video_row(
                _posting_minp(ids_v, video_band_postings(video), vcap, vshared)
            ),
            "video_persist": lambda: _persisted(
                video_band_postings(video),
                lambda vf: video_row(_posting_minp(ids_v, vf, vcap, vshared)),
            ),
        },
        "image": {
            "image_current": lambda: image_row(phash_hash_groups(img)),
            "image_persist": lambda: _persisted(phash_hash_groups(img), image_row),
        },
    }


# --- session: events_session_30m plans --------------------------------


def session_variants(spark, sf: str):
    def events():
        e = load_tables(spark, sf)["events"]
        return e.select("user_id", F.date_trunc("second", F.col("ts")).alias("ts_s"))

    def session_window():
        return (
            events()
            .groupBy("user_id", F.session_window("ts_s", "30 minutes").alias("sw"))
            .agg(F.count("*").alias("n_events"))
            .select(
                "user_id",
                F.col("sw.start").alias("session_start"),
                F.col("sw.end").alias("session_end"),
                "n_events",
            )
            .collect()
        )

    def gaps_islands():
        w = Window.partitionBy("user_id").orderBy("ts_s")
        gap = F.col("ts_s").cast("long") - F.lag("ts_s").over(w).cast("long")
        flagged = events().withColumn(
            "new_s",
            F.when(F.lag("ts_s").over(w).isNull() | (gap >= 1800), 1).otherwise(0),
        )
        return (
            flagged.withColumn("sid", F.sum("new_s").over(w))
            .groupBy("user_id", "sid")
            .agg(
                F.min("ts_s").alias("session_start"),
                (F.max("ts_s") + F.expr("INTERVAL 30 MINUTES")).alias("session_end"),
                F.count("*").alias("n_events"),
            )
            .select("user_id", "session_start", "session_end", "n_events")
            .collect()
        )

    return {"sessions": {"session_window": session_window, "gaps_islands": gaps_islands}}


#: set -> (variants builder, result -> comparable value, runs, factor)
SETS = {
    "fh": (fh_variants, _checksum, 3, 100),
    "posting_dedup": (posting_dedup_variants, _checksum, 3, 100),
    "mm": (mm_variants, lambda rows: rows, 3, 100),
    "session": (session_variants, sorted, 5, 1),
}


def main() -> None:
    if len(sys.argv) != 2 or sys.argv[1] not in SETS:
        sys.exit(f"usage: tools/ab.py {{{','.join(SETS)}}}")
    build, comparable, runs, factor = SETS[sys.argv[1]]
    runs = int(os.environ.get("AB_RUNS", runs))
    factor = int(os.environ.get("AB_FACTOR", factor))
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name=f"tailsql_ab_{sys.argv[1]}")
    spark.sparkContext.setLogLevel("ERROR")
    sf = build_scaled_corpus(spark, src, factor) if factor > 1 else src
    groups = build(spark, sf)

    # untimed warm-up + result equality within each group
    for group, variants in groups.items():
        got = {name: comparable(fn()) for name, fn in variants.items()}
        first = next(iter(got.values()))
        assert all(v == first for v in got.values()), f"{group} result drift: {got}"
        print(f"# {group}: {len(got)} variants equal", flush=True)

    variants = {n: fn for vs in groups.values() for n, fn in vs.items()}
    best = {name: float("inf") for name in variants}
    for r in range(runs):
        for name, fn in variants.items():
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            best[name] = min(best[name], dt)
            print(f"round {r} {name:24s} {dt:7.2f}s", flush=True)
    print(f"# {sys.argv[1]} factor={factor} min-of-{runs}")
    for name, sec in best.items():
        print(f"{name:24s} {sec:7.2f}s")


if __name__ == "__main__":
    main()
