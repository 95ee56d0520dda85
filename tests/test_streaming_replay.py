"""Micro-batch REPLAY safety for the incremental MinHash dedup.

Structured Streaming's foreachBatch contract is at-least-once: a batch
whose state writes completed but whose checkpoint commit didn't is
re-run on restart. The processor must therefore be idempotent — a
replay that double-appended shingles would silently corrupt every
later Jaccard denominator. These tests drive the processor directly
(no streaming engine) and replay every batch, then require the final
pair set to still equal the batch operator's answer.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F


def _pairs(df):
    return {(r.id_a, r.id_b, r.jaccard) for r in df.collect()}


def test_minhash_processor_replay_idempotent(spark, oracle_sf_dir):
    from tailsql_spark.operators.dedup import REGISTRY as _DEDUP
    from tailsql_spark.plans.catalog import load_tables
    from tailsql_spark.plans.streaming_exec import (
        _mh_seed_state,
        _flat_state_paths,
        _minhash_batch_processor,
    )

    docs = load_tables(spark, oracle_sf_dir)["documents"].select("doc_id", "text")
    half = docs.filter(F.col("doc_id") % 2 == 0)
    rest = docs.filter(F.col("doc_id") % 2 == 1)

    root = tempfile.mkdtemp(prefix="tailsql_replay_")
    try:
        ex_root, sig_root, out_root = _mh_seed_state(docs, root)
        process = _minhash_batch_processor(ex_root, sig_root, out_root)
        # every batch runs TWICE: original + simulated post-crash replay
        process(half, 0)
        process(half, 0)
        process(rest, 1)
        process(rest, 1)
        got = _pairs(spark.read.parquet(*_flat_state_paths(out_root)))
        want = _pairs(_DEDUP["dedup_minhash_lsh"].build(spark, oracle_sf_dir))
        assert got == want, (
            f"replayed incremental result diverged from batch: "
            f"extra={got - want}, missing={want - got}"
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_seeded_cc_equals_unseeded(spark):
    """Warm-start labels never change the fixpoint — only speed it up."""
    from tailsql_spark.operators.graphs import connected_components

    old = spark.createDataFrame([(1, 2), (4, 5)], "id_a long, id_b long")
    seed = connected_components(old)
    # new edge merges {1,2} with {4,5}; a fresh chain appears too
    merged = spark.createDataFrame(
        [(1, 2), (4, 5), (2, 4), (8, 9), (9, 10)], "id_a long, id_b long"
    )
    warm = {
        (r.doc_id, r.cluster_id)
        for r in connected_components(merged, seed_labels=seed).collect()
    }
    cold = {
        (r.doc_id, r.cluster_id) for r in connected_components(merged).collect()
    }
    assert warm == cold == {(1, 1), (2, 1), (4, 1), (5, 1), (8, 8), (9, 8), (10, 8)}


def test_cc_processor_replay_idempotent(spark):
    """Replaying a label-maintenance batch reproduces identical state."""
    from tailsql_spark.plans.streaming_exec import (
        _cc_batch_processor,
        _latest_snapshot_path,
    )

    root = tempfile.mkdtemp(prefix="tailsql_cc_replay_")
    try:
        edges_root, labels_root = f"{root}/edges", f"{root}/labels"
        empty = spark.createDataFrame([], "id_a long, id_b long")
        empty.write.mode("overwrite").parquet(f"{edges_root}/seed")
        spark.createDataFrame([], "doc_id long, cluster_id long").write.mode(
            "overwrite"
        ).parquet(f"{labels_root}/seed")
        process = _cc_batch_processor(edges_root, labels_root)

        b0 = spark.createDataFrame([(1, 2), (4, 5)], "id_a long, id_b long")
        b1 = spark.createDataFrame([(2, 4)], "id_a long, id_b long")
        process(b0, 0)
        process(b1, 1)
        after = {
            (r.doc_id, r.cluster_id)
            for r in spark.read.parquet(_latest_snapshot_path(labels_root, None)).collect()
        }
        process(b1, 1)  # replay: crash between state write and commit
        replayed = {
            (r.doc_id, r.cluster_id)
            for r in spark.read.parquet(_latest_snapshot_path(labels_root, None)).collect()
        }
        assert after == replayed == {(1, 1), (2, 1), (4, 1), (5, 1)}
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_cc_labels_path_numeric_ordering(tmp_path):
    """Batch ids must compare numerically — b100000 > b99999 even
    though it sorts first lexicographically."""
    import os

    from tailsql_spark.plans.streaming_exec import _latest_snapshot_path

    root = str(tmp_path)
    for d in ("seed", "b99999", "b100000"):
        os.makedirs(f"{root}/{d}")
    assert _latest_snapshot_path(root, None) == f"{root}/b100000"
    assert _latest_snapshot_path(root, 100000) == f"{root}/b99999"
    assert _latest_snapshot_path(root, 99999) == f"{root}/seed"


def test_ann_processor_replay_idempotent(spark, oracle_sf_dir):
    """Replaying an ANN top-k maintenance batch reproduces identical
    state, and incremental top-k over slices equals one-shot scoring."""
    from pyspark.sql import functions as F2

    from tailsql_spark.operators.similarity import (
        N_QUERIES,
        as_double,
        assign_cells,
        norm,
        seed_table,
    )
    from tailsql_spark.plans.catalog import load_tables
    from tailsql_spark.plans.streaming_exec import (
        _ann_batch_processor,
        _latest_snapshot_path,
    )

    emb = load_tables(spark, oracle_sf_dir)["embeddings"].select("vec_id", "embedding")
    root = tempfile.mkdtemp(prefix="tailsql_ann_replay_")
    try:
        vec = emb.select("vec_id", as_double(F2.col("embedding")).alias("v")).withColumn(
            "nrm", norm(F2.col("v"))
        )
        seeds = seed_table(vec)
        seeds.write.mode("overwrite").parquet(f"{root}/seeds")
        queries = assign_cells(vec.filter(F2.col("vec_id") < N_QUERIES), seeds).select(
            F2.col("vec_id").alias("query_id"),
            F2.col("cell").alias("qcell"),
            F2.col("v").alias("qv"),
            F2.col("nrm").alias("qn"),
        )
        queries.write.mode("overwrite").parquet(f"{root}/queries")
        topk_root = f"{root}/topk"
        spark.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rnk long"
        ).write.mode("overwrite").parquet(f"{topk_root}/seed")

        process = _ann_batch_processor(topk_root, f"{root}/queries", f"{root}/seeds")
        b0 = emb.filter(F2.col("vec_id") % 2 == 0)
        b1 = emb.filter(F2.col("vec_id") % 2 == 1)
        process(b0, 0)
        process(b1, 1)
        after = {
            tuple(r)
            for r in spark.read.parquet(_latest_snapshot_path(topk_root, None)).collect()
        }
        process(b1, 1)  # replay
        replayed = {
            tuple(r)
            for r in spark.read.parquet(_latest_snapshot_path(topk_root, None)).collect()
        }
        assert after == replayed and after
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_snapshot_pruning_keeps_replay_window(spark):
    """After batch k commits, snapshots <= k-2 are pruned (replay of k
    only needs k-1), bounding state at two snapshots + seed."""
    import os

    from tailsql_spark.plans.streaming_exec import (
        _cc_batch_processor,
        _latest_snapshot_path,
    )

    root = tempfile.mkdtemp(prefix="tailsql_cc_prune_")
    try:
        edges_root, labels_root = f"{root}/edges", f"{root}/labels"
        spark.createDataFrame([], "id_a long, id_b long").write.mode(
            "overwrite"
        ).parquet(f"{edges_root}/seed")
        spark.createDataFrame([], "doc_id long, cluster_id long").write.mode(
            "overwrite"
        ).parquet(f"{labels_root}/seed")
        process = _cc_batch_processor(edges_root, labels_root)
        process(spark.createDataFrame([(1, 2)], "id_a long, id_b long"), 0)
        process(spark.createDataFrame([(2, 3)], "id_a long, id_b long"), 1)
        process(spark.createDataFrame([(7, 8)], "id_a long, id_b long"), 2)
        snaps = sorted(d for d in os.listdir(labels_root) if d.startswith("b"))
        assert snaps == ["b00001", "b00002"], snaps
        assert _latest_snapshot_path(labels_root, None).endswith("b00002")
        got = {
            (r.doc_id, r.cluster_id)
            for r in spark.read.parquet(_latest_snapshot_path(labels_root, None)).collect()
        }
        assert got == {(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)}
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_contam_processor_replay_idempotent(spark, oracle_sf_dir):
    """Replaying a decontamination batch reproduces identical state:
    first-appearance gram logic must not double-count under replay."""
    from pyspark.sql import functions as F2

    from tailsql_spark.operators.textstats import REGISTRY as _TEXT
    from tailsql_spark.plans.catalog import load_tables
    from tailsql_spark.plans.streaming_exec import (
        _contam_batch_processor,
        _doc_5grams,
        _flat_state_paths,
    )

    docs = load_tables(spark, oracle_sf_dir)["documents"]
    is_test = (
        F2.substring(F2.md5(F2.col("doc_id").cast("string").cast("binary")), 1, 2)
        < "1a"
    )
    docs = docs.select("doc_id", "text", is_test.alias("is_test"))
    test_docs = docs.filter(F2.col("is_test")).select("doc_id", "text")
    train = docs.filter(~F2.col("is_test")).select("doc_id", "text")

    root = tempfile.mkdtemp(prefix="tailsql_contam_replay_")
    try:
        test_grams = _doc_5grams(test_docs)
        test_grams.write.mode("overwrite").parquet(f"{root}/test_grams")
        test_grams.select("g").limit(0).write.mode("overwrite").parquet(
            f"{root}/train/seed"
        )
        test_grams.limit(0).write.mode("overwrite").parquet(f"{root}/hits/seed")
        process = _contam_batch_processor(
            f"{root}/train", f"{root}/hits", f"{root}/test_grams"
        )
        b0 = train.filter(F2.col("doc_id") % 2 == 0)
        b1 = train.filter(F2.col("doc_id") % 2 == 1)
        # every batch runs twice: original + simulated post-crash replay
        process(b0, 0)
        process(b0, 0)
        process(b1, 1)
        process(b1, 1)
        hits = spark.read.parquet(*_flat_state_paths(f"{root}/hits"))
        got = (
            hits.groupBy("doc_id")
            .agg(F2.count("*").alias("n_hit"))
            .collect()
        )
        got = {(r.doc_id, r.n_hit) for r in got}
        want = {
            (r.doc_id, r.n_hit)
            for r in _TEXT["text_contamination_overlap"]
            .build(spark, oracle_sf_dir)
            .filter(F2.col("n_hit") > 0)
            .select("doc_id", "n_hit")
            .collect()
        }
        assert got == want
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _kill_then_resume(start_query, state_watch_root: str):
    """Start the stream, kill it as soon as the FIRST batch's state dir
    lands (a later batch is then likely mid-flight — exactly the
    crash window the checkpoint protects), then restart from the same
    checkpoint and run to completion."""
    import os
    import time

    from tailsql_spark.plans.streaming_exec import _await_or_raise

    q = start_query()
    deadline = time.time() + 120
    while time.time() < deadline and not any(
        d.startswith("b") for d in os.listdir(state_watch_root)
    ):
        time.sleep(0.05)
    q.stop()  # kill — possibly between a state write and its commit
    q2 = start_query()
    try:
        _await_or_raise(q2, "kill-and-resume")
    finally:
        q2.stop()


def test_minhash_stream_kill_and_resume(spark, oracle_sf_dir):
    """Kill the incremental MinHash stream mid-run, resume from the
    checkpoint: the final pair set must be identical to an
    uninterrupted run (== the batch operator) — exactly-once
    maintenance across a restart, through the real streaming engine."""
    from tailsql_spark.operators.dedup import REGISTRY as _DEDUP
    from tailsql_spark.plans.catalog import load_tables
    from tailsql_spark.plans.streaming_exec import (
        _mh_seed_state,
        _flat_state_paths,
        _minhash_batch_processor,
    )

    docs = load_tables(spark, oracle_sf_dir)["documents"].select("doc_id", "text")
    src = tempfile.mkdtemp(prefix="tailsql_kr_mh_src_")
    root = tempfile.mkdtemp(prefix="tailsql_kr_mh_state_")
    try:
        docs.repartition(4).write.mode("overwrite").parquet(src)
        ex_root, sig_root, out_root = _mh_seed_state(docs, root)
        process = _minhash_batch_processor(ex_root, sig_root, out_root)

        def start():
            stream = (
                spark.readStream.schema(docs.schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(src)
            )
            return (
                stream.writeStream.foreachBatch(process)
                .option("checkpointLocation", f"{root}/ckpt")
                .trigger(availableNow=True)
                .start()
            )

        _kill_then_resume(start, out_root)
        got = _pairs(spark.read.parquet(*_flat_state_paths(out_root)))
        want = _pairs(_DEDUP["dedup_minhash_lsh"].build(spark, oracle_sf_dir))
        assert got == want, (
            f"resumed state diverged: extra={got - want}, missing={want - got}"
        )
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(root, ignore_errors=True)


def test_ann_stream_kill_and_resume(spark, oracle_sf_dir):
    """Kill the incremental ANN top-k stream mid-run, resume from the
    checkpoint: the final top-k snapshot must equal the batch
    ann_ivf_topk result exactly."""
    from pyspark.sql import functions as F2

    from tailsql_spark.operators.similarity import (
        N_QUERIES,
        REGISTRY as _SIM,
        as_double,
        assign_cells,
        norm,
        seed_table,
    )
    from tailsql_spark.plans.catalog import load_tables
    from tailsql_spark.plans.streaming_exec import (
        _ann_batch_processor,
        _latest_snapshot_path,
    )

    emb = load_tables(spark, oracle_sf_dir)["embeddings"].select("vec_id", "embedding")
    src = tempfile.mkdtemp(prefix="tailsql_kr_ann_src_")
    root = tempfile.mkdtemp(prefix="tailsql_kr_ann_state_")
    try:
        vec = emb.select("vec_id", as_double(F2.col("embedding")).alias("v")).withColumn(
            "nrm", norm(F2.col("v"))
        )
        seeds = seed_table(vec)
        seeds.write.mode("overwrite").parquet(f"{root}/seeds")
        assign_cells(vec.filter(F2.col("vec_id") < N_QUERIES), seeds).select(
            F2.col("vec_id").alias("query_id"),
            F2.col("cell").alias("qcell"),
            F2.col("v").alias("qv"),
            F2.col("nrm").alias("qn"),
        ).write.mode("overwrite").parquet(f"{root}/queries")
        topk_root = f"{root}/topk"
        spark.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rnk long"
        ).write.mode("overwrite").parquet(f"{topk_root}/seed")
        emb.repartition(4).write.mode("overwrite").parquet(src)
        process = _ann_batch_processor(topk_root, f"{root}/queries", f"{root}/seeds")

        def start():
            stream = (
                spark.readStream.schema(emb.schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(src)
            )
            return (
                stream.writeStream.foreachBatch(process)
                .option("checkpointLocation", f"{root}/ckpt")
                .trigger(availableNow=True)
                .start()
            )

        _kill_then_resume(start, topk_root)
        got = {
            tuple(r)
            for r in spark.read.parquet(_latest_snapshot_path(topk_root, None))
            .select("query_id", "neighbor_id", "cosine", "rnk")
            .collect()
        }
        want = {
            tuple(r) for r in _SIM["ann_ivf_topk"].build(spark, oracle_sf_dir).collect()
        }
        assert got == want and got
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(root, ignore_errors=True)


def test_semdedup_processor_replay_idempotent(spark, oracle_sf_dir):
    """Replaying a semantic-dedup batch reproduces identical state, and
    the incremental min-fold over slices equals batch dedup_semantic —
    including retro-pruning (a small id arriving after a larger one)."""
    from pyspark.sql import functions as F2

    from tailsql_spark.operators.mlprep import lloyd_loop
    from tailsql_spark.operators.similarity import REGISTRY as _SIM
    from tailsql_spark.plans.catalog import load_tables
    from tailsql_spark.plans.streaming_exec import (
        _latest_snapshot_path,
        _semdedup_batch_processor,
    )

    emb = load_tables(spark, oracle_sf_dir)["embeddings"].select("vec_id", "embedding")
    root = tempfile.mkdtemp(prefix="tailsql_semdedup_replay_")
    try:
        _, cent = lloyd_loop(spark, oracle_sf_dir)
        cent.write.mode("overwrite").parquet(f"{root}/centroids")
        spark.createDataFrame(
            [], "vec_id long, cell long, v array<double>, nrm double"
        ).write.mode("overwrite").parquet(f"{root}/members/seed")
        spark.createDataFrame(
            [], "vec_id long, cell long, pruned_by long"
        ).write.mode("overwrite").parquet(f"{root}/snap/seed")
        process = _semdedup_batch_processor(
            f"{root}/members", f"{root}/snap", f"{root}/centroids"
        )
        # ODD ids first: every even id (including the small ones) arrives
        # SECOND, exercising the retro-prune path where a late small id
        # must overwrite earlier larger ids' pruned_by
        b0 = emb.filter(F2.col("vec_id") % 2 == 1)
        b1 = emb.filter(F2.col("vec_id") % 2 == 0)
        process(b0, 0)
        process(b0, 0)  # replay
        process(b1, 1)
        process(b1, 1)  # replay
        got = {
            tuple(r)
            for r in spark.read.parquet(_latest_snapshot_path(f"{root}/snap", None))
            .select(
                "vec_id",
                "cell",
                F2.col("pruned_by").isNull().alias("is_kept"),
                "pruned_by",
            )
            .collect()
        }
        want = {
            tuple(r) for r in _SIM["dedup_semantic"].build(spark, oracle_sf_dir).collect()
        }
        assert got == want, (
            f"extra={list(got - want)[:3]}, missing={list(want - got)[:3]}"
        )
        assert any(not r[2] for r in got), "no vector was ever pruned"
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_substr_processor_replay_idempotent(spark, oracle_sf_dir):
    """Replaying a substring-dedup batch reproduces identical state:
    the crossed-count-2 logic must not double-flag grams (a replayed
    batch whose grams matched history would otherwise re-emit them),
    and a gram split across batches must still be flagged exactly
    once. Batches replayed out of a crash simulation, final spans
    compared to the batch operator."""
    from pyspark.sql import functions as F2

    from tailsql_spark.operators.dedup import (
        REGISTRY as _DEDUP,
        doc_pos_grams,
        spans_from_flagged,
    )
    from tailsql_spark.plans.catalog import load_tables
    from tailsql_spark.plans.streaming_exec import (
        _flat_state_paths,
        _substr_batch_processor,
    )

    docs = load_tables(spark, oracle_sf_dir)["documents"].select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="tailsql_substr_replay_")
    try:
        empty_pg = doc_pos_grams(docs.limit(0))
        for sub, df in (("pos", empty_pg), ("dup", empty_pg.select("g")),
                        ("pending", empty_pg.select("g"))):
            df.write.mode("overwrite").parquet(f"{root}/{sub}/seed")
        process = _substr_batch_processor(
            f"{root}/pos", f"{root}/dup", f"{root}/pending"
        )
        b0 = docs.filter(F2.col("doc_id") % 2 == 0)
        b1 = docs.filter(F2.col("doc_id") % 2 == 1)
        # every batch runs twice: original + simulated post-crash replay
        process(b0, 0)
        process(b0, 0)
        process(b1, 1)
        process(b1, 1)
        dup = spark.read.parquet(*_flat_state_paths(f"{root}/dup")).select("g")
        pos = spark.read.parquet(*_flat_state_paths(f"{root}/pos"))
        got = sorted(
            spans_from_flagged(pos.join(dup, "g").select("doc_id", "pos")).collect()
        )
        want = sorted(_DEDUP["dedup_substring_spans"].build(spark, oracle_sf_dir).collect())
        assert got == want
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_curation_processor_replay_idempotent(spark, oracle_sf_dir):
    """The composed curation processor (minhash pairs + CC labels +
    quality-attr log) must be replay-idempotent as a WHOLE: every
    batch runs twice (simulated crash between state write and
    checkpoint commit), and the final per-(lang, split) budgets must
    equal the batch corpus_curation_survivors."""
    from pyspark.sql import functions as F2

    from tailsql_spark.plans.catalog import load_tables
    from tailsql_spark.plans.registry import REGISTRY
    from tailsql_spark.plans.streaming_exec import (
        _cc_batch_processor,
        _curation_batch_processor,
        _latest_snapshot_path,
        _mh_seed_state,
        _flat_state_paths,
        _minhash_batch_processor,
    )

    docs = load_tables(spark, oracle_sf_dir)["documents"].select(
        "doc_id", "lang", "text", "n_chars"
    )
    root = tempfile.mkdtemp(prefix="tailsql_curation_replay_")
    try:
        ex_root, sig_root, out_root = _mh_seed_state(
            docs.select("doc_id", "text"), root
        )
        edges_root, labels_root, attrs_root = (
            f"{root}/edges", f"{root}/labels", f"{root}/attrs",
        )
        spark.createDataFrame([], "id_a long, id_b long").write.mode(
            "overwrite"
        ).parquet(f"{edges_root}/seed")
        spark.createDataFrame([], "doc_id long, cluster_id long").write.mode(
            "overwrite"
        ).parquet(f"{labels_root}/seed")
        spark.createDataFrame(
            [], "doc_id long, lang string, fingerprint string, n_tokens long"
        ).write.mode("overwrite").parquet(f"{attrs_root}/seed")
        process = _curation_batch_processor(
            _minhash_batch_processor(ex_root, sig_root, out_root),
            _cc_batch_processor(edges_root, labels_root),
            attrs_root,
            out_root,
        )
        b0 = docs.filter(F2.col("doc_id") % 2 == 0)
        b1 = docs.filter(F2.col("doc_id") % 2 == 1)
        process(b0, 0)
        process(b0, 0)  # replay
        process(b1, 1)
        process(b1, 1)  # replay

        from tailsql_spark.operators.corpus import clean_keep_attrs, survivor_budgets

        attrs = spark.read.parquet(*_flat_state_paths(attrs_root))
        cleaned = clean_keep_attrs(attrs)
        labels = spark.read.parquet(_latest_snapshot_path(labels_root, None))
        got = sorted(
            map(tuple, survivor_budgets(cleaned, labels, hint_broadcast=True).collect())
        )
        want = sorted(
            map(
                tuple,
                REGISTRY["corpus_curation_survivors"]
                .build(spark, oracle_sf_dir)
                .collect(),
            )
        )
        assert got == want
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_unified_curation_processor_replay_idempotent(spark, oracle_sf_dir):
    """The r11 corpus-wide composition (text DAG states + all three
    modality state logs under one batch id) must be replay-idempotent
    as a WHOLE: every batch runs twice, and the served four-row report
    must equal the batch corpus_unified_curation."""
    from pyspark.sql import functions as F2

    from tailsql_spark.plans.catalog import load_tables
    from tailsql_spark.plans.registry import REGISTRY
    from tailsql_spark.plans.streaming_exec import (
        _audio_fp_batch_processor,
        _cc_batch_processor,
        _curation_batch_processor,
        _mh_bucketed_seed,
        _minhash_bucketed_processor,
        _phash_batch_processor,
        _unified_batch_processor,
        _unified_curation_serve,
        _video_fp_batch_processor,
    )

    docs = load_tables(spark, oracle_sf_dir)["documents"].select(
        "doc_id", "lang", "text", "n_chars"
    )
    root = tempfile.mkdtemp(prefix="tailsql_unicur_replay_")
    try:
        bands_root, ex_root, out_root = _mh_bucketed_seed(
            docs.select("doc_id", "text"), root
        )
        edges_root, labels_root, attrs_root = (
            f"{root}/edges", f"{root}/labels", f"{root}/attrs",
        )
        ph_root, fpa_root, fpv_root = f"{root}/ph", f"{root}/fpa", f"{root}/fpv"
        spark.createDataFrame([], "id_a long, id_b long").write.mode(
            "overwrite"
        ).parquet(f"{edges_root}/seed")
        spark.createDataFrame([], "doc_id long, cluster_id long").write.mode(
            "overwrite"
        ).parquet(f"{labels_root}/seed")
        spark.createDataFrame(
            [], "doc_id long, lang string, fingerprint string, n_tokens long"
        ).write.mode("overwrite").parquet(f"{attrs_root}/seed")
        spark.createDataFrame(
            [], "doc_id long, b0 long, b1 long, b2 long, b3 long"
        ).write.mode("overwrite").parquet(f"{ph_root}/seed")
        for r in (fpa_root, fpv_root):
            spark.createDataFrame([], "doc_id long, fh string").write.mode(
                "overwrite"
            ).parquet(f"{r}/seed")
        process = _unified_batch_processor(
            _curation_batch_processor(
                _minhash_bucketed_processor(bands_root, ex_root, out_root),
                _cc_batch_processor(edges_root, labels_root),
                attrs_root,
                out_root,
            ),
            _phash_batch_processor(ph_root),
            _audio_fp_batch_processor(fpa_root),
            _video_fp_batch_processor(fpv_root),
        )
        b0 = docs.filter(F2.col("doc_id") % 2 == 0)
        b1 = docs.filter(F2.col("doc_id") % 2 == 1)
        process(b0, 0)
        process(b0, 0)  # replay
        process(b1, 1)
        process(b1, 1)  # replay
        got = sorted(
            map(
                tuple,
                _unified_curation_serve(
                    spark, docs, attrs_root, labels_root, ph_root, fpa_root, fpv_root
                ).collect(),
            )
        )
        want = sorted(
            map(
                tuple,
                REGISTRY["corpus_unified_curation"]
                .build(spark, oracle_sf_dir)
                .collect(),
            )
        )
        assert got == want
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_minhash_shared_root_continues_across_runs(spark, oracle_sf_dir, tmp_path):
    """The production incremental mode the r7 state_root parameter
    exists for: run the stream over an initial corpus slice against a
    SHARED state root, then — in a completely separate invocation
    reusing the same root — land new data and run again.  The second
    run must resume the checkpoint (only the new files process), probe
    the new docs against the PERSISTED index, and end with the pair set
    equal to the batch operator over the full corpus."""
    import os

    from tailsql_spark.operators.dedup import REGISTRY as _DEDUP
    from tailsql_spark.plans.catalog import load_tables
    from tailsql_spark.plans.streaming_exec import (
        _await_or_raise,
        _mh_seed_state,
        _flat_state_paths,
        _minhash_batch_processor,
    )

    docs = load_tables(spark, oracle_sf_dir)["documents"].select("doc_id", "text")
    half = docs.filter(F.col("doc_id") % 2 == 0)
    rest = docs.filter(F.col("doc_id") % 2 == 1)

    root = str(tmp_path / "shared_state")
    src = f"{root}/src"  # source lives under the root: one pipeline, one tree
    ex_root, sig_root, out_root = _mh_seed_state(docs, root)
    process = _minhash_batch_processor(ex_root, sig_root, out_root)

    def run_once():
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(process)
            .option("checkpointLocation", f"{root}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        try:
            _await_or_raise(q, "shared-root minhash run")
        finally:
            q.stop()

    half.repartition(2).write.mode("append").parquet(src)
    run_once()
    n_batches_first = sum(d.startswith("b") for d in os.listdir(sig_root))
    first = _pairs(spark.read.parquet(*_flat_state_paths(out_root)))

    rest.repartition(2).write.mode("append").parquet(src)
    run_once()
    n_batches_second = sum(d.startswith("b") for d in os.listdir(sig_root))

    got = _pairs(spark.read.parquet(*_flat_state_paths(out_root)))
    want = _pairs(_DEDUP["dedup_minhash_lsh"].build(spark, oracle_sf_dir))
    assert got == want, f"extra={got - want}, missing={want - got}"
    # the second invocation RESUMED: new batch dirs appended, the first
    # run's emissions preserved verbatim
    assert n_batches_second > n_batches_first > 0
    assert first <= got


def test_bm25_index_shared_root_continues_across_runs(spark, oracle_sf_dir, tmp_path):
    """Production continuation for the incrementally-maintained BM25
    serving index: run the stream over an initial corpus slice against
    a SHARED state root, then — in a separate invocation reusing the
    same root — land new files and run again.  The second run must
    resume the checkpoint (only new files process, delta dirs append),
    and the bucket-pruned serve over the continued index must equal the
    batch text_bm25_topk over the full corpus — the 'index never goes
    stale between rebuilds and never pays one' claim, exercised across
    runs."""
    import os

    from tailsql_spark.operators.textstats import REGISTRY as _TEXT
    from tailsql_spark.plans.catalog import load_tables
    from tailsql_spark.plans.streaming_exec import (
        _await_or_raise,
        _bm25_index_processor,
        _bm25_index_seed,
        _bm25_index_serve,
    )

    docs = load_tables(spark, oracle_sf_dir)["documents"].select("doc_id", "text")
    half = docs.filter(F.col("doc_id") % 2 == 0)
    rest = docs.filter(F.col("doc_id") % 2 == 1)

    root = str(tmp_path / "shared_bm25idx")
    src = f"{root}/src"
    post_root, stat_root, _del_root = _bm25_index_seed(spark, root)
    process = _bm25_index_processor(post_root, stat_root)

    def run_once():
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(process)
            .option("checkpointLocation", f"{root}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        try:
            _await_or_raise(q, "shared-root bm25-index run")
        finally:
            q.stop()

    half.repartition(2).write.mode("append").parquet(src)
    run_once()
    n_batches_first = sum(d.startswith("b") for d in os.listdir(post_root))
    rest.repartition(2).write.mode("append").parquet(src)
    run_once()
    n_batches_second = sum(d.startswith("b") for d in os.listdir(post_root))
    assert n_batches_second > n_batches_first > 0

    got = {tuple(r) for r in _bm25_index_serve(spark, post_root, stat_root).collect()}
    want = {
        tuple(r) for r in _TEXT["text_bm25_topk"].build(spark, oracle_sf_dir).collect()
    }
    assert got == want, f"extra={got - want}, missing={want - got}"


def test_bucketed_processor_replay_idempotent(spark, oracle_sf_dir):
    """The bucketed-state processor keeps the flat processor's
    exactly-once contract: every batch replayed post-"crash", final
    pair set still equals the batch operator."""
    from tailsql_spark.operators.dedup import REGISTRY as _DEDUP
    from tailsql_spark.plans.catalog import load_tables
    from tailsql_spark.plans.streaming_exec import (
        _mh_bucketed_seed,
        _flat_state_paths,
        _minhash_bucketed_processor,
    )

    docs = load_tables(spark, oracle_sf_dir)["documents"].select("doc_id", "text")
    half = docs.filter(F.col("doc_id") % 2 == 0)
    rest = docs.filter(F.col("doc_id") % 2 == 1)

    root = tempfile.mkdtemp(prefix="tailsql_breplay_")
    try:
        bands_root, ex_root, out_root = _mh_bucketed_seed(docs, root)
        process = _minhash_bucketed_processor(bands_root, ex_root, out_root)
        process(half, 0)
        process(half, 0)
        process(rest, 1)
        process(rest, 1)
        got = _pairs(spark.read.parquet(*_flat_state_paths(out_root)))
        want = _pairs(_DEDUP["dedup_minhash_lsh"].build(spark, oracle_sf_dir))
        assert got == want, (
            f"replayed bucketed result diverged from batch: "
            f"extra={got - want}, missing={want - got}"
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_bucketed_rebucket_dial_mid_stream(spark, oracle_sf_dir, monkeypatch):
    """The r10 bucket-count dial, forced to fire mid-stream: with a
    tiny rows/bucket target, batch 1 starts by folding batch 0's
    committed state into a consolidated base at a bigger bucket count
    under a new manifest version (atomic meta commit); the folded
    history + the fold-excluded in-flight batch still prune correctly
    (mixed-nb manifest), a post-fold replay stays idempotent, and the
    final pair set equals the batch operator."""
    import tailsql_spark.plans.streaming_exec as SE
    from tailsql_spark.operators.dedup import REGISTRY as _DEDUP
    from tailsql_spark.plans.catalog import load_tables
    from tailsql_spark.plans.streaming_exec import (
        N_STATE_BUCKETS,
        _mh_bucketed_seed,
        _flat_state_paths,
        _minhash_bucketed_processor,
        _state_meta_read,
    )

    monkeypatch.setattr(SE, "STATE_ROWS_PER_BUCKET", 8)
    docs = load_tables(spark, oracle_sf_dir)["documents"].select("doc_id", "text")
    half = docs.filter(F.col("doc_id") % 2 == 0)
    rest = docs.filter(F.col("doc_id") % 2 == 1)

    root = tempfile.mkdtemp(prefix="tailsql_bdial_")
    try:
        bands_root, ex_root, out_root = _mh_bucketed_seed(docs, root)
        process = _minhash_bucketed_processor(bands_root, ex_root, out_root)
        process(half, 0)
        process(rest, 1)   # triggers the fold of batch 0's state first
        meta_b = _state_meta_read(bands_root)
        meta_x = _state_meta_read(ex_root)
        assert meta_b["version"] >= 1 and meta_x["version"] >= 1, (meta_b, meta_x)
        assert meta_b["nb"] > N_STATE_BUCKETS and meta_x["nb"] > N_STATE_BUCKETS
        process(rest, 1)   # replay AFTER the fold committed: any refold
        #                    excludes the replaying bid and the delta
        #                    re-append lands in the current version
        assert _state_meta_read(bands_root)["version"] >= meta_b["version"]
        got = _pairs(spark.read.parquet(*_flat_state_paths(out_root)))
        want = _pairs(_DEDUP["dedup_minhash_lsh"].build(spark, oracle_sf_dir))
        assert got == want, (
            f"dialed bucketed result diverged from batch: "
            f"extra={got - want}, missing={want - got}"
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_rebucket_crash_before_commit_invisible_then_vacuum(
    spark, oracle_sf_dir, monkeypatch
):
    """The fold's two crash/GC properties: (1) a re-bucket that wrote
    its base + versioned manifest but CRASHED before the atomic meta
    rename is invisible — the next batch's trigger refolds over the
    same paths idempotently and the final pair set still equals the
    batch operator; (2) expire_state_versions (offline VACUUM) deletes
    exactly the dirs the current manifest no longer references, and the
    surviving state reads back unchanged."""
    import os

    import tailsql_spark.plans.streaming_exec as SE
    from pyspark.sql import functions as SF
    from tailsql_spark.operators.dedup import REGISTRY as _DEDUP
    from tailsql_spark.plans.catalog import load_tables

    monkeypatch.setattr(SE, "STATE_ROWS_PER_BUCKET", 8)
    docs = load_tables(spark, oracle_sf_dir)["documents"].select("doc_id", "text")
    half = docs.filter(F.col("doc_id") % 2 == 0)
    rest = docs.filter(F.col("doc_id") % 2 == 1)

    root = tempfile.mkdtemp(prefix="tailsql_bcrash_")
    try:
        bands_root, ex_root, out_root = SE._mh_bucketed_seed(docs, root)
        process = SE._minhash_bucketed_processor(bands_root, ex_root, out_root)
        process(half, 0)
        # simulate the crash: run the fold for batch 1 but suppress the
        # meta rename (the commit) — base_v1 + _manifest_v1 exist, the
        # pointer still says version 0
        real_write = SE._state_meta_write
        monkeypatch.setattr(SE, "_state_meta_write", lambda r, m: None)
        SE._rebucket_family(
            spark, bands_root, "bb", SF.xxhash64("band_hash"), 1,
            SE._state_meta_read(bands_root),
        )
        monkeypatch.setattr(SE, "_state_meta_write", real_write)
        assert os.path.isdir(f"{bands_root}/base_v1")
        assert SE._state_meta_read(bands_root)["version"] == 0  # uncommitted
        # the next batch refolds idempotently over the same version
        process(rest, 1)
        assert SE._state_meta_read(bands_root)["version"] >= 1
        got = _pairs(spark.read.parquet(*SE._flat_state_paths(out_root)))
        want = _pairs(_DEDUP["dedup_minhash_lsh"].build(spark, oracle_sf_dir))
        assert got == want, f"extra={got - want}, missing={want - got}"

        # offline VACUUM: superseded versions go, referenced state stays
        def family_rows(family_root):
            meta = SE._state_meta_read(family_root)
            man = spark.read.option("recursiveFileLookup", "true").parquet(
                SE._manifest_dir(family_root, int(meta["version"]))
            )
            paths = [r.path for r in man.select("path").distinct().collect()]
            return spark.read.parquet(f"{family_root}/seed", *paths).count()

        before_b, before_x = family_rows(bands_root), family_rows(ex_root)
        del_b = SE.expire_state_versions(spark, bands_root)
        del_x = SE.expire_state_versions(spark, ex_root)
        assert any("_manifest" in d for d in del_b), del_b  # old v0 manifest gone
        assert f"{bands_root}/_manifest" in del_b
        assert family_rows(bands_root) == before_b
        assert family_rows(ex_root) == before_x
        assert del_x is not None
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_heavy_hitters_reinvocation_against_used_root_is_idempotent(
    spark, oracle_sf_dir, tmp_path
):
    """Calling the PUBLIC stream_heavy_hitters twice with the same
    caller-owned state_root must return the same result: the staged
    source is pinned under the root (the r8 staging fix), so the
    second run's checkpoint sees no new files, processes zero batches,
    and the read-time merge over the intact partial log reproduces the
    first answer — no duplicated summaries, no re-ingestion."""
    from tailsql_spark.plans.streaming_exec import stream_heavy_hitters

    root = str(tmp_path / "hh_root")
    a = {
        (r["tok"], r["cnt"])
        for r in stream_heavy_hitters(spark, oracle_sf_dir, state_root=root).collect()
    }
    b = {
        (r["tok"], r["cnt"])
        for r in stream_heavy_hitters(spark, oracle_sf_dir, state_root=root).collect()
    }
    assert a == b and len(a) >= 3


def test_scd2_processor_replay_idempotent(spark, oracle_sf_dir):
    """The incremental SCD2 processor keeps the exactly-once contract
    through at-least-once replay: every batch applied twice, final
    history still equals the one-shot batch SCD2 — a re-applied 'U'
    meets the row it opened (value-equal, no-op) and a re-applied 'D'
    finds no current row to close."""
    from tailsql_spark.plans.connectors import (
        _merge_base_frame,
        _merge_delta_frame,
        scd2_merge_apply,
    )
    from tailsql_spark.plans.registry import REGISTRY

    root = tempfile.mkdtemp(prefix="tailsql_scd2replay_")
    try:
        table_root = f"{root}/table"
        (
            _merge_base_frame(spark, oracle_sf_dir)
            .select(
                "doc_id",
                "content",
                F.lit(1).alias("valid_from"),
                F.lit(None).cast("int").alias("valid_to"),
                F.lit(1).alias("is_current"),
                "part",
            )
            .write.mode("overwrite")
            .partitionBy("part")
            .parquet(table_root)
        )
        delta = _merge_delta_frame(spark, oracle_sf_dir, with_deletes=True).select(
            "doc_id", "content", "op", "part"
        )
        half = delta.filter(F.col("doc_id") % 2 == 0)
        rest = delta.filter(F.col("doc_id") % 2 == 1)
        for batch in (half, half, rest, rest):  # every batch replayed
            scd2_merge_apply(spark, table_root, batch)
        got = {
            tuple(r)
            for r in spark.read.parquet(table_root)
            .select("doc_id", "content", "valid_from", "valid_to", "is_current")
            .collect()
        }
        want = {
            tuple(r)
            for r in REGISTRY["sink_scd2_history"].build(spark, oracle_sf_dir).collect()
        }
        assert got == want
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_snapshot_retention_expiry(spark, oracle_sf_dir, tmp_path):
    """expire_snapshots removes versions below the retention floor
    physically (an expired VERSION AS OF read fails) while retained
    versions stay byte-identical."""
    import os

    import pytest

    from tailsql_spark.plans.connectors import expire_snapshots, timetravel_root

    shared = timetravel_root(spark, oracle_sf_dir)
    root = str(tmp_path / "tt")
    shutil.copytree(shared, root)

    def file_bytes(version):
        out = {}
        vdir = os.path.join(root, f"v={version}")
        for dirpath, _dirs, files in os.walk(vdir):
            for f in files:
                p = os.path.join(dirpath, f)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, vdir)] = fh.read()
        return out

    before = file_bytes(2)
    assert expire_snapshots(root, keep_from_version=2) == [1]
    # expired version is physically unreadable
    with pytest.raises(Exception):
        spark.read.parquet(f"{root}/v=1").collect()
    # retained version byte-stable and still queryable
    assert file_bytes(2) == before
    assert spark.read.parquet(f"{root}/v=2").count() > 0
    # idempotent: nothing further to expire
    assert expire_snapshots(root, keep_from_version=2) == []


def test_bm25_processor_replay_idempotent(spark, oracle_sf_dir):
    """BM25 incremental index: every batch replayed (at-least-once
    contract) — a double-append would inflate N/sum_dl and every df,
    shifting all scores. Final merged state scored through bm25_rank
    must equal the batch text_bm25_topk result exactly."""
    from tailsql_spark.operators.textstats import (
        BM25_QUERIES,
        REGISTRY as _TEXT,
        bm25_rank,
    )
    from tailsql_spark.plans.catalog import load_tables
    from tailsql_spark.plans.streaming_exec import (
        _bm25_batch_processor,
        _flat_state_paths,
    )

    docs = load_tables(spark, oracle_sf_dir)["documents"].select("doc_id", "text")
    half = docs.filter(F.col("doc_id") % 2 == 0)
    rest = docs.filter(F.col("doc_id") % 2 == 1)

    root = tempfile.mkdtemp(prefix="tailsql_bm25_replay_")
    try:
        post_root, stat_root = f"{root}/post", f"{root}/stat"
        spark.createDataFrame(
            [], "tok string, doc_id long, tf long, dl long"
        ).write.parquet(f"{post_root}/seed")
        spark.createDataFrame([], "n_docs long, sum_dl long").write.parquet(
            f"{stat_root}/seed"
        )
        process = _bm25_batch_processor(post_root, stat_root)
        process(half, 0)
        process(half, 0)  # simulated post-crash replay
        process(rest, 1)
        process(rest, 1)
        postings = spark.read.parquet(*_flat_state_paths(post_root))
        stats = spark.read.parquet(*_flat_state_paths(stat_root)).agg(
            F.sum("n_docs").alias("n_docs"), F.sum("sum_dl").alias("sum_dl")
        )
        dfreq = postings.groupBy("tok").agg(F.count("*").alias("df"))
        qterms = spark.createDataFrame(
            [(qid, q, tok) for qid, q in BM25_QUERIES for tok in q.split(" ")],
            "qid string, query string, tok string",
        )
        matched = postings.join(F.broadcast(qterms), "tok").select(
            "qid", "query", "doc_id", "tok", "tf", "dl"
        )
        got = {tuple(r) for r in bm25_rank(matched, dfreq, stats).collect()}
        want = {
            tuple(r) for r in _TEXT["text_bm25_topk"].build(spark, oracle_sf_dir).collect()
        }
        assert got == want, f"extra={got - want}, missing={want - got}"
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_bm25_index_processor_replay_and_dial(spark, oracle_sf_dir, monkeypatch):
    """The r11 incrementally-maintained persisted BM25 index: every
    batch replayed post-"crash" AND the bucket-count dial forced to
    fire mid-stream (tiny rows/bucket target → batch 1 folds batch 0's
    committed postings into a bigger-bucketed base under a new manifest
    version).  The bucket-pruned serving probe over the folded +
    delta-tier state must equal the batch text_bm25_topk result
    exactly — a double-append would inflate every df and tf, a fold
    that dropped or duplicated a bucket would shift scores."""
    import tailsql_spark.plans.streaming_exec as SE
    from tailsql_spark.operators.textstats import REGISTRY as _TEXT
    from tailsql_spark.plans.catalog import load_tables
    from tailsql_spark.plans.streaming_exec import (
        N_STATE_BUCKETS,
        _bm25_index_processor,
        _bm25_index_seed,
        _bm25_index_serve,
        _state_meta_read,
    )

    monkeypatch.setattr(SE, "STATE_ROWS_PER_BUCKET", 64)
    docs = load_tables(spark, oracle_sf_dir)["documents"].select("doc_id", "text")
    half = docs.filter(F.col("doc_id") % 2 == 0)
    rest = docs.filter(F.col("doc_id") % 2 == 1)

    root = tempfile.mkdtemp(prefix="tailsql_bm25idx_replay_")
    try:
        post_root, stat_root, _del_root = _bm25_index_seed(spark, root)
        process = _bm25_index_processor(post_root, stat_root)
        process(half, 0)
        process(half, 0)  # simulated post-crash replay
        process(rest, 1)  # triggers the fold of batch 0's state first
        meta = _state_meta_read(post_root)
        assert meta["version"] >= 1 and meta["nb"] > N_STATE_BUCKETS, meta
        process(rest, 1)  # replay AFTER the fold committed
        got = {tuple(r) for r in _bm25_index_serve(spark, post_root, stat_root).collect()}
        want = {
            tuple(r) for r in _TEXT["text_bm25_topk"].build(spark, oracle_sf_dir).collect()
        }
        assert got == want, f"extra={got - want}, missing={want - got}"
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_bm25_index_vacuum_after_fold(spark, oracle_sf_dir, monkeypatch):
    """expire_state_versions applied to the BM25-index family: after a
    forced fold, the VACUUM must delete the superseded pre-fold delta
    dirs and old manifest version, and the bucket-pruned serve over the
    surviving state must still equal the batch text_bm25_topk."""
    import os

    import tailsql_spark.plans.streaming_exec as SE
    from tailsql_spark.operators.textstats import REGISTRY as _TEXT
    from tailsql_spark.plans.catalog import load_tables
    from tailsql_spark.plans.streaming_exec import (
        _bm25_index_processor,
        _bm25_index_seed,
        _bm25_index_serve,
        _state_meta_read,
        expire_state_versions,
    )

    monkeypatch.setattr(SE, "STATE_ROWS_PER_BUCKET", 64)
    docs = load_tables(spark, oracle_sf_dir)["documents"].select("doc_id", "text")
    half = docs.filter(F.col("doc_id") % 2 == 0)
    rest = docs.filter(F.col("doc_id") % 2 == 1)

    root = tempfile.mkdtemp(prefix="tailsql_bm25idx_vacuum_")
    try:
        post_root, stat_root, _del_root = _bm25_index_seed(spark, root)
        process = _bm25_index_processor(post_root, stat_root)
        process(half, 0)
        process(rest, 1)  # fold fires at the start of this batch
        assert _state_meta_read(post_root)["version"] >= 1
        deleted = expire_state_versions(spark, post_root)
        # the pre-fold delta dir and the old manifest version are gone
        assert any(d.endswith("/b00000") for d in deleted), deleted
        assert any("_manifest" in d for d in deleted), deleted
        assert not os.path.exists(f"{post_root}/b00000")
        got = {tuple(r) for r in _bm25_index_serve(spark, post_root, stat_root).collect()}
        want = {
            tuple(r) for r in _TEXT["text_bm25_topk"].build(spark, oracle_sf_dir).collect()
        }
        assert got == want, f"extra={got - want}, missing={want - got}"
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_ivf_index_processor_replay_idempotent(spark, oracle_sf_dir):
    """The r11 incrementally-maintained persisted IVF index: every
    batch replayed post-"crash"; the manifest-pruned serve over the
    merged cell state must equal the batch ann_ivf_topk_indexed result
    exactly (a double-append would duplicate candidates and shift
    neighbor ranks on ties; a mis-routed cell would drop them)."""
    from tailsql_spark.operators.similarity import (
        N_QUERIES_IDX,
        as_double,
        ivf_cell_count,
        norm,
    )
    from tailsql_spark.plans.catalog import load_tables
    from tailsql_spark.plans.registry import REGISTRY
    from tailsql_spark.plans.streaming_exec import (
        _bucket_manifest_seed,
        _ivf_index_processor,
        _ivf_index_serve,
    )

    emb = load_tables(spark, oracle_sf_dir)["embeddings"].select("vec_id", "embedding")
    half = emb.filter(F.col("vec_id") % 2 == 0)
    rest = emb.filter(F.col("vec_id") % 2 == 1)

    root = tempfile.mkdtemp(prefix="tailsql_ivfidx_replay_")
    try:
        cells_root, seeds_path = f"{root}/cells", f"{root}/seeds"
        embd = emb.select(
            "vec_id", as_double(F.col("embedding")).alias("v")
        ).withColumn("nrm", norm(F.col("v")))
        nc = ivf_cell_count(embd.count())
        embd.filter(F.col("vec_id") < nc).select("vec_id", "v", "nrm").write.parquet(
            seeds_path
        )
        spark.createDataFrame(
            [], "vec_id long, v array<double>, nrm double, ccell long"
        ).write.parquet(f"{cells_root}/seed")
        _bucket_manifest_seed(spark.createDataFrame([], "x long"), cells_root)
        process = _ivf_index_processor(cells_root, seeds_path)
        process(half, 0)
        process(half, 0)  # simulated post-crash replay
        process(rest, 1)
        process(rest, 1)
        got = sorted(
            map(
                tuple,
                _ivf_index_serve(
                    spark, oracle_sf_dir, cells_root, seeds_path, N_QUERIES_IDX
                ).collect(),
            )
        )
        want = sorted(
            map(
                tuple,
                REGISTRY["ann_ivf_topk_indexed"].build(spark, oracle_sf_dir).collect(),
            )
        )
        assert got == want, f"extra={set(got) - set(want)}, missing={set(want) - set(got)}"
        # multiprobe serving over the SAME streamed state (the shared
        # ivf_probe_plan rule) must equal the batch multiprobe row
        from tailsql_spark.operators.similarity import N_PROBES

        got_mp = sorted(
            map(
                tuple,
                _ivf_index_serve(
                    spark, oracle_sf_dir, cells_root, seeds_path, N_QUERIES_IDX,
                    n_probes=N_PROBES,
                ).collect(),
            )
        )
        want_mp = sorted(
            map(
                tuple,
                REGISTRY["ann_ivf_multiprobe_topk_indexed"]
                .build(spark, oracle_sf_dir)
                .collect(),
            )
        )
        assert got_mp == want_mp
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_phash_processor_replay_idempotent(spark, oracle_sf_dir):
    """Incremental image dedup: every batch replayed — a double-append
    would double n_docs for every hash group. Merged state through
    phash_near_groups must equal batch multimodal_phash_dedup."""
    from tailsql_spark.operators.multimodal import (
        PHASH_BANDS,
        REGISTRY as _MM,
        phash_near_groups,
        synth_media,
    )
    from tailsql_spark.plans.streaming_exec import (
        _flat_state_paths,
        _phash_batch_processor,
    )

    images = (
        synth_media(spark, oracle_sf_dir)
        .filter(F.col("media_type") == "image")
        .select("doc_id", "payload")
    )
    half = images.filter(F.col("doc_id") % 2 == 0)
    rest = images.filter(F.col("doc_id") % 2 == 1)

    root = tempfile.mkdtemp(prefix="tailsql_phash_replay_")
    try:
        ph_root = f"{root}/ph"
        spark.createDataFrame(
            [], "doc_id long, b0 long, b1 long, b2 long, b3 long"
        ).write.parquet(f"{ph_root}/seed")
        process = _phash_batch_processor(ph_root)
        process(half, 0)
        process(half, 0)  # simulated post-crash replay
        process(rest, 1)
        process(rest, 1)
        bcols = [f"b{k}" for k in range(PHASH_BANDS)]
        ph = spark.read.parquet(*_flat_state_paths(ph_root))
        grp = ph.groupBy(*bcols).agg(
            F.min("doc_id").alias("canonical_doc"), F.count("*").alias("n_docs")
        )
        got = {tuple(r) for r in phash_near_groups(grp).collect()}
        want = {
            tuple(r)
            for r in _MM["multimodal_phash_dedup"].build(spark, oracle_sf_dir).collect()
        }
        assert got == want, f"extra={got - want}, missing={want - got}"
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_audio_fp_processor_replay_idempotent(spark, oracle_sf_dir):
    """Incremental audio dedup: every batch replayed — a double-append
    would duplicate postings and inflate every frame df toward the
    cap. Merged state through audio_near_groups must equal batch
    multimodal_audio_fp_dedup."""
    from tailsql_spark.operators.multimodal import (
        REGISTRY as _MM,
        audio_near_groups,
        synth_media,
    )
    from tailsql_spark.plans.streaming_exec import (
        _audio_fp_batch_processor,
        _flat_state_paths,
    )

    audio = (
        synth_media(spark, oracle_sf_dir)
        .filter(F.col("media_type") == "audio")
        .select("doc_id", "payload")
    )
    half = audio.filter(F.col("doc_id") % 2 == 1)   # audio ids are 1 mod 3
    rest = audio.filter(F.col("doc_id") % 2 == 0)

    root = tempfile.mkdtemp(prefix="tailsql_audiofp_replay_")
    try:
        fp_root = f"{root}/fp"
        spark.createDataFrame([], "doc_id long, fh string").write.parquet(
            f"{fp_root}/seed"
        )
        process = _audio_fp_batch_processor(fp_root)
        process(half, 0)
        process(half, 0)  # simulated post-crash replay
        process(rest, 1)
        process(rest, 1)
        ff = spark.read.parquet(*_flat_state_paths(fp_root))
        got = {
            tuple(r)
            for r in audio_near_groups(audio.select("doc_id"), ff).collect()
        }
        want = {
            tuple(r)
            for r in _MM["multimodal_audio_fp_dedup"]
            .build(spark, oracle_sf_dir)
            .collect()
        }
        assert got == want, f"extra={got - want}, missing={want - got}"
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_video_fp_processor_replay_idempotent(spark, oracle_sf_dir):
    """Incremental video dedup: every batch replayed — a double-append
    would duplicate band postings and inflate every band df toward the
    cap. Merged state through the video-parameterized audio_near_groups
    must equal batch multimodal_video_dedup."""
    from tailsql_spark.operators.multimodal import (
        REGISTRY as _MM,
        VIDEO_DF_CAP,
        VIDEO_MIN_SHARED,
        audio_near_groups,
        synth_media,
    )
    from tailsql_spark.plans.streaming_exec import (
        _flat_state_paths,
        _video_fp_batch_processor,
    )

    videos = (
        synth_media(spark, oracle_sf_dir)
        .filter(F.col("media_type") == "video")
        .select("doc_id", "payload")
    )
    half = videos.filter(F.col("doc_id") % 2 == 0)   # video ids are 2 mod 3
    rest = videos.filter(F.col("doc_id") % 2 == 1)

    root = tempfile.mkdtemp(prefix="tailsql_videofp_replay_")
    try:
        fp_root = f"{root}/fp"
        spark.createDataFrame([], "doc_id long, fh string").write.parquet(
            f"{fp_root}/seed"
        )
        process = _video_fp_batch_processor(fp_root)
        process(half, 0)
        process(half, 0)  # simulated post-crash replay
        process(rest, 1)
        process(rest, 1)
        ff = spark.read.parquet(*_flat_state_paths(fp_root))
        got = {
            tuple(r)
            for r in audio_near_groups(
                ff.select("doc_id").distinct(),
                ff,
                df_cap=VIDEO_DF_CAP,
                min_shared=VIDEO_MIN_SHARED,
            )
            .withColumnRenamed("n_frames", "n_sig_bands")
            .collect()
        }
        want = {
            tuple(r)
            for r in _MM["multimodal_video_dedup"]
            .build(spark, oracle_sf_dir)
            .collect()
        }
        assert got == want, f"extra={got - want}, missing={want - got}"
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_rate_anomaly_processor_replay_idempotent(spark, oracle_sf_dir):
    """Incremental alert rule: every batch replayed — a double-append
    would double hourly counts and shift every mean/variance. Merged
    partials through rate_anomaly_from_counts must equal the batch
    events_rate_anomaly result."""
    from tailsql_spark.plans.catalog import load_tables
    from tailsql_spark.plans.streaming_exec import (
        _flat_state_paths,
        _rate_anomaly_batch_processor,
    )
    from tailsql_spark.plans.streaming_sql import (
        REGISTRY as _EV,
        rate_anomaly_from_counts,
    )

    ev = load_tables(spark, oracle_sf_dir)["events"].select("event_type", "ts")
    # split on a stable column present in the projection
    half = ev.filter(F.dayofmonth("ts") <= 15)
    rest = ev.filter(F.dayofmonth("ts") > 15)

    root = tempfile.mkdtemp(prefix="tailsql_rateanom_replay_")
    try:
        cnt_root = f"{root}/cnt"
        spark.createDataFrame(
            [], "event_type string, h timestamp, cnt long"
        ).write.parquet(f"{cnt_root}/seed")
        process = _rate_anomaly_batch_processor(cnt_root)
        process(half, 0)
        process(half, 0)  # simulated post-crash replay
        process(rest, 1)
        process(rest, 1)
        partials = spark.read.parquet(*_flat_state_paths(cnt_root))
        cnts = partials.groupBy("event_type", "h").agg(F.sum("cnt").alias("cnt"))
        got = {tuple(r) for r in rate_anomaly_from_counts(cnts).collect()}
        want = {
            tuple(r)
            for r in _EV["events_rate_anomaly"].build(spark, oracle_sf_dir).collect()
        }
        assert got == want, f"extra={got - want}, missing={want - got}"
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_bm25_takedown_replay_absence_and_rebuild_equivalence(spark, oracle_sf_dir):
    """Takedown propagation into the persisted BM25 serving index
    (r12).  Three guarantees, each load-bearing:

    1. NON-VACUOUS: before the 'D' batch, deleted docs appear in the
       served top-k (the takedown visibly changes the answer);
    2. ABSENCE: after the 'D' batch (replayed, to cover the at-least-
       once contract), no deleted doc_id is served anywhere;
    3. REBUILD EQUIVALENCE: the takedown-serving result equals a
       from-scratch index built over the corpus minus the deleted set
       — df, idf, avgdl and scores all track the post-takedown corpus,
       not just the row membership.
    """
    from tailsql_spark.plans.catalog import load_tables
    from tailsql_spark.plans.streaming_exec import (
        BM25_TAKEDOWN_MOD,
        BM25_TAKEDOWN_RESIDUE,
        _bm25_index_processor,
        _bm25_index_seed,
        _bm25_index_serve,
    )

    docs = load_tables(spark, oracle_sf_dir)["documents"].select("doc_id", "text")
    is_del = F.col("doc_id") % BM25_TAKEDOWN_MOD == BM25_TAKEDOWN_RESIDUE
    half = docs.filter(F.col("doc_id") % 2 == 0).withColumn("op", F.lit("I"))
    rest = docs.filter(F.col("doc_id") % 2 == 1).withColumn("op", F.lit("I"))
    delb = docs.filter(is_del).withColumn("op", F.lit("D"))

    root = tempfile.mkdtemp(prefix="tailsql_bm25take_replay_")
    root2 = tempfile.mkdtemp(prefix="tailsql_bm25take_rebuild_")
    try:
        post_root, stat_root, del_root = _bm25_index_seed(spark, root)
        process = _bm25_index_processor(post_root, stat_root, del_root)
        process(half, 0)
        process(rest, 1)
        pre = _bm25_index_serve(spark, post_root, stat_root, del_root).collect()
        mod, res = BM25_TAKEDOWN_MOD, BM25_TAKEDOWN_RESIDUE
        assert any(r.doc_id % mod == res for r in pre), (
            "takedown workload is vacuous: no to-be-deleted doc in the "
            "pre-takedown top-k"
        )
        process(delb, 2)
        process(delb, 2)  # simulated post-crash replay of the 'D' batch
        got_rows = _bm25_index_serve(spark, post_root, stat_root, del_root).collect()
        assert all(r.doc_id % mod != res for r in got_rows), got_rows
        # from-scratch rebuild over the post-takedown corpus
        post2, stat2, _del2 = _bm25_index_seed(spark, root2)
        rebuild = _bm25_index_processor(post2, stat2)
        rebuild(docs.filter(~is_del), 0)
        want = {tuple(r) for r in _bm25_index_serve(spark, post2, stat2).collect()}
        got = {tuple(r) for r in got_rows}
        assert got == want, f"extra={got - want}, missing={want - got}"
    finally:
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(root2, ignore_errors=True)


def test_bm25_takedown_delete_before_insert_commutes(spark, oracle_sf_dir):
    """Batch ARRIVAL ORDER must not matter: a tombstone that lands
    before its document's insert (staging scatters rows across files)
    still wins, because application is an anti-join over the
    accumulated tombstone log and the stats are additive — the final
    serve equals the rebuild on the post-takedown corpus either way."""
    from tailsql_spark.plans.catalog import load_tables
    from tailsql_spark.plans.streaming_exec import (
        BM25_TAKEDOWN_MOD,
        BM25_TAKEDOWN_RESIDUE,
        _bm25_index_processor,
        _bm25_index_seed,
        _bm25_index_serve,
    )

    docs = load_tables(spark, oracle_sf_dir)["documents"].select("doc_id", "text")
    is_del = F.col("doc_id") % BM25_TAKEDOWN_MOD == BM25_TAKEDOWN_RESIDUE
    delb = docs.filter(is_del).withColumn("op", F.lit("D"))
    ins = docs.withColumn("op", F.lit("I"))

    root = tempfile.mkdtemp(prefix="tailsql_bm25take_order_")
    root2 = tempfile.mkdtemp(prefix="tailsql_bm25take_order_rebuild_")
    try:
        post_root, stat_root, del_root = _bm25_index_seed(spark, root)
        process = _bm25_index_processor(post_root, stat_root, del_root)
        process(delb, 0)  # deletes FIRST
        process(ins, 1)   # inserts after (includes the deleted docs' rows)
        got = {
            tuple(r)
            for r in _bm25_index_serve(spark, post_root, stat_root, del_root).collect()
        }
        post2, stat2, _del2 = _bm25_index_seed(spark, root2)
        rebuild = _bm25_index_processor(post2, stat2)
        rebuild(docs.filter(~is_del), 0)
        want = {tuple(r) for r in _bm25_index_serve(spark, post2, stat2).collect()}
        assert got == want, f"extra={got - want}, missing={want - got}"
    finally:
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(root2, ignore_errors=True)


def test_ivf_takedown_replay_absence_and_rebuild_equivalence(spark, oracle_sf_dir):
    """Takedown propagation into the persisted IVF serving index (r12):
    the same three guarantees as the BM25 twin — non-vacuity (deleted
    vectors occupied the pre-takedown top-k), absence after a replayed
    'D' batch, and exact equality with a from-scratch index built over
    the post-takedown corpus under the SAME frozen quantizer."""
    from tailsql_spark.operators.similarity import (
        N_QUERIES_IDX,
        as_double,
        ivf_cell_count,
        norm,
    )
    from tailsql_spark.plans.catalog import load_tables
    from tailsql_spark.plans.streaming_exec import (
        IVF_TAKEDOWN_MOD,
        IVF_TAKEDOWN_RESIDUE,
        _bucket_manifest_seed,
        _ivf_index_processor,
        _ivf_index_serve,
    )

    emb = load_tables(spark, oracle_sf_dir)["embeddings"].select("vec_id", "embedding")
    is_del = F.col("vec_id") % IVF_TAKEDOWN_MOD == IVF_TAKEDOWN_RESIDUE
    embd = emb.select("vec_id", as_double(F.col("embedding")).alias("v")).withColumn(
        "nrm", norm(F.col("v"))
    )
    nc = ivf_cell_count(embd.count())

    root = tempfile.mkdtemp(prefix="tailsql_ivftake_replay_")
    root2 = tempfile.mkdtemp(prefix="tailsql_ivftake_rebuild_")
    try:
        # one frozen quantizer SHARED by both indexes (a takedown never
        # retrains the centroids)
        seeds_path = f"{root}/seeds"
        embd.filter(F.col("vec_id") < nc).select("vec_id", "v", "nrm").write.mode(
            "overwrite"
        ).parquet(seeds_path)
        for r in (root, root2):
            spark.createDataFrame(
                [], "vec_id long, v array<double>, nrm double, ccell long"
            ).write.mode("overwrite").parquet(f"{r}/cells/seed")
            _bucket_manifest_seed(spark.createDataFrame([], "x long"), f"{r}/cells")
        spark.createDataFrame([], "vec_id long").write.mode("overwrite").parquet(
            f"{root}/del/seed"
        )
        cells, dels = f"{root}/cells", f"{root}/del"
        process = _ivf_index_processor(cells, seeds_path, dels)
        half = emb.filter(F.col("vec_id") % 2 == 0).withColumn("op", F.lit("I"))
        rest = emb.filter(F.col("vec_id") % 2 == 1).withColumn("op", F.lit("I"))
        delb = emb.filter(is_del).withColumn("op", F.lit("D"))
        process(half, 0)
        process(rest, 1)
        pre = _ivf_index_serve(
            spark, oracle_sf_dir, cells, seeds_path, N_QUERIES_IDX, del_root=dels
        ).collect()
        mod, res = IVF_TAKEDOWN_MOD, IVF_TAKEDOWN_RESIDUE
        assert any(r.neighbor_id % mod == res for r in pre), (
            "takedown workload is vacuous: no to-be-deleted vector in "
            "the pre-takedown top-k"
        )
        process(delb, 2)
        process(delb, 2)  # replayed 'D' batch
        got_rows = _ivf_index_serve(
            spark, oracle_sf_dir, cells, seeds_path, N_QUERIES_IDX, del_root=dels
        ).collect()
        assert all(r.neighbor_id % mod != res for r in got_rows), got_rows
        cells2 = f"{root2}/cells"
        rebuild = _ivf_index_processor(cells2, seeds_path)
        rebuild(emb.filter(~is_del), 0)
        want = {
            tuple(r)
            for r in _ivf_index_serve(
                spark, oracle_sf_dir, cells2, seeds_path, N_QUERIES_IDX
            ).collect()
        }
        got = {tuple(r) for r in got_rows}
        assert got == want, f"extra={got - want}, missing={want - got}"
    finally:
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(root2, ignore_errors=True)

def test_bm25_fold_physically_purges_tombstoned_postings(spark, oracle_sf_dir):
    """r13: the dial fold must actually RECLAIM taken-down postings —
    the r12 serve-time anti-join kept results correct but let dead
    postings and tombstone dirs grow without bound.  Asserts:

    1. PURGE: the post-fold consolidated base contains ZERO tombstoned
       doc_ids (bytes gone, not just hidden);
    2. COMPACTION: the tombstone log is folded to one deduped base dir
       and its meta pointer records the folded bid horizon;
    3. SERVE UNCHANGED: the bucket-pruned serve over the folded state
       equals the pre-fold serve exactly;
    4. VACUUM SAFE: expiring superseded posting versions AND folded
       per-batch delete dirs leaves the serve unchanged;
    5. D-BEFORE-LATE-I STILL WINS: a post-fold re-insert of a deleted
       doc stays suppressed (the compacted tombstone SET was retained,
       never truncated).
    """
    import os

    import tailsql_spark.plans.streaming_exec as SE
    from tailsql_spark.operators.textstats import bm25_term_hash_col
    from tailsql_spark.plans.catalog import load_tables
    from tailsql_spark.plans.streaming_exec import (
        BM25_TAKEDOWN_MOD,
        BM25_TAKEDOWN_RESIDUE,
        _bm25_index_processor,
        _bm25_index_seed,
        _bm25_index_serve,
        _del_meta_read,
        _state_meta_read,
        expire_del_versions,
        expire_state_versions,
    )

    docs = load_tables(spark, oracle_sf_dir)["documents"].select("doc_id", "text")
    is_del = F.col("doc_id") % BM25_TAKEDOWN_MOD == BM25_TAKEDOWN_RESIDUE
    half = docs.filter(F.col("doc_id") % 2 == 0).withColumn("op", F.lit("I"))
    rest = docs.filter(F.col("doc_id") % 2 == 1).withColumn("op", F.lit("I"))
    delb = docs.filter(is_del).withColumn("op", F.lit("D"))

    root = tempfile.mkdtemp(prefix="tailsql_bm25_fold_purge_")
    try:
        post_root, stat_root, del_root = _bm25_index_seed(spark, root)
        process = _bm25_index_processor(post_root, stat_root, del_root)
        process(half, 0)
        process(rest, 1)
        process(delb, 2)
        baseline = {
            tuple(r)
            for r in _bm25_index_serve(spark, post_root, stat_root, del_root).collect()
        }
        # force the dial across a doubling exactly as a batch-3-start
        # fold would see it (rows inflated past the threshold)
        meta = _state_meta_read(post_root)
        forced = dict(meta, rows=int(meta["nb"]) * SE.STATE_ROWS_PER_BUCKET * 2 + 1)
        newmeta = SE._rebucket_family(
            spark, post_root, "tb", bm25_term_hash_col("tok"), exclude_bid=3,
            meta=forced, del_root=del_root, del_col="doc_id",
        )
        ver = int(newmeta["version"])
        assert ver == int(meta["version"]) + 1
        # 1. physical purge: zero tombstoned postings in the base
        base = spark.read.parquet(f"{post_root}/base_v{ver}")
        mod, res = BM25_TAKEDOWN_MOD, BM25_TAKEDOWN_RESIDUE
        assert base.filter(F.col("doc_id") % mod == res).count() == 0
        assert base.count() > 0
        # 2. tombstone-log compaction: deduped base + meta horizon
        dmeta = _del_meta_read(del_root)
        assert dmeta == {"version": ver, "folded_below_bid": 3}, dmeta
        dbase = spark.read.parquet(f"{del_root}/base_v{ver}")
        assert dbase.count() == dbase.select("doc_id").distinct().count()
        assert dbase.count() == docs.filter(is_del).count()
        # 3. serve unchanged over the folded state
        got = {
            tuple(r)
            for r in _bm25_index_serve(spark, post_root, stat_root, del_root).collect()
        }
        assert got == baseline
        # 4. vacuum: superseded posting versions + folded delete dirs
        expire_state_versions(spark, post_root)
        deleted = expire_del_versions(del_root)
        assert any(d.endswith("/b00002") for d in deleted), deleted
        assert not os.path.exists(f"{del_root}/b00002")
        assert os.path.exists(f"{del_root}/base_v{ver}")
        got = {
            tuple(r)
            for r in _bm25_index_serve(spark, post_root, stat_root, del_root).collect()
        }
        assert got == baseline
        # 5. late 'I' for a purged doc: still suppressed via the
        # compacted tombstone set (absence, not score equality — a
        # re-insert legitimately shifts the signed corpus stats)
        process(delb.withColumn("op", F.lit("I")), 3)
        late = _bm25_index_serve(spark, post_root, stat_root, del_root).collect()
        assert all(r.doc_id % mod != res for r in late), late
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_ivf_purge_takedowns_physical_removal(spark, oracle_sf_dir):
    """r13: the OFFLINE IVF compaction (the purge the frozen-quantizer
    family cannot get from a dial fold).  Asserts the purged base holds
    zero tombstoned vectors, the vacuum reclaims every superseded
    cell/delete dir, serving over the purged state equals the pre-purge
    anti-joined serve exactly (with AND without the del log), and a
    replayed post-purge batch writes under the new manifest version
    without disturbing the result."""
    import os

    from tailsql_spark.operators.similarity import (
        N_QUERIES_IDX,
        as_double,
        ivf_cell_count,
        norm,
    )
    from tailsql_spark.plans.catalog import load_tables
    from tailsql_spark.plans.streaming_exec import (
        IVF_TAKEDOWN_MOD,
        IVF_TAKEDOWN_RESIDUE,
        _bucket_manifest_seed,
        _ivf_index_processor,
        _ivf_index_serve,
        _state_meta_read,
        expire_del_versions,
        expire_state_versions,
        ivf_purge_takedowns,
    )

    emb = load_tables(spark, oracle_sf_dir)["embeddings"].select("vec_id", "embedding")
    is_del = F.col("vec_id") % IVF_TAKEDOWN_MOD == IVF_TAKEDOWN_RESIDUE
    embd = emb.select("vec_id", as_double(F.col("embedding")).alias("v")).withColumn(
        "nrm", norm(F.col("v"))
    )
    nc = ivf_cell_count(embd.count())

    root = tempfile.mkdtemp(prefix="tailsql_ivf_purge_")
    try:
        seeds_path = f"{root}/seeds"
        embd.filter(F.col("vec_id") < nc).select("vec_id", "v", "nrm").write.mode(
            "overwrite"
        ).parquet(seeds_path)
        cells, dels = f"{root}/cells", f"{root}/del"
        spark.createDataFrame(
            [], "vec_id long, v array<double>, nrm double, ccell long"
        ).write.mode("overwrite").parquet(f"{cells}/seed")
        _bucket_manifest_seed(spark.createDataFrame([], "x long"), cells)
        spark.createDataFrame([], "vec_id long").write.mode("overwrite").parquet(
            f"{dels}/seed"
        )
        process = _ivf_index_processor(cells, seeds_path, dels)
        half = emb.filter(F.col("vec_id") % 2 == 0).withColumn("op", F.lit("I"))
        rest = emb.filter(F.col("vec_id") % 2 == 1).withColumn("op", F.lit("I"))
        delb = emb.filter(is_del).withColumn("op", F.lit("D"))
        process(half, 0)
        process(rest, 1)
        process(delb, 2)
        baseline = {
            tuple(r)
            for r in _ivf_index_serve(
                spark, oracle_sf_dir, cells, seeds_path, N_QUERIES_IDX, del_root=dels
            ).collect()
        }
        newmeta = ivf_purge_takedowns(spark, cells, dels)
        assert int(newmeta["version"]) == 1
        assert int(_state_meta_read(cells)["version"]) == 1
        mod, res = IVF_TAKEDOWN_MOD, IVF_TAKEDOWN_RESIDUE
        base = spark.read.parquet(f"{cells}/base_v1")
        assert base.filter(F.col("vec_id") % mod == res).count() == 0
        assert base.count() == emb.filter(~is_del).count()
        expire_state_versions(spark, cells)
        expire_del_versions(dels)
        assert not os.path.exists(f"{cells}/b00000")
        assert not os.path.exists(f"{dels}/b00002")
        assert os.path.exists(f"{dels}/base_v1")
        got = {
            tuple(r)
            for r in _ivf_index_serve(
                spark, oracle_sf_dir, cells, seeds_path, N_QUERIES_IDX, del_root=dels
            ).collect()
        }
        assert got == baseline
        # purged base needs no anti-join to be correct
        got_plain = {
            tuple(r)
            for r in _ivf_index_serve(
                spark, oracle_sf_dir, cells, seeds_path, N_QUERIES_IDX
            ).collect()
        }
        assert got_plain == baseline
        # replayed post-purge batch: manifest rows land under the new
        # version (version-aware processor) and the serve is unmoved
        process(delb, 2)
        got = {
            tuple(r)
            for r in _ivf_index_serve(
                spark, oracle_sf_dir, cells, seeds_path, N_QUERIES_IDX, del_root=dels
            ).collect()
        }
        assert got == baseline
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_state_meta_read_recovers_from_crashed_rename(spark, tmp_path):
    """r13 (ADVICE): the HDFS-style delete-then-rename commit has a
    crash window where the destination pointer is gone but the complete
    new pointer survives at {path}.tmp.  _state_meta_read must RECOVER
    from the tmp file instead of silently defaulting to version 0 (which
    would point later batches at a pre-fold manifest).  Also: a
    genuinely-absent pointer (no tmp either) short-circuits to the v0
    default without the retry backoff."""
    import json
    import os
    import time

    from tailsql_spark.plans.streaming_exec import (
        _state_meta_read,
        _state_meta_write,
    )

    root = f"file://{tmp_path}"  # URI scheme -> the Hadoop FS branch
    local = str(tmp_path)
    # fresh root: fast v0 default (no 4-probe backoff)
    t0 = time.monotonic()
    assert _state_meta_read(root)["version"] == 0
    assert time.monotonic() - t0 < 0.2
    # committed pointer reads back
    _state_meta_write(root, {"version": 2, "nb": 64, "rows": 10})
    assert _state_meta_read(root)["version"] == 2
    # simulate a crash between delete(dest) and rename(tmp, dest)
    with open(f"{local}/_meta.json.tmp", "w") as fh:
        fh.write(json.dumps({"version": 3, "nb": 128, "rows": 20}))
    os.remove(f"{local}/_meta.json")
    got = _state_meta_read(root)
    assert got == {"version": 3, "nb": 128, "rows": 20}, got


def test_meta_pointer_read_reprobes_racing_rename(spark, tmp_path, monkeypatch):
    """r14 (r13 ADVICE): a concurrent delete→rename commit can complete
    BETWEEN the destination probe (absent: post-delete) and the tmp
    probe (absent: post-rename).  The both-absent short-circuit must
    re-probe the destination once before trusting the v0 default —
    otherwise the reader silently serves the stale pre-fold pointer."""
    import json

    import tailsql_spark.plans.streaming_exec as SE

    root = f"file://{tmp_path}"
    p = f"{tmp_path}/_meta.json"
    committed = {"version": 5, "nb": 256, "rows": 99}
    with open(p, "w") as fh:
        fh.write(json.dumps(committed))

    real_exists = SE._fs_exists
    calls = {"n": 0}

    def racing_exists(path):
        calls["n"] += 1
        if calls["n"] == 1:
            return False  # probe 1: dest absent (writer just deleted it)
        if calls["n"] == 2:
            return False  # probe 2: tmp absent (rename just landed)
        return real_exists(path)  # re-probe: the committed dest is back

    monkeypatch.setattr(SE, "_fs_exists", racing_exists)
    got = SE._state_meta_read(root)
    assert got == committed, got
    assert calls["n"] == 3  # the single re-probe resolved it


def test_del_meta_read_recovers_from_crashed_rename(spark, tmp_path):
    """r14 (r13 ADVICE): the tombstone-log / flat-purge pointer routes
    through the SAME bounded-retry + tmp-recovery as the state
    families' pointer — a crash between delete and rename must never
    default to {version: 0} once a fold committed (that would make
    _flat_state_paths serve no base: silent loss of compacted rows)."""
    import json
    import os

    from tailsql_spark.plans.streaming_exec import _del_meta_read

    root = f"file://{tmp_path}"
    local = str(tmp_path)
    # fresh root: v0 default
    assert _del_meta_read(root) == {"version": 0, "folded_below_bid": 0}
    # crash window: tmp written, dest deleted, rename never ran
    with open(f"{local}/_meta.json.tmp", "w") as fh:
        fh.write(json.dumps({"version": 2, "folded_below_bid": 7}))
    got = _del_meta_read(root)
    assert got == {"version": 2, "folded_below_bid": 7}, got
    os.remove(f"{local}/_meta.json.tmp")


def test_bm25_double_delete_signs_stats_once(spark, oracle_sf_dir):
    """r13 (ADVICE): a doc deleted TWICE — duplicated 'D' rows inside
    one delta AND a re-delete in a later batch — must decrement
    n_docs/sum_dl exactly once, so the served scores still equal a
    from-scratch rebuild on the corpus minus the deleted set."""
    from tailsql_spark.plans.catalog import load_tables
    from tailsql_spark.plans.streaming_exec import (
        BM25_TAKEDOWN_MOD,
        BM25_TAKEDOWN_RESIDUE,
        _bm25_index_processor,
        _bm25_index_seed,
        _bm25_index_serve,
    )

    docs = load_tables(spark, oracle_sf_dir)["documents"].select("doc_id", "text")
    is_del = F.col("doc_id") % BM25_TAKEDOWN_MOD == BM25_TAKEDOWN_RESIDUE
    ins = docs.withColumn("op", F.lit("I"))
    delb = docs.filter(is_del).withColumn("op", F.lit("D"))

    root = tempfile.mkdtemp(prefix="tailsql_bm25_ddel_")
    root2 = tempfile.mkdtemp(prefix="tailsql_bm25_ddel_rebuild_")
    try:
        post_root, stat_root, del_root = _bm25_index_seed(spark, root)
        process = _bm25_index_processor(post_root, stat_root, del_root)
        process(ins, 0)
        process(delb.unionByName(delb), 1)  # doubled rows in one delta
        process(delb, 2)                    # re-deleted in a later batch
        got = {
            tuple(r)
            for r in _bm25_index_serve(spark, post_root, stat_root, del_root).collect()
        }
        post2, stat2, _d2 = _bm25_index_seed(spark, root2)
        rebuild = _bm25_index_processor(post2, stat2)
        rebuild(docs.filter(~is_del), 0)
        want = {tuple(r) for r in _bm25_index_serve(spark, post2, stat2).collect()}
        assert got == want, f"extra={got - want}, missing={want - got}"
    finally:
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(root2, ignore_errors=True)


def test_bm25_spurious_delete_clamped_not_poisoned(spark, oracle_sf_dir):
    """r13 (ADVICE): tombstones for docs that were NEVER inserted drive
    the signed n_docs/sum_dl partials negative; the serve-time clamp
    (n_docs >= 1, sum_dl >= n_docs) must keep scoring finite for the
    docs that DO exist instead of dividing by zero/negative corpus
    stats."""
    import math

    from tailsql_spark.plans.catalog import load_tables
    from tailsql_spark.plans.streaming_exec import (
        _bm25_index_processor,
        _bm25_index_seed,
        _bm25_index_serve,
    )

    docs = load_tables(spark, oracle_sf_dir)["documents"].select("doc_id", "text")
    one = docs.limit(1).withColumn("op", F.lit("I"))
    ghost = (
        docs.limit(3)
        .select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
        .withColumn("op", F.lit("D"))
    )

    root = tempfile.mkdtemp(prefix="tailsql_bm25_ghost_")
    try:
        post_root, stat_root, del_root = _bm25_index_seed(spark, root)
        process = _bm25_index_processor(post_root, stat_root, del_root)
        process(one, 0)
        process(ghost, 1)  # net n_docs = 1 - 3 without the clamp
        rows = _bm25_index_serve(spark, post_root, stat_root, del_root).collect()
        for r in rows:
            assert r.score is not None and math.isfinite(r.score), r
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_curation_takedown_replay_absence_and_rebuild_equivalence(
    spark, oracle_sf_dir
):
    """r13: takedown propagation across the WHOLE unified-curation
    composition.  Drives the wrapped processor directly with a
    replayed 'D' batch and asserts:

    1. NON-VACUOUS: the deleted set changes the DROP counts (total −
       survivors) of the text, audio, and video rows, not just the
       proportional totals — closure recompute, keep-first
       re-election, and df-cap recomputation are all exercised;
    2. REBUILD EQUIVALENCE: the served four-row report equals the
       from-scratch streamed report over the corpus minus the deleted
       set (replayed 'D' batch included — at-least-once safe);
    3. CANDIDATE SUPPRESSION: after the 'D' batch, a fresh batch of
       near-duplicate copies of a DELETED doc's text discovers no pair
       against the deleted original (the history-band anti-join), while
       the same text against a LIVE original still matches."""
    from tailsql_spark.plans.catalog import load_tables
    from tailsql_spark.plans.streaming_exec import (
        CURATION_TAKEDOWN_MOD,
        CURATION_TAKEDOWN_RESIDUE,
        _cc_batch_processor,
        _curation_batch_processor,
        _mh_bucketed_seed,
        _minhash_bucketed_processor,
        _unified_curation_serve,
        _audio_fp_batch_processor,
        _phash_batch_processor,
        _unified_batch_processor,
        _takedown_processor,
        _video_fp_batch_processor,
    )

    docs = load_tables(spark, oracle_sf_dir)["documents"].select(
        "doc_id", "lang", "text", "n_chars"
    )
    is_del = (
        F.col("doc_id") % CURATION_TAKEDOWN_MOD == CURATION_TAKEDOWN_RESIDUE
    )

    def build_state(root, delta_batches, with_del):
        bands_root, ex_root, out_root = _mh_bucketed_seed(
            docs.select("doc_id", "text"), root
        )
        for sub, schema in (
            ("edges", "id_a long, id_b long"),
            ("labels", "doc_id long, cluster_id long"),
            ("attrs", "doc_id long, lang string, fingerprint string, n_tokens long"),
            ("del", "doc_id long"),
            ("ph", "doc_id long, b0 long, b1 long, b2 long, b3 long"),
            ("fpa", "doc_id long, fh string"),
            ("fpv", "doc_id long, fh string"),
        ):
            spark.createDataFrame([], schema).write.mode("overwrite").parquet(
                f"{root}/{sub}/seed"
            )
        del_root = f"{root}/del"
        inner = _unified_batch_processor(
            _curation_batch_processor(
                _minhash_bucketed_processor(
                    bands_root, ex_root, out_root,
                    del_root=del_root if with_del else None,
                ),
                _cc_batch_processor(f"{root}/edges", f"{root}/labels"),
                f"{root}/attrs",
                out_root,
            ),
            _phash_batch_processor(f"{root}/ph"),
            _audio_fp_batch_processor(f"{root}/fpa"),
            _video_fp_batch_processor(f"{root}/fpv"),
        )
        process = _takedown_processor(inner, del_root)
        for bid, b in delta_batches:
            process(b, bid)
        return del_root

    def serve(root, src_live, del_root):
        return {
            tuple(r)
            for r in _unified_curation_serve(
                spark, src_live,
                f"{root}/attrs", f"{root}/labels", f"{root}/ph",
                f"{root}/fpa", f"{root}/fpv",
                edges_root=f"{root}/edges", del_root=del_root,
            ).collect()
        }

    half = docs.filter(F.col("doc_id") % 2 == 0).withColumn("op", F.lit("I"))
    rest = docs.filter(F.col("doc_id") % 2 == 1).withColumn("op", F.lit("I"))
    delb = docs.filter(is_del).withColumn("op", F.lit("D"))

    root = tempfile.mkdtemp(prefix="tailsql_curtake_replay_")
    root2 = tempfile.mkdtemp(prefix="tailsql_curtake_rebuild_")
    try:
        del_root = build_state(
            root, [(0, half), (1, rest), (2, delb), (2, delb)], with_del=True
        )
        live = docs.filter(~is_del)
        got = serve(root, live, del_root)
        # rebuild: stream only the live corpus from scratch
        del2 = build_state(
            root2,
            [
                (0, live.filter(F.col("doc_id") % 2 == 0).withColumn("op", F.lit("I"))),
                (1, live.filter(F.col("doc_id") % 2 == 1).withColumn("op", F.lit("I"))),
            ],
            with_del=True,
        )
        want = serve(root2, live, del2)
        assert got == want, f"extra={got - want}, missing={want - got}"
        # non-vacuity: drop counts shift for text/audio/video vs the
        # no-takedown state (root2 serves as the live-only reference;
        # compare against the FULL-corpus composition)
        full = serve(root, docs, None)  # same state, tombstones ignored
        drops_full = {r[0]: r[1] - r[2] for r in full}
        drops_take = {r[0]: r[1] - r[2] for r in got}
        for m in ("text", "audio", "video"):
            assert drops_full[m] != drops_take[m], (m, drops_full, drops_take)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(root2, ignore_errors=True)


def test_curation_takedown_suppresses_candidate_generation(spark, oracle_sf_dir):
    """A taken-down doc must stop GENERATING near-dup candidates (not
    merely stop being served): after its 'D' commits, a new batch
    whose text duplicates the deleted doc discovers NO pair against
    it, while the identical probe against a live doc still matches."""
    from tailsql_spark.plans.catalog import load_tables
    from tailsql_spark.plans.streaming_exec import (
        _bdir,
        _mh_bucketed_seed,
        _minhash_bucketed_processor,
    )

    docs = load_tables(spark, oracle_sf_dir)["documents"].select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="tailsql_curtake_cand_")
    try:
        bands_root, ex_root, out_root = _mh_bucketed_seed(docs, root)
        del_root = f"{root}/del"
        spark.createDataFrame([], "doc_id long").write.mode("overwrite").parquet(
            f"{del_root}/seed"
        )
        process = _minhash_bucketed_processor(
            bands_root, ex_root, out_root, del_root=del_root
        )
        two = docs.orderBy("doc_id").limit(2).collect()
        dead, live = two[0], two[1]
        process(docs.filter(F.col("doc_id").isin(dead.doc_id, live.doc_id)), 0)
        # tombstone the first doc (batch 1 carries only the 'D')
        spark.createDataFrame([(dead.doc_id,)], "doc_id long").write.mode(
            "overwrite"
        ).parquet(f"{del_root}/{_bdir(1)}")
        process(docs.limit(0), 1)
        # batch 2: exact copies of both docs' texts under fresh ids
        probe = spark.createDataFrame(
            [(900001, dead.text), (900002, live.text)], "doc_id long, text string"
        )
        process(probe, 2)
        pairs = {
            (r.id_a, r.id_b)
            for r in spark.read.parquet(f"{out_root}/{_bdir(2)}").collect()
        }
        assert (live.doc_id, 900002) in pairs, pairs
        assert all(dead.doc_id not in p for p in pairs), pairs
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_streamed_ivf_recall_floor_and_imbalance_gate(spark, oracle_sf_dir):
    """r13 (VERDICT r11 #3): the recall floor certified the BATCH-built
    persisted IVF index; the incrementally-grown state had no recall
    row and no drift trigger.  Builds the streamed state through the
    processor (multiple batches, one replayed), then:

    1. RECALL FLOOR: multiprobe serving over the streamed state meets
       the SAME 0.85 floor as the batch index (r14, VERDICT r13 #4:
       the oracle certifies streamed state content == batch index, so
       recall is the same quantity — measured 0.889 at sf0.01 with the
       shared _recall_vs_brute metric, same k, same tie rules; the old
       0.7 floor was an unearned discount);
    2. IMBALANCE GATE: the manifest-derived cell-occupancy imbalance of
       the healthy state sits below IVF_IMBALANCE_MAX, and a
       deliberately collapsed state (every vector forced into one
       cell — what corpus drift against a frozen quantizer produces)
       trips the gate, proving it can fire."""
    from tailsql_spark.operators.similarity import (
        N_PROBES,
        N_QUERIES_IDX,
        RECALL_K,
        _recall_vs_brute,
        as_double,
        ivf_cell_count,
        norm,
    )
    from tailsql_spark.plans.catalog import load_tables
    from tailsql_spark.plans.streaming_exec import (
        IVF_IMBALANCE_MAX,
        _bucket_manifest_seed,
        _bucket_manifest_write,
        _ivf_index_processor,
        _ivf_index_serve,
        ivf_cell_imbalance,
    )

    emb = load_tables(spark, oracle_sf_dir)["embeddings"].select("vec_id", "embedding")
    embd = emb.select("vec_id", as_double(F.col("embedding")).alias("v")).withColumn(
        "nrm", norm(F.col("v"))
    )
    nc = ivf_cell_count(embd.count())

    root = tempfile.mkdtemp(prefix="tailsql_ivf_recall_stream_")
    try:
        seeds_path = f"{root}/seeds"
        embd.filter(F.col("vec_id") < nc).select("vec_id", "v", "nrm").write.mode(
            "overwrite"
        ).parquet(seeds_path)
        cells = f"{root}/cells"
        spark.createDataFrame(
            [], "vec_id long, v array<double>, nrm double, ccell long"
        ).write.mode("overwrite").parquet(f"{cells}/seed")
        _bucket_manifest_seed(spark.createDataFrame([], "x long"), cells)
        process = _ivf_index_processor(cells, seeds_path)
        process(emb.filter(F.col("vec_id") % 2 == 0), 0)
        process(emb.filter(F.col("vec_id") % 2 == 1), 1)
        process(emb.filter(F.col("vec_id") % 2 == 1), 1)  # replay
        idx3 = (
            _ivf_index_serve(
                spark, oracle_sf_dir, cells, seeds_path, N_QUERIES_IDX,
                n_probes=N_PROBES,
            )
            .filter(F.col("rnk") <= RECALL_K)
            .select("query_id", "neighbor_id")
        )
        rows = _recall_vs_brute(
            spark, oracle_sf_dir, idx3, n_queries=N_QUERIES_IDX
        ).collect()
        assert rows
        mean = sum(r.recall for r in rows) / len(rows)
        assert mean >= 0.85, f"streamed-IVF multiprobe recall@3 degraded: {mean:.3f}"
        healthy = ivf_cell_imbalance(spark, cells)
        assert healthy < IVF_IMBALANCE_MAX, healthy
        # collapsed state: all vectors in cell 0 -> gate must fire
        root2 = f"{root}/collapsed"
        spark.createDataFrame(
            [], "vec_id long, v array<double>, nrm double, ccell long"
        ).write.mode("overwrite").parquet(f"{root2}/seed")
        _bucket_manifest_seed(spark.createDataFrame([], "x long"), root2)
        skew = embd.select(
            "vec_id", "v", "nrm", F.lit(0).cast("long").alias("ccell")
        ).withColumn("cell", F.least(F.col("vec_id"), F.lit(0)))
        # a couple of singleton cells + one hot cell holding the rest
        skew = skew.withColumn(
            "cell",
            F.when(F.col("vec_id") < 3, F.col("vec_id")).otherwise(F.lit(0)).cast("long"),
        ).withColumn("ccell", F.col("cell"))
        skew.write.mode("overwrite").partitionBy("cell").parquet(f"{root2}/b00000")
        _bucket_manifest_write(skew, root2, "cell", 0, nb=int(nc))
        tripped = ivf_cell_imbalance(spark, root2)
        assert tripped > IVF_IMBALANCE_MAX, tripped
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_minor_fold_bounds_intra_decade_delta_dirs(spark, oracle_sf_dir, monkeypatch):
    """r13 (VERDICT r11 #4): between dial doublings, per-batch delta
    dirs accumulate without bound.  With the thresholds shrunk, many
    small batches must trigger a MINOR fold (same bucket count, new
    manifest version), after which the vacuum leaves a bounded dir
    count — and the bucket-pruned serve still equals the batch BM25
    result, including across a replayed batch AROUND the fold."""
    import os

    import tailsql_spark.plans.streaming_exec as SE
    from tailsql_spark.operators.textstats import REGISTRY as _TEXT
    from tailsql_spark.plans.catalog import load_tables
    from tailsql_spark.plans.streaming_exec import (
        _bm25_index_processor,
        _bm25_index_seed,
        _bm25_index_serve,
        _state_meta_read,
        expire_state_versions,
    )

    monkeypatch.setattr(SE, "MINOR_FOLD_MAX_DELTAS", 4)
    monkeypatch.setattr(SE, "MINOR_FOLD_CHECK_EVERY", 2)
    docs = load_tables(spark, oracle_sf_dir)["documents"].select("doc_id", "text")

    root = tempfile.mkdtemp(prefix="tailsql_bm25_minorfold_")
    try:
        post_root, stat_root, _del = _bm25_index_seed(spark, root)
        process = _bm25_index_processor(post_root, stat_root)
        nb0 = _state_meta_read(post_root)["nb"]
        for bid in range(8):
            b = docs.filter(F.col("doc_id") % 8 == bid)
            process(b, bid)
            if bid == 6:
                process(b, bid)  # replay straddling the bid-6 check
        meta = _state_meta_read(post_root)
        # a minor fold fired: version advanced, bucket count UNCHANGED
        assert meta["version"] >= 1, meta
        assert meta["nb"] == nb0, meta
        deleted = expire_state_versions(spark, post_root)
        assert deleted, "vacuum reclaimed nothing after the minor fold"
        # bounded live state: base + post-fold deltas only
        live_deltas = [
            d for d in os.listdir(post_root)
            if d.startswith("b") and d[1:].isdigit()
        ]
        assert len(live_deltas) <= SE.MINOR_FOLD_MAX_DELTAS + SE.MINOR_FOLD_CHECK_EVERY, live_deltas
        got = {tuple(r) for r in _bm25_index_serve(spark, post_root, stat_root).collect()}
        want = {
            tuple(r) for r in _TEXT["text_bm25_topk"].build(spark, oracle_sf_dir).collect()
        }
        assert got == want, f"extra={got - want}, missing={want - got}"
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_ivf_purge_doubles_as_minor_compaction(spark, oracle_sf_dir):
    """r13: with an EMPTY delete set, ivf_purge_takedowns is the IVF
    family's minor fold — the frozen-quantizer family has no dial fold,
    so per-batch cell dirs would otherwise accumulate forever.  After
    many small batches, purge + vacuum must collapse live state to one
    base tier (strictly fewer files/dirs) with the served top-k
    unchanged."""
    import os

    from tailsql_spark.operators.similarity import (
        N_QUERIES_IDX,
        as_double,
        ivf_cell_count,
        norm,
    )
    from tailsql_spark.plans.catalog import load_tables
    from tailsql_spark.plans.streaming_exec import (
        _bucket_manifest_seed,
        _ivf_index_processor,
        _ivf_index_serve,
        expire_state_versions,
        ivf_purge_takedowns,
    )

    emb = load_tables(spark, oracle_sf_dir)["embeddings"].select("vec_id", "embedding")
    embd = emb.select("vec_id", as_double(F.col("embedding")).alias("v")).withColumn(
        "nrm", norm(F.col("v"))
    )
    nc = ivf_cell_count(embd.count())

    root = tempfile.mkdtemp(prefix="tailsql_ivf_compact_")
    try:
        seeds_path = f"{root}/seeds"
        embd.filter(F.col("vec_id") < nc).select("vec_id", "v", "nrm").write.mode(
            "overwrite"
        ).parquet(seeds_path)
        cells, dels = f"{root}/cells", f"{root}/del"
        spark.createDataFrame(
            [], "vec_id long, v array<double>, nrm double, ccell long"
        ).write.mode("overwrite").parquet(f"{cells}/seed")
        _bucket_manifest_seed(spark.createDataFrame([], "x long"), cells)
        spark.createDataFrame([], "vec_id long").write.mode("overwrite").parquet(
            f"{dels}/seed"
        )
        process = _ivf_index_processor(cells, seeds_path)
        for bid in range(6):
            process(emb.filter(F.col("vec_id") % 6 == bid), bid)
        before = {
            tuple(r)
            for r in _ivf_index_serve(
                spark, oracle_sf_dir, cells, seeds_path, N_QUERIES_IDX
            ).collect()
        }

        def nfiles():
            return sum(
                1
                for dp, _dn, names in os.walk(cells)
                for n in names
                if n.endswith(".parquet")
            )

        files_before = nfiles()
        ivf_purge_takedowns(spark, cells, dels)
        expire_state_versions(spark, cells)
        assert nfiles() < files_before, (nfiles(), files_before)
        assert not any(
            d.startswith("b") and d[1:].isdigit() for d in os.listdir(cells)
        )
        after = {
            tuple(r)
            for r in _ivf_index_serve(
                spark, oracle_sf_dir, cells, seeds_path, N_QUERIES_IDX
            ).collect()
        }
        assert after == before
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_curation_takedown_physically_purges_content_state(spark, oracle_sf_dir):
    """r13: the curation takedown's OFFLINE purge must erase the
    deleted docs' CONTENT-DERIVED rows from every state family — attrs
    (fingerprints), the image/audio/video posting logs, and the
    MinHash band/shingle families (forced del-aware fold) — with the
    vacuums reclaiming the superseded dirs, while the meta-aware flat
    read (`_flat_state_paths`) never double-reads a folded row.  Also:
    a delete dir landing AFTER the purge must survive a later expire
    (the folded_below clamp — losing it would resurrect the doc)."""
    import os

    from tailsql_spark.plans.catalog import load_tables
    from tailsql_spark.plans.streaming_exec import (
        CURATION_TAKEDOWN_MOD,
        CURATION_TAKEDOWN_RESIDUE,
        _bdir,
        _cc_batch_processor,
        _curation_batch_processor,
        _flat_state_paths,
        _mh_bucketed_seed,
        _minhash_bucketed_processor,
        _rebucket_family,
        _state_meta_read,
        _audio_fp_batch_processor,
        _phash_batch_processor,
        _unified_batch_processor,
        _takedown_processor,
        _video_fp_batch_processor,
        expire_del_versions,
        expire_state_versions,
        purge_flat_family,
    )

    docs = load_tables(spark, oracle_sf_dir)["documents"].select(
        "doc_id", "lang", "text", "n_chars"
    )
    is_del = (
        F.col("doc_id") % CURATION_TAKEDOWN_MOD == CURATION_TAKEDOWN_RESIDUE
    )
    root = tempfile.mkdtemp(prefix="tailsql_curtake_purge_")
    try:
        bands_root, ex_root, out_root = _mh_bucketed_seed(
            docs.select("doc_id", "text"), root
        )
        for sub, schema in (
            ("edges", "id_a long, id_b long"),
            ("labels", "doc_id long, cluster_id long"),
            ("attrs", "doc_id long, lang string, fingerprint string, n_tokens long"),
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
        process(docs.withColumn("op", F.lit("I")), 0)
        process(docs.filter(is_del).withColumn("op", F.lit("D")), 1)

        dels_df = (
            spark.read.parquet(*_flat_state_paths(del_root))
            .select("doc_id")
            .distinct()
        )
        flats = [f"{root}/attrs", f"{root}/ph", f"{root}/fpa", f"{root}/fpv"]
        for fam in flats:
            purge_flat_family(spark, fam, dels_df)
            expire_del_versions(fam)
        for fam, colname, key in (
            (bands_root, "bb", F.xxhash64("band_hash")),
            (ex_root, "xb", F.col("doc_id")),
        ):
            _rebucket_family(
                spark, fam, colname, key, exclude_bid=10**9,
                meta=_state_meta_read(fam), del_root=del_root, force=True,
            )
            expire_state_versions(spark, fam)
        expire_del_versions(del_root)

        mod, res = CURATION_TAKEDOWN_MOD, CURATION_TAKEDOWN_RESIDUE
        # flat families: zero tombstoned rows in LIVE state, folded
        # per-batch dirs reclaimed
        for fam in flats:
            live = spark.read.parquet(*_flat_state_paths(fam))
            assert live.filter(F.col("doc_id") % mod == res).count() == 0, fam
            assert live.count() > 0, fam
            assert not os.path.exists(f"{fam}/{_bdir(0)}"), fam
        # bucketed families: the folded base holds zero tombstoned rows
        for fam in (bands_root, ex_root):
            ver = _state_meta_read(fam)["version"]
            base = spark.read.parquet(f"{fam}/base_v{ver}")
            assert base.filter(F.col("doc_id") % mod == res).count() == 0, fam
            assert base.count() > 0, fam
        # the tombstone SET survives compaction in full (D-before-late-I)
        kept = spark.read.parquet(*_flat_state_paths(del_root)).select("doc_id")
        assert kept.distinct().count() == docs.filter(is_del).count()
        # a post-purge delete dir must survive a later expire verbatim
        spark.createDataFrame([(424242,)], "doc_id long").write.mode(
            "overwrite"
        ).parquet(f"{del_root}/{_bdir(7)}")
        expire_del_versions(del_root)
        assert os.path.exists(f"{del_root}/{_bdir(7)}")
        ids = {
            r.doc_id
            for r in spark.read.parquet(*_flat_state_paths(del_root))
            .select("doc_id")
            .distinct()
            .collect()
        }
        assert 424242 in ids
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_curation_maintain_composed_loop(spark, oracle_sf_dir):
    """r14: `curation_maintain` is the ONE cron-able maintenance entry
    point for the whole unified-curation composition — the composed
    twin of ivf_maintain/bm25_maintain.  End-to-end over a streamed
    state with takedowns:

    1. a held family lease makes the job REFUSE (raise) before
       mutating anything;
    2. the real pass folds/purges every content-derived family —
       zero tombstoned rows remain in any live state, folded per-batch
       dirs are vacuumed, the tombstone SET survives compaction;
    3. the certified serve is IDENTICAL before and after the purge;
    4. a second pass is a metadata-read NO-OP (healthy fast path)."""
    import os

    import pytest

    from tailsql_spark.plans.catalog import load_tables
    from tailsql_spark.plans.streaming_exec import (
        CURATION_TAKEDOWN_MOD,
        CURATION_TAKEDOWN_RESIDUE,
        FamilyLeaseHeld,
        _audio_fp_batch_processor,
        _bdir,
        _cc_batch_processor,
        _curation_batch_processor,
        _flat_state_paths,
        _mh_bucketed_seed,
        _minhash_bucketed_processor,
        _phash_batch_processor,
        _state_meta_read,
        _unified_batch_processor,
        _unified_curation_serve,
        _takedown_processor,
        _video_fp_batch_processor,
        acquire_family_lease,
        curation_maintain,
        release_family_lease,
    )

    docs = load_tables(spark, oracle_sf_dir)["documents"].select(
        "doc_id", "lang", "text", "n_chars"
    )
    is_del = (
        F.col("doc_id") % CURATION_TAKEDOWN_MOD == CURATION_TAKEDOWN_RESIDUE
    )
    root = tempfile.mkdtemp(prefix="tailsql_curmaint_")
    try:
        bands_root, ex_root, out_root = _mh_bucketed_seed(
            docs.select("doc_id", "text"), root
        )
        for sub, schema in (
            ("edges", "id_a long, id_b long"),
            ("labels", "doc_id long, cluster_id long"),
            ("attrs", "doc_id long, lang string, fingerprint string, n_tokens long"),
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
        process(docs.withColumn("op", F.lit("I")), 0)
        process(docs.filter(is_del).withColumn("op", F.lit("D")), 1)

        def serve_rows():
            return sorted(
                map(
                    tuple,
                    _unified_curation_serve(
                        spark, docs,
                        f"{root}/attrs", f"{root}/labels",
                        f"{root}/ph", f"{root}/fpa", f"{root}/fpv",
                        edges_root=f"{root}/edges", del_root=del_root,
                    ).collect(),
                )
            )

        before = serve_rows()

        # 1. a held family lease: the job refuses before mutating
        acquire_family_lease(f"{root}/attrs", holder="stream:live")
        with pytest.raises(FamilyLeaseHeld):
            curation_maintain(spark, root)
        release_family_lease(f"{root}/attrs")

        # 2. the real pass
        report = curation_maintain(spark, root)
        assert report["noop"] is False
        assert all(f["folded"] for f in report["families"].values()), report
        assert report["dels"] == docs.filter(is_del).count()
        assert report["tombstoned_in_live"] == 0
        mod, res = CURATION_TAKEDOWN_MOD, CURATION_TAKEDOWN_RESIDUE
        for fam in ("attrs", "ph", "fpa", "fpv"):
            live = spark.read.parquet(*_flat_state_paths(f"{root}/{fam}"))
            assert live.filter(F.col("doc_id") % mod == res).count() == 0, fam
            assert live.count() > 0, fam
            assert not os.path.exists(f"{root}/{fam}/{_bdir(0)}"), fam
        for fam in (bands_root, ex_root):
            ver = _state_meta_read(fam)["version"]
            base = spark.read.parquet(f"{fam}/base_v{ver}")
            assert base.filter(F.col("doc_id") % mod == res).count() == 0, fam
            assert base.count() > 0, fam
        kept = spark.read.parquet(*_flat_state_paths(del_root)).select("doc_id")
        assert kept.distinct().count() == docs.filter(is_del).count()

        # 3. the certified serve is unchanged by the purge
        assert serve_rows() == before

        # 4. second pass: healthy fast path, metadata reads only
        report2 = curation_maintain(spark, root)
        assert report2["noop"] is True
        assert not any(f["folded"] for f in report2["families"].values())
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_flat_purge_crash_window_invisible(spark, tmp_path):
    """A crash between purge_flat_family's base write and its meta
    commit must leave the new base INVISIBLE: _flat_state_paths reads
    only the pointer-committed base version plus per-batch dirs, so a
    half-committed purge can neither double-count a folded row nor
    hide an unfolded one."""
    from tailsql_spark.plans.streaming_exec import (
        _bdir,
        _flat_state_paths,
        purge_flat_family,
    )

    root = str(tmp_path / "fam")
    spark.createDataFrame([], "doc_id long, fh string").write.parquet(f"{root}/seed")
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, fh string"
    ).write.parquet(f"{root}/{_bdir(0)}")
    # simulate the crash: the would-be base exists, no meta pointer
    spark.createDataFrame([(1, "a")], "doc_id long, fh string").write.parquet(
        f"{root}/base_v1"
    )
    live = spark.read.parquet(*_flat_state_paths(root))
    assert live.count() == 3  # uncommitted base ignored, no dups
    # the retried purge commits atomically and supersedes the orphan
    dels = spark.createDataFrame([(2,)], "doc_id long")
    purge_flat_family(spark, root, dels)
    live = spark.read.parquet(*_flat_state_paths(root))
    assert {r.doc_id for r in live.collect()} == {1, 3}
    assert live.count() == 2


def _assert_no_rows(df, msg):
    assert df.limit(1).count() == 0, msg


def test_minhash_takedown_physical_purge_and_vacuum(spark, sf_dir):
    """r14 (VERDICT r13 gap #1, flat MinHash twin): after the takedown
    row's offline purge, the live shingle/signature state contains ZERO
    rows for deleted docs, the pair log references no deleted endpoint,
    and the folded per-batch dirs are physically vacuumed."""
    import os

    from tailsql_spark.plans.streaming_exec import (
        MINHASH_TAKEDOWN_MOD,
        MINHASH_TAKEDOWN_RESIDUE,
        _flat_state_paths,
        stream_minhash_takedown,
    )

    root = tempfile.mkdtemp(prefix="tailsql_mhtake_purge_")
    try:
        stream_minhash_takedown(spark, sf_dir, state_root=root)
        is_del = (
            F.col("doc_id") % MINHASH_TAKEDOWN_MOD == MINHASH_TAKEDOWN_RESIDUE
        )
        for fam in ("ex", "sig"):
            live = spark.read.parquet(*_flat_state_paths(f"{root}/{fam}"))
            assert live.count() > 0, fam  # non-trivial state survived
            _assert_no_rows(live.filter(is_del), f"{fam}: tombstoned rows live")
        pairs = spark.read.parquet(*_flat_state_paths(f"{root}/pairs"))
        for col in ("id_a", "id_b"):
            _assert_no_rows(
                pairs.filter(
                    F.col(col) % MINHASH_TAKEDOWN_MOD == MINHASH_TAKEDOWN_RESIDUE
                ),
                f"pairs.{col}: deleted endpoint survives",
            )
        # vacuum: folded per-batch dirs are gone from every purged family
        for fam in ("ex", "sig", "pairs", "del"):
            stale = [
                d
                for d in os.listdir(f"{root}/{fam}")
                if d.startswith("b") and d[1:].isdigit()
            ]
            assert not stale, (fam, stale)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_substr_takedown_purge_rebuilds_gram_sets(spark, sf_dir):
    """r14: the substring takedown's offline pass purges deleted docs'
    positional windows AND rebuilds dup/pending from the survivors —
    a gram duplicated only via a deleted doc is demoted out of dup; a
    gram exclusive to deleted docs vanishes from every gram family."""
    from tailsql_spark.operators.dedup import doc_pos_grams
    from tailsql_spark.plans.catalog import load_tables
    from tailsql_spark.plans.streaming_exec import (
        SUBSTR_TAKEDOWN_MOD,
        SUBSTR_TAKEDOWN_RESIDUE,
        _flat_state_paths,
        stream_substr_takedown,
    )

    root = tempfile.mkdtemp(prefix="tailsql_sstake_purge_")
    try:
        stream_substr_takedown(spark, sf_dir, state_root=root)
        docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
        is_del = (
            F.col("doc_id") % SUBSTR_TAKEDOWN_MOD == SUBSTR_TAKEDOWN_RESIDUE
        )
        pos = spark.read.parquet(*_flat_state_paths(f"{root}/pos"))
        _assert_no_rows(pos.filter(is_del), "pos: tombstoned rows live")
        # grams exclusive to deleted docs must be gone from dup/pending
        all_g = doc_pos_grams(docs)
        dead_only = (
            all_g.filter(is_del)
            .select("g")
            .join(all_g.filter(~is_del).select("g"), "g", "left_anti")
            .distinct()
        )
        for fam in ("dup", "pending"):
            state_g = spark.read.parquet(*_flat_state_paths(f"{root}/{fam}"))
            _assert_no_rows(
                state_g.join(dead_only, "g", "left_semi"),
                f"{fam}: dead-only gram survives",
            )
        # dup state equals the live recount (demotion applied)
        live_dup = (
            all_g.filter(~is_del)
            .groupBy("g")
            .agg(F.count("*").alias("c"))
            .filter(F.col("c") >= 2)
            .select("g")
        )
        dup_state = spark.read.parquet(
            *_flat_state_paths(f"{root}/dup")
        ).select("g").distinct()
        assert dup_state.exceptAll(live_dup).count() == 0
        assert live_dup.exceptAll(dup_state).count() == 0
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_contam_takedown_purge_and_hit_folding(spark, sf_dir):
    """r14: the contamination takedown physically erases deleted train
    docs' (doc_id, gram) rows and folds away hits whose gram lost all
    live train support; hits with surviving support stay."""
    from tailsql_spark.plans.streaming_exec import (
        CONTAM_TAKEDOWN_MOD,
        CONTAM_TAKEDOWN_RESIDUE,
        _flat_state_paths,
        stream_contam_takedown,
    )

    root = tempfile.mkdtemp(prefix="tailsql_cttake_purge_")
    try:
        stream_contam_takedown(spark, sf_dir, state_root=root)
        is_del = (
            F.col("doc_id") % CONTAM_TAKEDOWN_MOD == CONTAM_TAKEDOWN_RESIDUE
        )
        train = spark.read.parquet(*_flat_state_paths(f"{root}/train_pairs"))
        assert train.count() > 0
        _assert_no_rows(train.filter(is_del), "train_pairs: tombstoned rows live")
        live_g = train.select("g").distinct()
        hits = spark.read.parquet(*_flat_state_paths(f"{root}/hits"))
        _assert_no_rows(
            hits.join(live_g, "g", "left_anti"),
            "hits: gram without live train support survives",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_semdedup_takedown_purge_and_reelection(spark, sf_dir):
    """r14: the SemDeDup takedown erases deleted vectors' member rows
    (the embedding content), folds the pair log on both endpoints, and
    the served pruned_by is re-elected among survivors (min over the
    surviving pair log, never a deleted id)."""
    from tailsql_spark.plans.streaming_exec import (
        SEMDEDUP_TAKEDOWN_MOD,
        SEMDEDUP_TAKEDOWN_RESIDUE,
        _flat_state_paths,
        stream_semdedup_takedown,
    )

    root = tempfile.mkdtemp(prefix="tailsql_sdtake_purge_")
    try:
        res = stream_semdedup_takedown(spark, sf_dir, state_root=root)
        is_del_v = (
            F.col("vec_id") % SEMDEDUP_TAKEDOWN_MOD == SEMDEDUP_TAKEDOWN_RESIDUE
        )
        members = spark.read.parquet(*_flat_state_paths(f"{root}/members"))
        assert members.count() > 0
        _assert_no_rows(members.filter(is_del_v), "members: tombstoned rows live")
        pairs = spark.read.parquet(*_flat_state_paths(f"{root}/pairs"))
        for col in ("vec_id", "p"):
            _assert_no_rows(
                pairs.filter(
                    F.col(col) % SEMDEDUP_TAKEDOWN_MOD
                    == SEMDEDUP_TAKEDOWN_RESIDUE
                ),
                f"pairs.{col}: deleted endpoint survives",
            )
        # served labels never reference a deleted id
        _assert_no_rows(res.filter(is_del_v), "result contains deleted vec")
        _assert_no_rows(
            res.filter(
                F.col("pruned_by") % SEMDEDUP_TAKEDOWN_MOD
                == SEMDEDUP_TAKEDOWN_RESIDUE
            ),
            "pruned_by references deleted vec",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_substr_takedown_replayed_D_and_late_I_suppressed(spark, sf_dir):
    """r14: the generic takedown wrapper + substr processor under
    at-least-once delivery — a replayed 'D' batch is idempotent, and an
    'I' for an already-tombstoned doc arriving LATER writes no
    content-derived state for it (the probe-side anti-join)."""
    from tailsql_spark.plans.catalog import load_tables
    from tailsql_spark.operators.dedup import doc_pos_grams
    from tailsql_spark.plans.streaming_exec import (
        _flat_state_paths,
        _substr_batch_processor,
        _takedown_processor,
    )

    docs = (
        load_tables(spark, sf_dir)["documents"]
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(8)
    )
    dead_id = docs.head().doc_id
    root = tempfile.mkdtemp(prefix="tailsql_sstake_replay_")
    try:
        empty_pg = doc_pos_grams(docs.limit(0))
        for fam in ("pos", "dup", "pending"):
            (empty_pg if fam == "pos" else empty_pg.select("g")).write.mode(
                "overwrite"
            ).parquet(f"{root}/{fam}/seed")
        spark.createDataFrame([], "doc_id long").write.mode("overwrite").parquet(
            f"{root}/del/seed"
        )
        process = _takedown_processor(
            _substr_batch_processor(
                f"{root}/pos", f"{root}/dup", f"{root}/pending",
                del_root=f"{root}/del",
            ),
            f"{root}/del",
        )
        with_op = lambda df, op: df.withColumn("op", F.lit(op))  # noqa: E731
        # batch 0: everything except the doomed doc
        process(with_op(docs.filter(F.col("doc_id") != dead_id), "I"), 0)
        # batch 1: the 'D' — run TWICE (replay after crash)
        dbatch = with_op(docs.filter(F.col("doc_id") == dead_id), "D").select(
            "doc_id", "text", "op"
        )
        process(dbatch, 1)
        state_after_first = spark.read.parquet(
            *_flat_state_paths(f"{root}/pos")
        ).count()
        process(dbatch, 1)
        assert (
            spark.read.parquet(*_flat_state_paths(f"{root}/pos")).count()
            == state_after_first
        )
        # batch 2: the LATE 'I' for the tombstoned doc — suppressed
        process(with_op(docs.filter(F.col("doc_id") == dead_id), "I"), 2)
        pos = spark.read.parquet(*_flat_state_paths(f"{root}/pos"))
        assert pos.filter(F.col("doc_id") == dead_id).count() == 0
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_flat_minhash_takedown_suppresses_candidates(spark, oracle_sf_dir):
    """r14: the FLAT MinHash processor's del_root path — after a doc's
    'D' commits, an exact copy of its text under a fresh id finds NO
    pair against it, while the same probe against a live doc matches
    (mirror of the bucketed-processor test)."""
    from tailsql_spark.plans.catalog import load_tables
    from tailsql_spark.plans.streaming_exec import (
        _bdir,
        _mh_seed_state,
        _minhash_batch_processor,
    )

    docs = load_tables(spark, oracle_sf_dir)["documents"].select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="tailsql_mhtake_cand_")
    try:
        ex_root, sig_root, out_root = _mh_seed_state(docs, root)
        del_root = f"{root}/del"
        spark.createDataFrame([], "doc_id long").write.mode("overwrite").parquet(
            f"{del_root}/seed"
        )
        process = _minhash_batch_processor(
            ex_root, sig_root, out_root, del_root=del_root
        )
        two = docs.orderBy("doc_id").limit(2).collect()
        dead, live = two[0], two[1]
        process(docs.filter(F.col("doc_id").isin(dead.doc_id, live.doc_id)), 0)
        spark.createDataFrame([(dead.doc_id,)], "doc_id long").write.mode(
            "overwrite"
        ).parquet(f"{del_root}/{_bdir(1)}")
        process(docs.limit(0), 1)
        probe = spark.createDataFrame(
            [(900001, dead.text), (900002, live.text)], "doc_id long, text string"
        )
        process(probe, 2)
        pairs = {
            (r.id_a, r.id_b)
            for r in spark.read.parquet(f"{out_root}/{_bdir(2)}").collect()
        }
        assert (live.doc_id, 900002) in pairs, pairs
        assert all(dead.doc_id not in p for p in pairs), pairs
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_ivf_retrain_quantizer_recovers_drifted_state(spark, oracle_sf_dir):
    """r14 (VERDICT r13 gap #2 — the drift gate fired into a void): a
    deliberately-degenerate quantizer (every seed the same vector, so
    every assignment collapses into cell 0) trips ivf_cell_imbalance;
    ivf_retrain_quantizer then re-learns the cells from the
    accumulated state and commits the (new seeds, new cells) pair
    atomically.  Asserts:

    1. GATE TRIPS on the drifted state;
    2. RE-TRAIN brings imbalance back under IVF_IMBALANCE_MAX;
    3. RECALL RE-CERTIFICATION: ivf_recertify_recall escalates the
       probe count until the re-trained state meets the batch index's
       0.85 floor (the re-learned geometry needs 3 probes where the
       staged quantizer needed 2 — the smoothness/recall trade the
       helper exists for);
    4. NO VECTOR LOST across the cutover (live row count preserved);
    5. INGESTION RESUMES on the new quantizer: a post-cutover batch is
       assigned under the new seeds, lands under the new manifest
       version, and is immediately served (an exact copy of a query
       vector must surface as its top neighbor)."""
    from tailsql_spark.operators.similarity import (
        N_PROBES,
        N_QUERIES_IDX,
        RECALL_K,
        _recall_vs_brute,
        as_double,
        ivf_cell_count,
        norm,
    )
    from tailsql_spark.plans.catalog import load_tables
    from tailsql_spark.plans.streaming_exec import (
        IVF_IMBALANCE_MAX,
        _bucket_manifest_seed,
        _ivf_index_processor,
        _ivf_index_serve,
        _ivf_seeds_dir,
        _state_meta_read,
        IVF_RECALL_FLOOR,
        ivf_cell_imbalance,
        ivf_recertify_recall,
        ivf_retrain_quantizer,
    )

    emb = load_tables(spark, oracle_sf_dir)["embeddings"].select(
        "vec_id", "embedding"
    )
    embd = emb.select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    ).withColumn("nrm", norm(F.col("v")))
    n_vec = embd.count()
    nc = ivf_cell_count(n_vec)
    assert nc > IVF_IMBALANCE_MAX  # the collapse must be able to trip the gate

    root = tempfile.mkdtemp(prefix="tailsql_ivf_retrain_")
    try:
        seeds_path = f"{root}/seeds"
        # DEGENERATE quantizer: nc copies of vector 0 — ties resolve to
        # the lowest seed id, so every vector lands in cell 0
        v0 = embd.filter(F.col("vec_id") == 0).select("v", "nrm")
        spark.range(int(nc)).select(F.col("id").alias("vec_id")).join(
            v0
        ).write.mode("overwrite").parquet(seeds_path)
        cells = f"{root}/cells"
        spark.createDataFrame(
            [], "vec_id long, v array<double>, nrm double, ccell long"
        ).write.mode("overwrite").parquet(f"{cells}/seed")
        _bucket_manifest_seed(spark.createDataFrame([], "x long"), cells)
        process = _ivf_index_processor(cells, seeds_path)
        process(emb.filter(F.col("vec_id") % 2 == 0), 0)
        process(emb.filter(F.col("vec_id") % 2 == 1), 1)

        drifted = ivf_cell_imbalance(spark, cells)
        assert drifted > IVF_IMBALANCE_MAX, drifted  # 1. the gate fires

        meta = ivf_retrain_quantizer(spark, cells, seeds_path)
        assert meta["version"] == 1 and meta["seeds_version"] == 1
        assert _ivf_seeds_dir(cells, seeds_path) == f"{seeds_path}_v1"

        healthy = ivf_cell_imbalance(spark, cells)
        assert healthy < IVF_IMBALANCE_MAX, (drifted, healthy)  # 2.

        cert = ivf_recertify_recall(
            spark, oracle_sf_dir, cells, seeds_path, N_QUERIES_IDX
        )
        assert cert["recall"] >= IVF_RECALL_FLOOR, cert  # 3.
        assert cert["n_probes"] <= 4, cert

        base = spark.read.parquet(f"{cells}/base_v1")
        assert base.count() == n_vec  # 4. no vector lost in the rewrite
        assert base.select("ccell").distinct().count() > 1  # genuinely re-spread

        # 5. ingestion resumes on the new quantizer: a copy of query 0
        # under a fresh id must be assigned via the NEW seeds and served
        # as query 0's top neighbor
        fresh_id = 10_000_000
        copy = (
            emb.filter(F.col("vec_id") == 0)
            .select(F.lit(fresh_id).cast("long").alias("vec_id"), "embedding")
        )
        process(copy, 2)
        assert int(_state_meta_read(cells)["version"]) == 1
        served = _ivf_index_serve(
            spark, oracle_sf_dir, cells, seeds_path, 1, n_probes=N_PROBES
        )
        top = served.filter(F.col("query_id") == 0).orderBy("rnk").head()
        assert top.neighbor_id == fresh_id, top
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_family_lease_guards_folds_and_purges(spark, tmp_path):
    """r14 (VERDICT r13 gap #6): the offline purges were guarded by
    convention only.  Now every fold/purge entry point takes a lease
    file (atomic create, stale-TTL):

    1. a purge attempted while a FRESH lease is held raises
       FamilyLeaseHeld (both local and file:// URI roots);
    2. a STALE lease (holder crashed without release) is reclaimed;
    3. the SAME holder re-entering (a replayed fold after a crash)
       reclaims immediately instead of stalling out the TTL;
    4. purge_flat_family and _compact_del_log actually refuse under a
       held lease and succeed after release, and a forced offline fold
       refuses a fresh lease another offline fold holds."""
    import json
    import time

    import pytest

    from tailsql_spark.plans.streaming_exec import (
        FamilyLeaseHeld,
        _compact_del_log,
        acquire_family_lease,
        purge_flat_family,
        release_family_lease,
    )

    root = str(tmp_path / "fam")
    (tmp_path / "fam").mkdir()
    # 1. fresh lease blocks a second acquirer
    acquire_family_lease(root, holder="stream:run1")
    with pytest.raises(FamilyLeaseHeld):
        acquire_family_lease(root, holder="purge:123")
    # 3. the same holder re-enters (crash + replay)
    acquire_family_lease(root, holder="stream:run1")
    release_family_lease(root)
    # 2. stale lease is reclaimed
    with open(f"{root}/_lease.json", "w") as fh:
        fh.write(json.dumps({"holder": "dead", "ts": time.time() - 7200}))
    acquire_family_lease(root, holder="purge:456", ttl_sec=3600)
    release_family_lease(root)

    # URI (Hadoop FS) branch
    uroot = f"file://{tmp_path}/ufam"
    acquire_family_lease(uroot, holder="a")
    with pytest.raises(FamilyLeaseHeld):
        acquire_family_lease(uroot, holder="b")
    release_family_lease(uroot)
    acquire_family_lease(uroot, holder="b")
    release_family_lease(uroot)

    # 4. real entry points refuse under a held lease
    fam = str(tmp_path / "flat")
    spark.createDataFrame([(1,), (2,)], "doc_id long").write.parquet(f"{fam}/seed")
    spark.createDataFrame([(3,)], "doc_id long").write.parquet(f"{fam}/b00000")
    dels = spark.createDataFrame([(3,)], "doc_id long")
    acquire_family_lease(fam, holder="stream:live")
    with pytest.raises(FamilyLeaseHeld):
        purge_flat_family(spark, fam, dels)
    release_family_lease(fam)
    purge_flat_family(spark, fam, dels)  # now succeeds
    from tailsql_spark.plans.streaming_exec import _flat_state_paths

    live = spark.read.parquet(*_flat_state_paths(fam))
    assert {r.doc_id for r in live.collect()} == {1, 2}

    dlog = str(tmp_path / "dlog")
    spark.createDataFrame([], "doc_id long").write.parquet(f"{dlog}/seed")
    spark.createDataFrame([(9,)], "doc_id long").write.parquet(f"{dlog}/b00000")
    acquire_family_lease(dlog, holder="stream:live")
    with pytest.raises(FamilyLeaseHeld):
        _compact_del_log(spark, dlog, "doc_id", None)
    release_family_lease(dlog)
    _compact_del_log(spark, dlog, "doc_id", None)

    # an OFFLINE forced fold must refuse a fresh lease another offline
    # fold holds: the holder of every forced fold was once the sentinel
    # "fold:b1000000000", which acquire read as this fold's own crash
    # replay — so a second maintain took over a live lease and folded
    from tailsql_spark.plans.streaming_exec import (
        _bucket_manifest_seed,
        _bucket_manifest_write,
        _rebucket_family,
        _state_meta_read,
    )

    bfam = str(tmp_path / "bucketed")
    empty = spark.createDataFrame([], "doc_id long, kb long")
    empty.write.parquet(f"{bfam}/seed")
    _bucket_manifest_seed(empty, bfam)
    rows = spark.createDataFrame([(1, 1), (2, 2)], "doc_id long, kb long")
    rows.write.partitionBy("kb").parquet(f"{bfam}/b00000")
    _bucket_manifest_write(rows, bfam, "kb", 0)
    with open(f"{bfam}/_lease.json", "w") as fh:
        fh.write(json.dumps({"holder": "fold:b1000000000", "ts": time.time()}))
    with pytest.raises(FamilyLeaseHeld):
        _rebucket_family(
            spark, bfam, "kb", F.col("doc_id"), exclude_bid=10**9,
            meta=_state_meta_read(bfam), force=True,
        )
    assert _state_meta_read(bfam)["version"] == 0


def test_release_family_lease_verifies_holder(tmp_path):
    """r17 (ADVICE r16): a holder whose pass outlived the TTL is
    reclaimed by a waiter; the misjudged holder's ``finally`` then
    calls release.  With ``holder`` passed, the release must verify
    the lease file still names THIS holder and leave a reclaimant's
    fresh lease alone — an unconditional delete would silently drop
    the reclaimant's mutual exclusion."""
    import json
    import time

    from tailsql_spark.plans.streaming_exec import (
        FamilyLeaseHeld,
        acquire_family_lease,
        release_family_lease,
    )

    root = str(tmp_path / "fam")
    (tmp_path / "fam").mkdir()
    # slow holder A takes the lease; then a waiter B TTL-reclaims it
    acquire_family_lease(root, holder="fold:A")
    with open(f"{root}/_lease.json", "w") as fh:
        fh.write(json.dumps({"holder": "fold:B", "ts": time.time()}))
    # A's finally fires late: must NOT delete B's lease
    release_family_lease(root, holder="fold:A")
    import pytest

    with pytest.raises(FamilyLeaseHeld):
        acquire_family_lease(root, holder="fold:C")
    # B's own release (matching holder) removes it
    release_family_lease(root, holder="fold:B")
    acquire_family_lease(root, holder="fold:C")
    # holderless release keeps the unconditional-delete behavior
    release_family_lease(root)
    # release with holder on a MISSING lease is an idempotent no-op
    release_family_lease(root, holder="fold:C")


def test_ivf_purge_preserves_retrained_quantizer(spark, oracle_sf_dir):
    """r14 review: a routine ivf_purge_takedowns after a re-train must
    carry seeds_version through its meta commit — dropping it reverts
    probes and ingestion to the STAGED quantizer against cells laid
    out by the re-trained one (the new-cells-under-old-seeds mismatch
    the atomic cutover forbids)."""
    from tailsql_spark.operators.similarity import (
        as_double,
        ivf_cell_count,
        norm,
    )
    from tailsql_spark.plans.catalog import load_tables
    from tailsql_spark.plans.streaming_exec import (
        _bucket_manifest_seed,
        _ivf_index_processor,
        _ivf_seeds_dir,
        _state_meta_read,
        ivf_purge_takedowns,
        ivf_retrain_quantizer,
    )

    emb = load_tables(spark, oracle_sf_dir)["embeddings"].select(
        "vec_id", "embedding"
    )
    embd = emb.select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    ).withColumn("nrm", norm(F.col("v")))
    nc = ivf_cell_count(embd.count())
    root = tempfile.mkdtemp(prefix="tailsql_ivf_purge_seeds_")
    try:
        seeds_path = f"{root}/seeds"
        embd.filter(F.col("vec_id") < nc).select(
            "vec_id", "v", "nrm"
        ).write.mode("overwrite").parquet(seeds_path)
        cells = f"{root}/cells"
        del_root = f"{root}/del"
        spark.createDataFrame(
            [], "vec_id long, v array<double>, nrm double, ccell long"
        ).write.mode("overwrite").parquet(f"{cells}/seed")
        spark.createDataFrame([], "vec_id long").write.mode(
            "overwrite"
        ).parquet(f"{del_root}/seed")
        _bucket_manifest_seed(spark.createDataFrame([], "x long"), cells)
        process = _ivf_index_processor(cells, seeds_path, del_root)
        process(emb.withColumn("op", F.lit("I")), 0)

        meta1 = ivf_retrain_quantizer(spark, cells, seeds_path)
        assert meta1["seeds_version"] == 1
        meta2 = ivf_purge_takedowns(spark, cells, del_root)
        assert int(meta2.get("seeds_version", 0)) == 1, meta2
        assert _ivf_seeds_dir(cells, seeds_path) == f"{seeds_path}_v1"
        assert int(_state_meta_read(cells)["seeds_version"]) == 1
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_flat_minhash_resume_after_purge_sees_history(spark, oracle_sf_dir):
    """r14 review: the flat MinHash processor's history reads must be
    meta-aware — after stream_minhash_takedown's purge+vacuum folds the
    live state into base_v1, a resumed stream's new batch must still
    discover pairs against the PRE-PURGE live history (the plain
    listing would see only seed + post-purge deltas and silently stop
    pairing)."""
    from tailsql_spark.plans.catalog import load_tables
    from tailsql_spark.plans.streaming_exec import (
        _bdir,
        _mh_seed_state,
        _minhash_batch_processor,
        expire_del_versions,
        purge_flat_family,
    )

    docs = load_tables(spark, oracle_sf_dir)["documents"].select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="tailsql_mhtake_resume_")
    try:
        ex_root, sig_root, out_root = _mh_seed_state(docs, root)
        del_root = f"{root}/del"
        spark.createDataFrame([], "doc_id long").write.mode("overwrite").parquet(
            f"{del_root}/seed"
        )
        process = _minhash_batch_processor(
            ex_root, sig_root, out_root, del_root=del_root
        )
        two = docs.orderBy("doc_id").limit(2).collect()
        dead, live = two[0], two[1]
        process(docs.filter(F.col("doc_id").isin(dead.doc_id, live.doc_id)), 0)
        # tombstone the first doc, then PHYSICALLY purge + vacuum
        spark.createDataFrame([(dead.doc_id,)], "doc_id long").write.mode(
            "overwrite"
        ).parquet(f"{del_root}/{_bdir(1)}")
        process(docs.limit(0), 1)
        dels = spark.createDataFrame([(dead.doc_id,)], "doc_id long")
        for fam in (ex_root, sig_root):
            purge_flat_family(spark, fam, dels)
            expire_del_versions(fam)
        # resume: a copy of the LIVE doc must still pair against the
        # purged-but-present history base
        probe = spark.createDataFrame(
            [(900002, live.text)], "doc_id long, text string"
        )
        process(probe, 2)
        pairs = {
            (r.id_a, r.id_b)
            for r in spark.read.parquet(f"{out_root}/{_bdir(2)}").collect()
        }
        assert (live.doc_id, 900002) in pairs, pairs
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_ivf_maintain_closed_loop(spark, oracle_sf_dir):
    """r14: the one cron-able maintenance entry point — healthy state
    is a cheap no-op (compaction + gate check, no re-train); a drifted
    state purges, re-trains, vacuums the superseded version, and
    re-certifies recall, all through the family lease."""
    import os

    from tailsql_spark.operators.similarity import (
        as_double,
        ivf_cell_count,
        norm,
    )
    from tailsql_spark.plans.catalog import load_tables
    from tailsql_spark.plans.streaming_exec import (
        IVF_IMBALANCE_MAX,
        IVF_RECALL_FLOOR,
        _bucket_manifest_seed,
        _ivf_index_processor,
        ivf_maintain,
    )

    emb = load_tables(spark, oracle_sf_dir)["embeddings"].select(
        "vec_id", "embedding"
    )
    embd = emb.select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    ).withColumn("nrm", norm(F.col("v")))
    nc = ivf_cell_count(embd.count())
    root = tempfile.mkdtemp(prefix="tailsql_ivf_maintain_")
    try:
        seeds_path = f"{root}/seeds"
        # DEGENERATE quantizer: collapse drives the loop through the
        # re-train branch
        v0 = embd.filter(F.col("vec_id") == 0).select("v", "nrm")
        spark.range(int(nc)).select(F.col("id").alias("vec_id")).join(
            v0
        ).write.mode("overwrite").parquet(seeds_path)
        cells = f"{root}/cells"
        del_root = f"{root}/del"
        spark.createDataFrame(
            [], "vec_id long, v array<double>, nrm double, ccell long"
        ).write.mode("overwrite").parquet(f"{cells}/seed")
        spark.createDataFrame([], "vec_id long").write.mode(
            "overwrite"
        ).parquet(f"{del_root}/seed")
        _bucket_manifest_seed(spark.createDataFrame([], "x long"), cells)
        process = _ivf_index_processor(cells, seeds_path, del_root)
        process(emb.withColumn("op", F.lit("I")), 0)

        report = ivf_maintain(
            spark, oracle_sf_dir, cells, seeds_path, del_root=del_root
        )
        assert report["purged"] and report["retrained"], report
        assert report["imbalance_before"] > IVF_IMBALANCE_MAX
        assert report["imbalance_after"] < IVF_IMBALANCE_MAX
        assert report["recall"] >= IVF_RECALL_FLOOR
        # superseded versions vacuumed: only the live base + seed +
        # manifest + lease remain under cells
        entries = sorted(os.listdir(cells))
        assert not any(e.startswith("b0") for e in entries), entries

        # a second maintenance pass on the now-healthy state: no re-train
        report2 = ivf_maintain(
            spark, oracle_sf_dir, cells, seeds_path, del_root=del_root
        )
        assert report2["retrained"] is False, report2
        assert report2["imbalance_before"] < IVF_IMBALANCE_MAX
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_ivf_retrain_sampled_training_final_assignment_complete(
    spark, oracle_sf_dir, monkeypatch
):
    """r14: past IVF_TRAIN_PER_CELL live vectors per cell the re-train's
    mean-update iterations ride a deterministic hash-sample (the FAISS
    train-on-a-sample discipline — every Lloyd iteration is an |V|x|C|
    assignment and the dial keeps |C| proportional to |V|, so
    full-corpus training grows ~quadratically).  The invariants that
    must survive sampling:

    1. the budget ENGAGES (this test forces it at sf0.01 by shrinking
       the per-cell budget, the same arithmetic production hits at 10x);
    2. NO VECTOR LOST: the committed base holds exactly the live corpus;
    3. the committed quantizer IS the one that assigned the base: a
       fresh full-corpus assign_cells under the committed seeds
       reproduces the base's (vec_id, ccell) mapping exactly — the
       sample may steer the means, but the final full assignment and
       the committed seeds cut over together;
    4. the drift gate still closes (imbalance back under the max);
    5. QUALITY survives the sample: recall re-certification reaches
       the batch floor over the sampled-trained geometry.  Probe
       escalation is allowed past the usual 4 (the production lever —
       an 8-per-cell sample at a 500-vector corpus is far noisier per
       cell than production's 64-per-cell budget, and noisy means cost
       probes, not correctness; the floor itself is NOT relaxed)."""
    import tailsql_spark.plans.streaming_exec as SE
    from tailsql_spark.operators.similarity import (
        as_double,
        assign_cells,
        ivf_cell_count,
        norm,
    )
    from tailsql_spark.plans.catalog import load_tables

    emb = load_tables(spark, oracle_sf_dir)["embeddings"].select(
        "vec_id", "embedding"
    )
    embd = emb.select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    ).withColumn("nrm", norm(F.col("v")))
    n = embd.count()
    nc = ivf_cell_count(n)
    monkeypatch.setattr(SE, "IVF_TRAIN_PER_CELL", 8)
    assert n > 2 * 8 * nc, "budget must engage for this test to bite"
    root = tempfile.mkdtemp(prefix="tailsql_ivf_sampled_")
    try:
        seeds_path = f"{root}/seeds"
        v0 = embd.filter(F.col("vec_id") == 0).select("v", "nrm")
        spark.range(int(nc)).select(F.col("id").alias("vec_id")).join(
            v0
        ).write.mode("overwrite").parquet(seeds_path)
        cells = f"{root}/cells"
        spark.createDataFrame(
            [], "vec_id long, v array<double>, nrm double, ccell long"
        ).write.mode("overwrite").parquet(f"{cells}/seed")
        SE._bucket_manifest_seed(spark.createDataFrame([], "x long"), cells)
        SE._ivf_index_processor(cells, seeds_path)(emb, 0)

        meta = SE.ivf_retrain_quantizer(spark, cells, seeds_path, n_iters=3)

        man = spark.read.option("recursiveFileLookup", "true").parquet(
            SE._manifest_dir(cells, int(meta["version"]))
        )
        paths = [r.path for r in man.select("path").distinct().collect()]
        state = spark.read.parquet(*paths).select("vec_id", "ccell")
        assert state.count() == n  # no vector lost
        assert (
            state.select("vec_id").distinct().count() == n
        )  # ...and none duplicated
        committed = spark.read.parquet(
            SE._ivf_seeds_dir(cells, seeds_path)
        ).select(
            F.col("vec_id").alias("seed_id"),
            F.col("v").alias("sv"),
            F.col("nrm").alias("sn"),
        )
        fresh = assign_cells(embd, committed).select(
            "vec_id", F.col("cell").cast("long").alias("fresh_cell")
        )
        mismatched = (
            state.join(fresh, "vec_id")
            .filter(F.col("ccell") != F.col("fresh_cell"))
            .count()
        )
        assert mismatched == 0  # committed seeds == the seeds that assigned
        assert SE.ivf_cell_imbalance(spark, cells) < SE.IVF_IMBALANCE_MAX
        # 5. QUALITY survives the sample: the re-certification loop
        #    still reaches the batch recall floor over the sampled-
        #    trained geometry (probe escalation allowed, as always)
        from tailsql_spark.operators.similarity import N_QUERIES_IDX

        cert = SE.ivf_recertify_recall(
            spark, oracle_sf_dir, cells, seeds_path, N_QUERIES_IDX,
            max_probes=8,
        )
        assert cert["recall"] >= SE.IVF_RECALL_FLOOR, cert
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_video_takedown_physical_purge_and_vacuum(spark, sf_dir):
    """r14: the STANDALONE video takedown row (the modality logs were
    already purged inside the composed curation takedown; this covers
    the single-pipeline deployment).  After the offline purge the live
    frame-posting log holds zero deleted-doc rows, no deleted doc is
    served, and the folded per-batch dirs are physically vacuumed."""
    import os

    from tailsql_spark.plans.streaming_exec import (
        VIDEO_TAKEDOWN_MOD,
        VIDEO_TAKEDOWN_RESIDUE,
        _flat_state_paths,
        stream_video_takedown,
    )

    root = tempfile.mkdtemp(prefix="tailsql_vidtake_purge_")
    try:
        out = stream_video_takedown(spark, sf_dir, state_root=root)
        is_del = (
            F.col("doc_id") % VIDEO_TAKEDOWN_MOD == VIDEO_TAKEDOWN_RESIDUE
        )
        live = spark.read.parquet(*_flat_state_paths(f"{root}/fp"))
        assert live.count() > 0  # non-trivial state survived
        _assert_no_rows(live.filter(is_del), "fp: tombstoned rows live")
        _assert_no_rows(out.filter(is_del), "serve: deleted doc served")
        for fam in ("fp", "del"):
            stale = [
                d
                for d in os.listdir(f"{root}/{fam}")
                if d.startswith("b") and d[1:].isdigit()
            ]
            assert not stale, (fam, stale)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_audio_takedown_physical_purge_and_vacuum(spark, sf_dir):
    """r14: the standalone audio takedown twin — after the offline
    purge the live fingerprint log holds zero deleted-doc rows, no
    deleted doc is served, and folded per-batch dirs are vacuumed."""
    import os

    from tailsql_spark.plans.streaming_exec import (
        AUDIO_TAKEDOWN_MOD,
        AUDIO_TAKEDOWN_RESIDUE,
        _flat_state_paths,
        stream_audio_takedown,
    )

    root = tempfile.mkdtemp(prefix="tailsql_audtake_purge_")
    try:
        out = stream_audio_takedown(spark, sf_dir, state_root=root)
        is_del = (
            F.col("doc_id") % AUDIO_TAKEDOWN_MOD == AUDIO_TAKEDOWN_RESIDUE
        )
        live = spark.read.parquet(*_flat_state_paths(f"{root}/fp"))
        assert live.count() > 0  # non-trivial state survived
        _assert_no_rows(live.filter(is_del), "fp: tombstoned rows live")
        _assert_no_rows(out.filter(is_del), "serve: deleted doc served")
        for fam in ("fp", "del"):
            stale = [
                d
                for d in os.listdir(f"{root}/{fam}")
                if d.startswith("b") and d[1:].isdigit()
            ]
            assert not stale, (fam, stale)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_bm25_maintain_closed_loop(spark, oracle_sf_dir):
    """r14: the one cron-able BM25 maintenance entry point (twin of
    test_ivf_maintain_closed_loop).  A state with unfolded deltas and
    tombstones folds + purges (zero tombstoned postings in the base,
    serve unchanged, superseded dirs vacuumed); a second pass on the
    now-healthy state is the metadata-only no-op fast path."""
    import os

    import tailsql_spark.plans.streaming_exec as SE
    from tailsql_spark.plans.catalog import load_tables
    from tailsql_spark.plans.streaming_exec import (
        BM25_TAKEDOWN_MOD,
        BM25_TAKEDOWN_RESIDUE,
        _bm25_index_processor,
        _bm25_index_seed,
        _bm25_index_serve,
        bm25_maintain,
    )

    docs = load_tables(spark, oracle_sf_dir)["documents"].select("doc_id", "text")
    is_del = F.col("doc_id") % BM25_TAKEDOWN_MOD == BM25_TAKEDOWN_RESIDUE
    root = tempfile.mkdtemp(prefix="tailsql_bm25_maintain_")
    try:
        post_root, stat_root, del_root = _bm25_index_seed(spark, root)
        process = _bm25_index_processor(post_root, stat_root, del_root)
        process(docs.filter(F.col("doc_id") % 2 == 0).withColumn("op", F.lit("I")), 0)
        process(docs.filter(F.col("doc_id") % 2 == 1).withColumn("op", F.lit("I")), 1)
        process(docs.filter(is_del).withColumn("op", F.lit("D")), 2)
        baseline = {
            tuple(r)
            for r in _bm25_index_serve(spark, post_root, stat_root, del_root).collect()
        }

        report = bm25_maintain(spark, post_root, del_root=del_root)
        assert report["folded"] and report["purged"], report
        assert report["tombstoned_in_base"] == 0
        ver = report["version"]
        base = spark.read.parquet(f"{post_root}/base_v{ver}")
        assert base.count() > 0
        assert base.filter(is_del).count() == 0  # bytes gone
        got = {
            tuple(r)
            for r in _bm25_index_serve(spark, post_root, stat_root, del_root).collect()
        }
        assert got == baseline  # purge is invisible to the serve
        # vacuumed: no stale per-batch posting dirs
        stale = [
            d
            for d in os.listdir(post_root)
            if d.startswith("b") and d[1:].isdigit()
        ]
        assert not stale, stale

        report2 = bm25_maintain(spark, post_root, del_root=del_root)
        assert report2["folded"] is False, report2  # healthy: no-op
        assert report2["version"] == ver
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_curation_maintain_mixed_family_readiness(spark, tmp_path):
    """r14 review: a pass where only SOME families need work must not
    trip over the never-folded ones — a seed-only bucketed family has
    no base dir, so the purge invariant skips it (version 0) instead
    of raising PATH_NOT_FOUND; the flat family with a delta still
    folds, and the report marks exactly the worked families."""
    from tailsql_spark.plans.streaming_exec import (
        _bdir,
        _bucket_manifest_seed,
        _flat_state_paths,
        curation_maintain,
    )

    root = str(tmp_path / "cur")
    empty_band = spark.createDataFrame(
        [], "doc_id long, band_idx int, band_hash string"
    )
    empty_band.write.parquet(f"{root}/bands/seed")
    spark.createDataFrame([], "doc_id long, s string").write.parquet(
        f"{root}/ex/seed"
    )
    _bucket_manifest_seed(empty_band, f"{root}/bands")
    _bucket_manifest_seed(empty_band, f"{root}/ex")
    for sub, schema in (
        ("attrs", "doc_id long, lang string, fingerprint string, n_tokens long"),
        ("del", "doc_id long"),
        ("ph", "doc_id long, b0 long, b1 long, b2 long, b3 long"),
        ("fpa", "doc_id long, fh string"),
        ("fpv", "doc_id long, fh string"),
    ):
        spark.createDataFrame([], schema).write.parquet(f"{root}/{sub}/seed")
    # one flat delta, zero deletions, bucketed families seed-only
    spark.createDataFrame(
        [(7, "en", "fp7", 3)],
        "doc_id long, lang string, fingerprint string, n_tokens long",
    ).write.parquet(f"{root}/attrs/{_bdir(0)}")

    report = curation_maintain(spark, root)
    assert report["noop"] is False
    assert report["families"]["attrs"]["folded"] is True
    assert report["families"]["bands"]["folded"] is False
    assert report["tombstoned_in_live"] == 0
    live = spark.read.parquet(*_flat_state_paths(f"{root}/attrs"))
    assert live.count() == 1

    report2 = curation_maintain(spark, root)
    assert report2["noop"] is True


def test_curation_maintain_purge_freshness_per_family(spark, tmp_path):
    """r15 (r14 ADVICE): the shared del log can look fully folded (no
    unfolded delete dirs — one family's mid-stream fold compacted it)
    while a base-only sibling family still holds the tombstoned bytes.
    The per-family purge mark must force that sibling's purge instead
    of letting the composition-level probe report noop."""
    from tailsql_spark.plans.streaming_exec import (
        _bdir,
        _bucket_manifest_seed,
        _compact_del_log,
        _flat_state_paths,
        curation_maintain,
        expire_del_versions,
        purge_flat_family,
    )

    root = str(tmp_path / "cur")
    empty_band = spark.createDataFrame(
        [], "doc_id long, band_idx int, band_hash string"
    )
    empty_band.write.parquet(f"{root}/bands/seed")
    spark.createDataFrame([], "doc_id long, s string").write.parquet(
        f"{root}/ex/seed"
    )
    _bucket_manifest_seed(empty_band, f"{root}/bands")
    _bucket_manifest_seed(empty_band, f"{root}/ex")
    for sub, schema in (
        ("attrs", "doc_id long, lang string, fingerprint string, n_tokens long"),
        ("del", "doc_id long"),
        ("ph", "doc_id long, b0 long, b1 long, b2 long, b3 long"),
        ("fpa", "doc_id long, fh string"),
        ("fpv", "doc_id long, fh string"),
    ):
        spark.createDataFrame([], schema).write.parquet(f"{root}/{sub}/seed")
    # the attrs family holds docs 7 and 8, ALREADY folded to base-only
    spark.createDataFrame(
        [(7, "en", "fp7", 3), (8, "en", "fp8", 4)],
        "doc_id long, lang string, fingerprint string, n_tokens long",
    ).write.parquet(f"{root}/attrs/{_bdir(0)}")
    purge_flat_family(
        spark, f"{root}/attrs", spark.createDataFrame([], "doc_id long")
    )
    expire_del_versions(f"{root}/attrs")
    # a takedown of doc 7 lands AND the del log is compacted + vacuumed
    # (what a sibling family's mid-stream del-aware fold does): no
    # unfolded del dirs remain — the r14 probe's blind spot
    spark.createDataFrame([(7,)], "doc_id long").write.parquet(
        f"{root}/del/{_bdir(0)}"
    )
    _compact_del_log(spark, f"{root}/del", "doc_id", None)
    expire_del_versions(f"{root}/del")

    report = curation_maintain(spark, root)
    assert report["noop"] is False, report  # freshness forced the pass
    assert report["families"]["attrs"]["folded"] is True
    live = {
        r.doc_id
        for r in spark.read.parquet(*_flat_state_paths(f"{root}/attrs")).collect()
    }
    assert live == {8}  # doc 7's bytes physically gone

    report2 = curation_maintain(spark, root)
    assert report2["noop"] is True, report2  # marks recorded: healthy no-op


def test_rebucket_family_rereads_meta_inside_lease(spark, oracle_sf_dir):
    """r15 (r14 ADVICE): a maintain run that snapshotted the family
    meta BEFORE another run's fold+vacuum must not act on it — the
    stale manifest version's dirs are already vacuumed and the read
    would fail with PATH_NOT_FOUND.  `_rebucket_family` now re-reads
    the pointer inside the lease, so the late run folds the CURRENT
    version instead."""
    from tailsql_spark.operators.textstats import bm25_term_hash_col
    from tailsql_spark.plans.catalog import load_tables
    from tailsql_spark.plans.streaming_exec import (
        _bm25_index_processor,
        _bm25_index_seed,
        _bm25_index_serve,
        _rebucket_family,
        _state_meta_read,
        bm25_maintain,
        expire_state_versions,
    )

    docs = load_tables(spark, oracle_sf_dir)["documents"].select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="tailsql_rebucket_stale_")
    try:
        post_root, stat_root, _del = _bm25_index_seed(spark, root)
        process = _bm25_index_processor(post_root, stat_root)
        process(docs.limit(200), 0)
        baseline = {
            tuple(r) for r in _bm25_index_serve(spark, post_root, stat_root).collect()
        }
        stale_meta = _state_meta_read(post_root)  # run B's pre-lease snapshot
        # run A folds + vacuums first: the v0 manifest dir is reclaimed
        report = bm25_maintain(spark, post_root)
        assert report["folded"], report
        # run B proceeds with its stale snapshot — must succeed by
        # re-resolving the pointer inside the lease, not read v0 dirs
        meta2 = _rebucket_family(
            spark, post_root, "tb", bm25_term_hash_col("tok"),
            exclude_bid=10**9, meta=stale_meta, force=True,
        )
        assert int(meta2["version"]) == int(report["version"]) + 1
        expire_state_versions(spark, post_root)
        got = {
            tuple(r) for r in _bm25_index_serve(spark, post_root, stat_root).collect()
        }
        assert got == baseline
    finally:
        shutil.rmtree(root, ignore_errors=True)
