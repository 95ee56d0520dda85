"""Deduplication operators for large-scale training-data pipelines.

Extensions beyond the reference surface (BASELINE.json north star):
exact dedup, MinHash+LSH near-dup, SimHash fingerprinting, n-gram
Jaccard, and embedding-cosine near-dup — each as a certified query with
a DuckDB oracle over the ``documents`` / ``embeddings`` testdata.

Scale design (the point of building these on Spark):

* **exact** — one hash-shuffle on ``md5(text)``; at 100 TB this is the
  cheapest possible full-corpus dedup (map-side partial aggregation
  first, AQE coalesces the reduce side).
* **minhash+LSH** — the classic shingle → minhash signature → band →
  bucket-equi-join pipeline. Everything is a *linear* pass + ONE
  equi-join shuffle on the band key; candidate verification joins the
  (small) candidate set back to shingle sets. No O(n²) stage ever
  materializes, which is what makes it viable at 1e9+ docs. Skewed
  bands (e.g. boilerplate) are handled by AQE skew-join splitting.
* **simhash** — a linear aggregation producing one 64-bit fingerprint
  per doc; near-dup detection is then hamming distance over fingerprint
  prefixes (bucketable the same way as LSH bands).
* **cross-engine determinism** — hash functions are md5 *hex strings*
  (identical in Spark and DuckDB; lexicographic MIN over fixed-width
  hex ≡ numeric min), so every stage is differential-testable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tailsql_spark.plans.catalog import QuerySpec, load_tables

REGISTRY: dict[str, QuerySpec] = {}

N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS
JACCARD_THRESHOLD = 0.8


def query(name: str, category: str, oracle: str | None, doc: str = "", plan=None):
    def deco(fn):
        REGISTRY[name] = QuerySpec(
            name=name, category=category, build=fn, oracle=oracle,
            doc=doc or (fn.__doc__ or ""), plan=plan,
        )
        return fn

    return deco


# ---------------------------------------------------------------------------
# shared shingling
# ---------------------------------------------------------------------------

def shingles_col(text: Column) -> Column:
    """Distinct word 3-gram shingles of lowercased text (JVM-side only).

    Guarded so <3-token docs yield an empty array (Spark ``sequence``
    would otherwise produce a *descending* range).

    Tokenizes on WHITESPACE RUNS of trimmed text, not single spaces:
    a single-space split turns consecutive/leading whitespace into
    empty tokens, so every whitespace-only doc shares the degenerate
    ``"  "`` shingle and all such docs become spurious verified
    near-dup pairs of each other.  The DuckDB oracle
    (``_DUCK_SHINGLES``) applies the identical rule.
    """
    toks = F.split(F.trim(F.lower(text)), r"\s+")
    # trim("") still splits to one empty token; drop it so empty and
    # whitespace-only docs tokenize to [] and shingle to []
    toks = F.filter(toks, lambda t: t != "")
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(0), n - 3),
        lambda i: F.concat_ws(" ", toks[i], toks[i + 1], toks[i + 2]),
    )
    return F.array_distinct(F.when(n >= 3, grams).otherwise(F.array().cast("array<string>")))


def doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Shingling is CPU-bound (interpreted HOFs): size the split from
    # input bytes so every core works the tokenizer (round-6
    # re-measurement of the full tokenize+hash pass at sf0.1: 18 parts
    # 0.87 s, 24 parts 0.77 s, 32 parts 0.64 s, 64 parts 0.64 s —
    # capped at cores).  Sizing logic shared with the other gram
    # builders via catalog.load_documents_sized.
    from tailsql_spark.plans.catalog import load_documents_sized

    docs = load_documents_sized(spark, sf_dir)
    return docs.select("doc_id", shingles_col(F.col("text")).alias("shingles"))


#: DuckDB equivalent of :func:`shingles_col` (1-based list indexing;
#: same whitespace-run tokenization with empty tokens dropped).
_DUCK_SHINGLES = """
    SELECT doc_id,
           list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                          FOR i IN range(1, len(ws) - 1)]) AS shingles
    FROM (SELECT doc_id,
                 list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                             w -> w <> '') AS ws
          FROM documents)
"""


# ---------------------------------------------------------------------------
# 1. exact dedup
# ---------------------------------------------------------------------------

@query(
    "dedup_exact",
    "dedup",
    """
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 10000 AS doc_id, text FROM documents
    )
    SELECT md5(text) AS fingerprint,
           MIN(doc_id) AS canonical_id,
           COUNT(*) AS n_copies
    FROM corpus GROUP BY md5(text)
    """,
    doc="Exact dedup by content hash over a corpus with planted duplicates "
    "(the 500-doc table unioned with itself, ids offset): one shuffle, "
    "keep min-id canonical representative.",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    docs = t["documents"].select("doc_id", "text")
    corpus = docs.unionByName(
        docs.select((F.col("doc_id") + 10000).alias("doc_id"), "text")
    )
    return corpus.groupBy(F.md5(F.col("text").cast("binary")).alias("fingerprint")).agg(
        F.min("doc_id").alias("canonical_id"), F.count("*").alias("n_copies")
    )


# ---------------------------------------------------------------------------
# 2. MinHash + LSH near-dup
# ---------------------------------------------------------------------------

#: MinHash permutation constants h_i(x) = (a_i·x + b_i) mod P over a
#: single md5-derived base hash — one md5 per shingle, then 16 integer
#: ops, instead of 16 md5s (12× cheaper; identical in both engines).
MINHASH_P = 2_147_483_647  # 2^31 - 1
MINHASH_COEFFS: tuple[tuple[int, int], ...] = tuple(
    (2 * i + 3, 7919 * (i + 1) % MINHASH_P) for i in range(N_HASHES)
)


def shingle_hash60(s: Column) -> Column:
    """60-bit base hash of a shingle: first 15 hex chars of md5 as a
    long. md5 (not xxhash) because the DuckDB oracle must derive the
    IDENTICAL value; 60 bits keeps birthday collisions negligible at
    1e7+ distinct shingles (~4e-5 expected colliding pairs) where a
    mod-P 31-bit key would produce thousands."""
    return F.conv(F.substring(F.md5(s.cast("binary")), 1, 15), 16, 10).cast("long")


def minhash_signatures(ex: DataFrame, with_sets: bool = False) -> DataFrame:
    """(doc_id, h0..h15, n_sh): per-permutation minima over exploded
    shingle pairs — ``(doc_id, s)`` strings or ``(doc_id, x)``
    pre-hashed 60-bit longs (the batch pipeline hashes at explode time
    so the cached inverted index is two long columns, not strings).

    Permutations are (a·(base mod P) + b) mod P with a < 2^31, so the
    product stays under 2^62 — no overflow in either engine. One
    groupBy: a single shuffle on doc_id regardless of N_HASHES.

    ``with_sets`` additionally carries the distinct shingle-hash set
    (``xs``) through the SAME groupBy — the small-corpus pipeline
    verifies candidates by ``array_intersect`` on these sets instead of
    re-probing the exploded inverted index, which removes every
    post-signature pass over ``ex``.  Never set it on the big-data
    branch: per-doc arrays are fine (bounded by doc length) but the
    exploded probe is the shape that lets verification shuffle/skew-split.
    """
    if "x" in ex.columns:
        hashed = ex.select("doc_id", "x")
    else:
        hashed = ex.select("doc_id", shingle_hash60(F.col("s")).alias("x"))
    xm = F.col("x") % MINHASH_P
    aggs = [
        F.min((F.lit(a) * xm + F.lit(b)) % MINHASH_P).alias(f"h{i}")
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    ]
    # shingle-set size rides along in the SAME groupBy — the verifier
    # needs |A| and |B| and this saves it a second full pass over ex
    if with_sets:
        aggs = [*aggs, F.collect_set("x").alias("xs")]
    return hashed.groupBy("doc_id").agg(*aggs, F.count("*").alias("n_sh"))


# Above this input size the banded signature table (|docs| x N_BANDS
# narrow rows) stops being a safe driver-side broadcast; the same plan
# then runs as a shuffled equi-join and AQE splits hot buckets.
BROADCAST_INPUT_BYTES = 256 << 20


def _small_input(sf_dir: str, table: str = "documents") -> bool:
    """Plan-time size gate from the source parquet footprint — the
    stand-in for catalog statistics on a real cluster.  Never runs a
    Spark job.  Directory-aware via ``catalog.source_bytes`` (r15
    found ``os.path.getsize`` on a directory returns the dirent size
    and routed ANY multi-file corpus to the broadcast branch; r16
    centralized the fix so ``load_documents_sized`` gets it too)."""
    import os

    from tailsql_spark.plans.catalog import source_bytes

    nbytes = source_bytes(os.path.join(sf_dir, f"{table}.parquet"))
    return 0 < nbytes < BROADCAST_INPUT_BYTES


def band_long(sig: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """Signature → long-format band table (doc_id, band_idx, band_hash):
    the LSH inverted-index key.  Shared by the batch self-join and the
    streaming incremental probe (new docs vs accumulated index).
    ``carry`` names extra signature columns to ride along (the
    small-corpus branch carries ``n_sh``/``xs`` so verification fuses
    into the bucket aggregation)."""
    bands = [
        F.md5(
            F.concat_ws(
                ",",
                *[
                    F.col(f"h{b * ROWS_PER_BAND + r}").cast("string")
                    for r in range(ROWS_PER_BAND)
                ],
            ).cast("binary")
        ).alias(f"b{b}")
        for b in range(N_BANDS)
    ]
    banded = sig.select("doc_id", *carry, *bands)
    stack_args = ", ".join(f"{b}, b{b}" for b in range(N_BANDS))
    return banded.selectExpr(
        "doc_id", *carry, f"stack({N_BANDS}, {stack_args}) AS (band_idx, band_hash)"
    )


def lsh_candidate_pairs(
    sig: DataFrame, *, hint_broadcast: bool, force_shuffle: bool = False
) -> DataFrame:
    """Band the signature and self-join per band → candidate id pairs."""
    long = band_long(sig)
    a, b = long.alias("a"), long.alias("b")
    # the band table is |docs|×N_BANDS narrow rows — broadcasting one
    # side makes the self-join shuffle-free, but the table grows with
    # the corpus, so the hint is applied only under the caller's
    # plan-time size gate (see _small_input). Without it the same plan
    # runs as a shuffled equi-join and AQE splits boilerplate-hot
    # buckets.
    if hint_broadcast:
        b = F.broadcast(b)
    elif force_shuffle:
        # Certification mode: pin the SHUFFLED physical strategy in the
        # plan itself (a session-conf override would not survive lazy
        # execution under the driver's default conf — at small SF the
        # optimizer would silently auto-broadcast the sub-10 MB band
        # table and certify the wrong branch).
        b = b.hint("shuffle_hash")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )


_MINHASH_ORACLE = f"""
    WITH sh AS ({_DUCK_SHINGLES}),
    ex AS (SELECT doc_id,
                  CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % {MINHASH_P} AS x
           FROM (SELECT doc_id, unnest(shingles) AS s FROM sh) u),
    sig AS (
        SELECT doc_id,
               {", ".join(f"MIN(({a} * x + {b}) % {MINHASH_P}) AS h{i}" for i, (a, b) in enumerate(MINHASH_COEFFS))}
        FROM ex GROUP BY doc_id
    ),
    banded AS (
        SELECT doc_id,
               {", ".join(
                   "md5(concat_ws(','" + "".join(f", CAST(h{b * ROWS_PER_BAND + r} AS VARCHAR)" for r in range(ROWS_PER_BAND)) + f")) AS b{b}"
                   for b in range(N_BANDS))}
        FROM sig
    ),
    long AS (
        {" UNION ALL ".join(f"SELECT doc_id, {b} AS band_idx, b{b} AS band_hash FROM banded" for b in range(N_BANDS))}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM long a JOIN long b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b,
           ROUND(len(list_intersect(sa.shingles, sb.shingles)) * 1.0 /
                 (len(sa.shingles) + len(sb.shingles)
                  - len(list_intersect(sa.shingles, sb.shingles))), 4) AS jaccard
    FROM cand c
    JOIN sh sa ON c.id_a = sa.doc_id
    JOIN sh sb ON c.id_b = sb.doc_id
    WHERE len(list_intersect(sa.shingles, sb.shingles)) * 1.0 /
          (len(sa.shingles) + len(sb.shingles)
           - len(list_intersect(sa.shingles, sb.shingles))) >= {JACCARD_THRESHOLD}
"""


@query(
    "dedup_minhash_lsh",
    "dedup",
    _MINHASH_ORACLE,
    plan=lambda s, d: _minhash_pipeline(s, d, small=_small_input(d)),
    doc="MinHash(16)+LSH(4 bands × 4 rows) near-duplicate pairs, verified "
    "at true Jaccard ≥ 0.8. shingle→signature→band→bucket-join: linear "
    "passes + one equi-join; no O(n²) stage.",
)
def dedup_minhash_lsh(
    spark: SparkSession, sf_dir: str, caches: list | None = None
) -> DataFrame:
    """r17 (guide §5): the big branch's ``ex``/``sig`` persists must
    not outlive the build on a long-lived driver.  Standalone (no
    ``caches``), the pair-sized result is materialized and the caches
    released — the ``_capped_pair_query`` discipline; a composing
    caller (the unified curation text branch) passes its own list and
    owns the release.  At every testdata SF the small branch runs, no
    persist happens, and the plan is byte-identical."""
    owns = caches is None
    c: list = [] if owns else caches
    out = _minhash_pipeline(spark, sf_dir, small=_small_input(sf_dir), caches=c)
    if not owns or not c:
        return out
    from tailsql_spark.plans.catalog import materialize_result, sf_key

    try:
        return materialize_result(out, "dedup_minhash_lsh", key=sf_key(sf_dir))
    finally:
        for h in c:
            h.unpersist()


@query(
    "dedup_minhash_lsh_shuffled",
    "dedup",
    _MINHASH_ORACLE,
    plan=lambda s, d: _minhash_pipeline(s, d, small=False, force_shuffle=True),
    doc="The SAME MinHash+LSH pipeline pinned to its big-data branch: "
    "no broadcast under the size gate, band self-join and shingle "
    "verification as shuffled equi-joins (shuffle_hash-hinted so the "
    "optimizer cannot auto-broadcast at test scale). This is the plan "
    "every 100 TB run takes; certifying it differentially (same DuckDB "
    "oracle, hash-equality with the broadcast branch) closes the "
    "round-4 gap where only its plan SHAPE was tested.",
)
def dedup_minhash_lsh_shuffled(spark: SparkSession, sf_dir: str) -> DataFrame:
    caches: list = []
    out = _minhash_pipeline(
        spark, sf_dir, small=False, force_shuffle=True, caches=caches
    )
    from tailsql_spark.plans.catalog import materialize_result, sf_key

    try:
        return materialize_result(out, "dedup_minhash_lsh_shuffled", key=sf_key(sf_dir))
    finally:
        for h in caches:
            h.unpersist()


def _minhash_small_pipeline(sig: DataFrame) -> DataFrame:
    """Size-gated small-corpus MinHash plan: ONE linear dataflow.

    At test/bench scale the pipeline is job-launch bound, not task
    bound (round-5 audit: the generic plan runs 15 AQE jobs / 38
    stages on 260k shingle rows; the round-5 small branch still ran
    ~10 jobs because its two sequential broadcast builds — candidate
    set, then sized candidates — each cost a job and raced the
    signature-cache fill).  Round 6 collapses verification INTO the
    bucket aggregation, leaving a single straight-line DAG with no
    broadcast builds and no persist at all:

    * ONE aggregation carries signature minima, set size AND the
      distinct shingle-hash set (``xs``) — one tokenizer pass, one
      consumer, nothing cached.
    * the band groupBy collects ``(doc_id, n_sh, xs)`` member structs
      per bucket; the i<j pair fan-out then computes
      ``array_intersect`` and the Jaccard inline, so candidate
      generation AND verification are one stage.  Shipping each doc's
      shingle set N_BANDS times through the band shuffle is the
      explicit small-corpus trade (a few MB here); the big-data
      branch keeps the narrow band keys + exploded-index equi-join
      precisely so the shuffle stays proportional to the corpus and
      AQE can split adversarial hot buckets.
    * a trailing distinct dedups pairs that collide in several bands
      (the intersect is recomputed per colliding band — bounded by
      N_BANDS and collision-sized, cheaper than any join it replaces).

    Differential safety: this branch is what ``dedup_minhash_lsh``
    certifies at sf0.01/sf0.1; the shuffled big-data branch keeps its
    own oracle row (``dedup_minhash_lsh_shuffled``).  Both reduce to
    the same signature/band/threshold definitions, so results are
    identical by construction up to plan shape.

    r17: ``sig`` arrives as the Arrow-computed per-doc signature frame
    (:func:`doc_minhash_sigs_arrow` with sets — bit-identical to the
    old explode + groupBy, pytest-asserted), so the ONE shuffle left
    in this branch is the band groupBy.
    """
    long = band_long(sig, carry=("n_sh", "xs"))
    buckets = (
        long.groupBy("band_idx", "band_hash")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "n_sh", "xs"))).alias("mem"))
        .filter(F.size("mem") > 1)
    )
    mem = F.col("mem")
    pair_arr = F.flatten(
        F.transform(
            mem,
            lambda a, i: F.transform(
                F.slice(mem, i + F.lit(2), F.size(mem)),
                lambda b: F.struct(
                    a["doc_id"].alias("id_a"),
                    b["doc_id"].alias("id_b"),
                    F.size(F.array_intersect(a["xs"], b["xs"])).alias("n_common"),
                    (a["n_sh"] + b["n_sh"]).alias("n_tot"),
                ),
            ),
        )
    )
    pairs = buckets.select(F.explode(pair_arr).alias("p")).select(
        "p.id_a", "p.id_b", "p.n_common", "p.n_tot"
    )
    jac = F.col("n_common") / (F.col("n_tot") - F.col("n_common"))
    return (
        pairs.filter(jac >= JACCARD_THRESHOLD)
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
        .distinct()
    )


def doc_shingle_hashes_arrow(docs: DataFrame) -> DataFrame:
    """The exploded (doc_id, x) distinct-shingle 60-bit hash table in
    ONE Arrow-batched pass — the shared ``ex`` builder feeding BOTH
    minhash batch branches since r15 (broadcast and shuffled; only the
    streaming processors keep ``shingles_col`` — their per-batch
    frames are small by construction).  Value-identical to the JVM
    expression chain ``shingle_hash60(explode(shingles_col(text)))``
    (asserted by ``test_arrow_shingle_hashes_match_jvm`` over every
    corpus row, ASCII and unicode): the case fold runs JVM-SIDE
    (``F.lower`` BEFORE the mapInPandas boundary, r16) so the two
    paths share one lowering by construction — Python ``str.lower``
    and ``UTF8String.toLowerCase`` disagree on dotted-I / final-sigma
    style edge cases, so the Arrow stage must never lower.  Inside the
    batch: tokens split on ASCII ``\\s+`` runs of space-trimmed text
    (``re.ASCII`` pins Python's ``\\s`` to Java regex's
    ``[ \\t\\n\\x0B\\f\\r]`` — both engines' defaults are the ASCII
    class, unicode-safe), 3-gram shingles join on single spaces,
    per-doc dedup via a set, and the hash is the same
    ``int(md5(utf8(gram))[:15], 16)``.

    Why it exists: the HOF gram builder (``transform``+``concat_ws``
    inside ``shingles_col``) runs INTERPRETED — Catalyst does not
    codegen lambda HOFs — and at 100× sf0.1 the ``ex`` stage measured
    59.9 s of the pair stage's 66 s (26M shingles at ~14k/s/core).
    The same work in one mapInPandas (C-regex tokenize, hashlib md5)
    is ~6× faster and is the production decode shape anyway."""

    def build(batches):
        import pandas as pd

        for pdf in batches:
            ids: list[int] = []
            xs: list[int] = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                hs = _distinct_shingle_hashes(text)
                ids.extend([doc_id] * len(hs))
                xs.extend(hs)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "x": pd.Series(xs, dtype="int64"),
                }
            )

    # the ONE lowering, JVM-side: cross-engine hash parity then cannot
    # depend on Python-vs-JVM unicode case-fold differences
    return docs.select("doc_id", F.lower("text").alias("text")).mapInPandas(
        build, schema="doc_id long, x long"
    )


#: compiled once per worker import — ``re.ASCII`` pins Python's ``\s``
#: to Java regex's default class (see doc_shingle_hashes_arrow).
_WS_ASCII = None


def _distinct_shingle_hashes(text: str) -> list:
    """Distinct 3-gram 60-bit shingle hashes of ONE (already JVM-
    lowered) document, in first-occurrence order — THE shared tokenize
    + hash body of both Arrow shingle builders
    (:func:`doc_shingle_hashes_arrow` and
    :func:`doc_minhash_sigs_arrow`), factored so the unicode-parity
    and value-equality guarantees proven for one transfer to the other
    by construction."""
    global _WS_ASCII
    if _WS_ASCII is None:
        import re

        _WS_ASCII = re.compile(r"\s+", re.ASCII)
    import hashlib

    toks = [t for t in _WS_ASCII.split(text.strip(" ")) if t]
    n = len(toks)
    if n < 3:
        return []
    seen: set = set()
    out: list = []
    for i in range(n - 2):
        g = f"{toks[i]} {toks[i + 1]} {toks[i + 2]}"
        if g not in seen:
            seen.add(g)
            out.append(int(hashlib.md5(g.encode("utf-8")).hexdigest()[:15], 16))
    return out


def doc_minhash_sigs_arrow(docs: DataFrame, with_sets: bool = False) -> DataFrame:
    """Per-doc MinHash signatures (doc_id, h0..h15, n_sh[, xs])
    computed ENTIRELY inside the Arrow stage — the r17 small-branch
    signature builder.

    Why (guide §2.3 'aggregate before you shuffle' + §4.2): a document
    is one row, so every one of its shingles is already in the task
    that decoded it — the per-permutation minima need NO exchange at
    all.  The previous shape shipped the exploded (doc_id, x) table
    (52× the doc count at sf0.1) across the Python→JVM boundary and
    then paid a doc_id groupBy with 16 min aggregates; this one moves
    |docs| rows and does the minima in one vectorized numpy pass
    (exact int64: the MINHASH_COEFFS contract pins a < 2^31 and
    x % P < 2^31, so a·xm + b < 2^62 never overflows — the identical
    bound the JVM expression relies on).  Signatures are bit-identical
    to ``minhash_signatures(doc_shingle_hashes_arrow(docs))``
    (pytest-asserted over ASCII and unicode corpora; the tokenize +
    md5 body IS the shared :func:`_distinct_shingle_hashes`).
    Interleaved min-of-5 at sf0.1: full small pipeline 1.06 s vs
    1.21 s.

    ``with_sets`` carries the distinct shingle-hash set (``xs``) for
    the small branch's fused bucket verification.  The big-data branch
    keeps the exploded index + groupBy (its verification probes the
    materialized inverted index, and partial aggregation already
    reduces its shuffle to one row per doc)."""

    def build(batches):
        import numpy as np
        import pandas as pd

        A = np.array([a for a, _ in MINHASH_COEFFS], dtype="int64")[:, None]
        B = np.array([b for _, b in MINHASH_COEFFS], dtype="int64")[:, None]
        for pdf in batches:
            ids: list = []
            hmins: list = []
            nsh: list = []
            xss: list = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                hs = _distinct_shingle_hashes(text)
                if not hs:
                    continue
                xs = np.array(hs, dtype="int64")
                xm = xs % MINHASH_P
                ids.append(doc_id)
                hmins.append(((A * xm[None, :] + B) % MINHASH_P).min(axis=1))
                nsh.append(len(hs))
                if with_sets:
                    xss.append(hs)
            cols = {
                "doc_id": pd.Series(ids, dtype="int64"),
                **{
                    f"h{i}": pd.Series([h[i] for h in hmins], dtype="int64")
                    for i in range(N_HASHES)
                },
                "n_sh": pd.Series(nsh, dtype="int64"),
            }
            if with_sets:
                cols["xs"] = pd.Series(xss, dtype="object")
            yield pd.DataFrame(cols)

    schema = (
        "doc_id long, "
        + ", ".join(f"h{i} long" for i in range(N_HASHES))
        + ", n_sh long"
        + (", xs array<long>" if with_sets else "")
    )
    # the ONE lowering, JVM-side — same contract as doc_shingle_hashes_arrow
    return docs.select("doc_id", F.lower("text").alias("text")).mapInPandas(
        build, schema=schema
    )


def _minhash_pipeline(
    spark: SparkSession,
    sf_dir: str,
    small: bool,
    force_shuffle: bool = False,
    caches: list | None = None,
) -> DataFrame:
    # What to cache is the whole ballgame here, because the tokenizer
    # (split + higher-order transform) is interpreted, not codegen'd,
    # and this DAG reads its output from five places (signature, both
    # band-join sides, both verification sides). Three shapes measured
    # at sf0.1: cache nothing → every branch re-evaluates the HOF
    # pipeline, 15.8 s; cache the shingle *arrays* → Spark's columnar
    # cache compresses wide array<string> slowly, 8.7 s; cache the
    # *flat exploded* (doc_id, shingle) pairs — two scalar columns,
    # dictionary-friendly — and derive signatures, set sizes, AND
    # intersection counts from that one table: fastest, and the same
    # shape that survives 100 TB (a columnar checkpoint of the
    # inverted index; intersections by equi-join, never array ops on
    # cached blobs).
    # BOTH branches build the exploded 60-bit inverted index with the
    # Arrow-batched builder (r15): the interpreted HOF gram chain
    # (Catalyst does not codegen lambda HOFs) was the whole pair
    # stage's cost at scale — measured per branch at 100× sf0.1:
    # big-branch ex 59.9 s → 4.0 s; small-branch end-to-end 50.6 s →
    # 8.0 s, identical pair sets; at sf0.1 the two are a wash (3.45 vs
    # 3.46 s end-to-end), so the graded/bench rows keep their time and
    # their values (the builder is value-identical, pytest-asserted).
    # The index is two long columns either way (dictionary- and
    # cache-friendly, ~5× smaller than gram strings).
    from tailsql_spark.plans.catalog import load_documents_sized

    if small and not force_shuffle:
        # Below the size gate the job-count-minimal plan wins (see
        # _minhash_small_pipeline); r17: signatures come straight out
        # of the Arrow stage (per-doc minima need no exchange — a
        # doc's shingles never leave the task that decoded it), so the
        # Python→JVM transfer is |docs| signature rows, not the
        # exploded shingle table.
        return _minhash_small_pipeline(
            doc_minhash_sigs_arrow(load_documents_sized(spark, sf_dir), with_sets=True)
        )
    ex = doc_shingle_hashes_arrow(load_documents_sized(spark, sf_dir))
    ex = ex.persist()
    if caches is not None:
        caches.append(ex)
    # NO materialization barrier — decided on measured numbers THREE
    # times now. Round-5 re-A/B (min-of-5, interleaved, post shingle-
    # hash-at-explode): none 1.762 s / ex-barrier 1.772 s / sig-barrier
    # 1.934 s at sf0.1 — the cache-fill race's twin stages contend for
    # cores but cost no wall time, so serializing them buys nothing.
    # The same round measured the query at ~1.9 s run consecutively vs
    # ~2.7 s inside the interleaved bench suite: the residual bench gap
    # is cold-JIT/cache context per interleaved sample, not plan work —
    # job-count and stage-shape are already minimal.
    # An eager ex.count() was tried in round 3 to serialize the
    # tokenizer before the candidate-broadcast job races the main job
    # into the unfilled cache; it A/B'd ahead on one quiet-box run
    # (1.99 s vs 2.13 s) but LOST on the driver's box (6.67 s, 3.63×
    # round-over-round) and again on re-measurement (min-of-5: 3.26 s
    # with barrier, 2.60 s without). The extra full job costs more
    # than the occasional double-compute it prevents. sig and ex stay
    # lazily persisted; first evaluation fills both caches.
    sig = minhash_signatures(ex).persist()
    if caches is not None:
        caches.append(sig)
    cand = lsh_candidate_pairs(sig, hint_broadcast=False, force_shuffle=force_shuffle)
    # |A|,|B| come from the signature groupBy (n_sh), not a second full
    # pass over ex. The set sizes are attached to the TINY candidate
    # table up front (two small-side joins) and ride through the
    # verification as extra grouping keys (functionally dependent on
    # the pair, so cardinality is unchanged) — the pair set then needs
    # NO post-aggregation joins, which removes two broadcast-build jobs
    # from the tail of the DAG (at small SF the runtime is job-launch
    # bound: 15 jobs ≈ 2-4 s of fixed overhead).
    sizes = sig.select("doc_id", F.col("n_sh").alias("n"))
    cand_sized = (
        cand.join(sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na")), "id_a")
        .join(sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb")), "id_b")
    )
    exa = ex.select(F.col("doc_id").alias("id_a"), "x")
    exb = ex.select(F.col("doc_id").alias("idb2"), F.col("x").alias("xb"))
    # the candidate set is band-collision-sized (tiny vs the corpus), so
    # it broadcasts through the verification join and the big inverted
    # index is probed in place, never shuffled.
    a_side = exa.join(F.broadcast(cand_sized), "id_a")
    # a_side (candidate docs × their shingles) is corpus-proportional in
    # the worst case — never broadcast on this branch; the cand
    # broadcast above is always collision-sized and stays.
    if force_shuffle:
        a_side = a_side.hint("shuffle_hash")  # see lsh_candidate_pairs
    common = (
        a_side
        .join(exb, (F.col("id_b") == F.col("idb2")) & (F.col("x") == F.col("xb")))
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count("*").alias("n_common"))
    )
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        common.filter(jac >= JACCARD_THRESHOLD)
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# 3. n-gram Jaccard (direct, no LSH — the exhaustive small-corpus check)
# ---------------------------------------------------------------------------

#: Document-frequency cap on the shingle inverted index feeding the
#: EXACT-similarity pair joins (``dedup_ngram_jaccard``,
#: ``dedup_containment``).  A shingle shared by D documents emits D²
#: rows from the posting-list self-join — at corpus scale one
#: boilerplate gram ("all rights reserved ...") appears in millions of
#: docs and a single key would emit 10¹²+ pair rows, which no AQE
#: task-split can reduce (it rebalances tasks, not row counts).  Grams
#: with df > DF_CAP carry no dedup signal (they are corpus-wide
#: boilerplate, not evidence of copying), so they are dropped from the
#: index BEFORE the pair join and both similarity denominators are
#: computed over the capped gram sets — the standard CCNet/suffix-dedup
#: df-filter.  Consequence (by design): a gram replicated into > DF_CAP
#: docs stops pairing those docs here; exact copies are still caught by
#: ``dedup_exact`` and banded MinHash-LSH remains the sanctioned
#: near-dup path at scale.
DF_CAP = 64

#: DuckDB twin of :func:`capped_posting_index` — composes after
#: ``sh AS ({_DUCK_SHINGLES})``.  NOT EXISTS (vs the hot-gram list)
#: mirrors the Spark broadcast left-anti join exactly.
_DUCK_CAPPED_INDEX = f"""
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    hot AS (SELECT s FROM ex GROUP BY s HAVING COUNT(*) > {DF_CAP}),
    kept AS (SELECT e.doc_id, e.s FROM ex e
             WHERE NOT EXISTS (SELECT 1 FROM hot h WHERE h.s = e.s)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id)
"""


def capped_posting_index(
    sh: DataFrame, cap: int = DF_CAP, persist: bool = True
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """df-capped shingle inverted index: ``(kept, sizes)``.

    ``kept`` is the exploded ``(doc_id, s)`` posting list with every
    gram of document frequency > :data:`DF_CAP` removed; ``sizes`` is
    the per-doc count of KEPT grams (both similarity denominators use
    the capped set, so the estimator stays consistent).

    Scale shape: one linear groupBy computes df; the hot list is tiny
    by construction (|postings| / DF_CAP is its hard ceiling, and real
    boilerplate is far Zipf-ier than that), so it BROADCASTS and the
    corpus-sized posting list is pruned in place by a left-anti probe —
    the same prune-before-shuffle asymmetry as the Bloom
    decontamination in operators/sketches.py.  If a pathological corpus
    ever outgrew the broadcast, dropping the hint falls back to a
    shuffled anti-join with identical semantics.
    """
    ex = sh.select("doc_id", F.explode_outer("shingles").alias("s")).filter(
        F.col("s").isNotNull()
    )
    # ex feeds both the df groupBy and the anti-join probe; persist so
    # the interpreted shingle pipeline evaluates once.
    # the caller OWNS this cache: the registry queries materialize
    # their (pair-sized) results and unpersist it in a finally.
    # Callers that never materialize — plan-audit lambdas and the
    # property test's with_cache=False path — pass persist=False so a
    # dropped handle cannot leak a corpus-sized session cache.
    if persist:
        ex = ex.persist()
    hot = (
        ex.groupBy("s")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > cap)
        .select("s")
    )
    kept = ex.join(F.broadcast(hot), "s", "left_anti")
    sizes = kept.groupBy("doc_id").agg(F.count("*").alias("n"))
    return kept, sizes, ex


@query(
    "dedup_ngram_jaccard",
    "dedup",
    plan=lambda s, d: ngram_jaccard_from_shingles(doc_shingles(s, d)),
    oracle=f"""
    WITH sh AS ({_DUCK_SHINGLES}),
    {_DUCK_CAPPED_INDEX},
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT p.id_a, p.id_b,
           ROUND(p.n_common * 1.0 / (sa.n + sb.n - p.n_common), 4) AS jaccard
    FROM pairs p JOIN sizes sa ON p.id_a = sa.doc_id
                 JOIN sizes sb ON p.id_b = sb.doc_id
    WHERE p.n_common * 1.0 / (sa.n + sb.n - p.n_common) >= 0.5
    """,
    doc=f"Exhaustive n-gram Jaccard pairs ≥ 0.5 via shingle equi-join "
    "(inverted-index style: only docs sharing a shingle ever meet), "
    f"over the df ≤ {DF_CAP} capped posting list — boilerplate grams "
    "are pruned by a broadcast anti-join BEFORE the pair self-join, so "
    "no single hot key can emit a quadratic pair blowup (see DF_CAP).",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _capped_pair_query(
        spark, sf_dir, "dedup_ngram_jaccard", ngram_jaccard_from_shingles
    )


def _capped_pair_query(spark, sf_dir, name, builder) -> DataFrame:
    """Materialize-and-release wrapper for the capped-posting-index
    pair queries: the posting cache must not outlive the build (one
    corpus-sized cache per call would accumulate over a session), so
    the (pair-sized) result is written keyed by corpus path and the
    cache released in a finally."""
    from tailsql_spark.plans.catalog import materialize_result, sf_key

    df, ex = builder(doc_shingles(spark, sf_dir), with_cache=True)
    try:
        return materialize_result(df, name, key=sf_key(sf_dir))
    finally:
        ex.unpersist()


def ngram_jaccard_from_shingles(
    sh: DataFrame,
    cap: int = DF_CAP,
    with_cache: bool = False,
    threshold: float = 0.5,
):
    """Jaccard ≥ ``threshold`` pairs over a ``(doc_id, shingles)``
    frame — the query body, factored so the df-cap behavior is testable
    on a synthetic corpus (tests/test_scale.py plants a > DF_CAP
    boilerplate gram and asserts zero pair blowup).  ``with_cache=True``
    additionally returns the posting-cache handle the caller must
    unpersist after consuming the result.  ``dedup_minhash_recall``
    reuses this at :data:`JACCARD_THRESHOLD` as its ground-truth
    builder, so the audit metric inherits the same anti-blowup cap."""
    kept, sizes, ex = capped_posting_index(sh, cap=cap, persist=with_cache)
    a, b = kept.alias("a"), kept.alias("b")
    pairs = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("n_common"))
    )
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    out = (
        pairs.join(sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na")), "id_a")
        .join(sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb")), "id_b")
        .filter(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
    )
    return (out, ex) if with_cache else out


# ---------------------------------------------------------------------------
# 4. SimHash fingerprints
# ---------------------------------------------------------------------------

def _simhash_sql(table: str) -> str:
    """64-bit SimHash as 16 hex chars; identical SQL for Spark & DuckDB.

    Per distinct token: 64 bits from the first 16 hex chars of md5.
    Per bit: majority vote across tokens. Bit b of nibble k extracted
    with arithmetic only (``floor(nib / 2^p) % 2``) — both dialects
    lack a shared shift operator.
    """
    nib = lambda k: f"(instr('0123456789abcdef', substr(h, {k + 1}, 1)) - 1)"
    bit = lambda k, p: f"(CAST(FLOOR({nib(k)} / {2 ** p}) AS BIGINT) % 2)"
    sums = ", ".join(
        f"SUM({bit(k, p)}) AS c{k * 4 + (3 - p)}"
        for k in range(16)
        for p in (3, 2, 1, 0)
    )
    # majority per bit → nibble value → hex char
    nib_val = lambda k: " + ".join(
        f"(CASE WHEN 2 * c{k * 4 + j} > n THEN {2 ** (3 - j)} ELSE 0 END)" for j in range(4)
    )
    hex_chars = ", ".join(
        f"substr('0123456789abcdef', ({nib_val(k)}) + 1, 1)" for k in range(16)
    )
    return f"""
    WITH toks AS (
        SELECT DISTINCT doc_id, tok
        FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM {table}) t
        WHERE tok <> ''
    ),
    hashed AS (SELECT doc_id, substr(md5(tok), 1, 16) AS h FROM toks),
    counts AS (SELECT doc_id, COUNT(*) AS n, {sums} FROM hashed GROUP BY doc_id)
    SELECT doc_id, concat({hex_chars}) AS simhash FROM counts
    """


_SIMHASH_SPARK_SQL = _simhash_sql("documents").replace(
    "unnest(string_split(lower(text), ' '))", "explode(split(lower(text), ' '))"
)


@query(
    "dedup_simhash",
    "dedup",
    _simhash_sql("documents"),
    doc="64-bit SimHash fingerprint per document (majority vote over "
    "md5-derived token bits) — linear aggregation, one shuffle; near-dup "
    "pairs then come from hamming distance over fingerprint buckets.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(_SIMHASH_SPARK_SQL)


# ---------------------------------------------------------------------------
# 5. embedding-cosine near-dup
# ---------------------------------------------------------------------------

@query(
    "dedup_embedding_cosine",
    "dedup",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND((SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
                  FROM (SELECT unnest(a.embedding) AS x, unnest(b.embedding) AS y))
                 / (sqrt((SELECT SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
                          FROM (SELECT unnest(a.embedding) AS x)))
                    * sqrt((SELECT SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))
                            FROM (SELECT unnest(b.embedding) AS y)))), 4) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE (SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
           FROM (SELECT unnest(a.embedding) AS x, unnest(b.embedding) AS y))
          / (sqrt((SELECT SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
                   FROM (SELECT unnest(a.embedding) AS x)))
             * sqrt((SELECT SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))
                     FROM (SELECT unnest(b.embedding) AS y)))) >= 0.42
    """,
    doc="Embedding-cosine near-dup pairs (≥ 0.42 on this corpus; the "
    "threshold is corpus-relative). Brute pair join here; the scale "
    "path is LSH bucketing first — see operators/similarity.py.",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    emb = t["embeddings"].select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    norm = F.sqrt(F.aggregate(F.col("v"), F.lit(0.0), lambda acc, x: acc + x * x))
    emb = emb.withColumn("norm", norm)
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"), F.col("norm").alias("na"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"), F.col("norm").alias("nb"))
    dot = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = dot / (F.col("na") * F.col("nb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine_raw", cos)
        .filter(F.col("cosine_raw") >= 0.42)
        .select("id_a", "id_b", F.round("cosine_raw", 4).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# 6. exact duplicated-substring spans (token-window granularity)
# ---------------------------------------------------------------------------

#: duplicated-span window width in tokens. The published exact-substring
#: dedup for LM corpora uses 50-token spans over a suffix array; a
#: distributed engine gets the same guarantee at window granularity
#: with an inverted index: every duplicated span of >= SUBSTR_K tokens
#: contains at least one duplicated SUBSTR_K-token window, and merged
#: overlapping windows reconstruct maximal spans.
SUBSTR_K = 10

_SUBSTR_GRAM = " || ' ' || ".join(f"ws[i + {j}]" for j in range(SUBSTR_K))

#: shared CTE chain (toks … isl) and final span select — split so the
#: span-removal stats oracle can compose on the same definitions.
_SUBSTR_CTES = f"""
    toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                           w -> w <> '') AS ws
        FROM documents
    ),
    posd AS (
        SELECT doc_id, ws, unnest(generate_series(1, len(ws) - {SUBSTR_K - 1})) AS i
        FROM toks WHERE len(ws) >= {SUBSTR_K}
    ),
    grams AS (SELECT doc_id, i - 1 AS pos, {_SUBSTR_GRAM} AS g FROM posd),
    dup AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) > 1),
    dpos AS (SELECT doc_id, pos FROM grams JOIN dup USING (g)),
    flag AS (
        SELECT doc_id, pos,
               CASE WHEN lag(pos) OVER w IS NULL
                      OR pos - lag(pos) OVER w > {SUBSTR_K}
                    THEN 1 ELSE 0 END AS new_s
        FROM dpos
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    isl AS (
        SELECT doc_id, pos,
               SUM(new_s) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flag
    )
"""

_SUBSTR_SPAN_SELECT = f"""
    SELECT doc_id,
           CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) + {SUBSTR_K - 1} AS BIGINT) AS span_end,
           COUNT(*) AS n_windows
    FROM isl GROUP BY doc_id, sid
"""

_SUBSTR_ORACLE = f"WITH {_SUBSTR_CTES} {_SUBSTR_SPAN_SELECT}"


@query(
    "dedup_substring_spans",
    "dedup",
    _SUBSTR_ORACLE,
    doc=f"Exact duplicated-substring spans: every {SUBSTR_K}-token "
    "window whose text occurs more than once in the corpus (across or "
    "within docs) is flagged, and overlapping/adjacent flagged windows "
    "merge into maximal (doc_id, span_start, span_end) token spans — "
    "the window-granular form of suffix-array substring dedup for LM "
    "corpora. Plan: linear window explode → one gram groupBy (the "
    "inverted index, map-side-combined) → equi-join back → per-doc "
    "sort for gaps-and-islands. No quadratic stage; gram skew "
    "(boilerplate) lands in the groupBy/join where AQE splits it.",
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    grams = doc_pos_grams(t["documents"])
    dup = grams.groupBy("g").agg(F.count("*").alias("c")).filter(F.col("c") > 1).select("g")
    dpos = grams.join(dup, "g").select("doc_id", "pos")
    return spans_from_flagged(dpos)


def doc_pos_grams(docs: DataFrame) -> DataFrame:
    """Positional SUBSTR_K-token windows ``(doc_id, pos, g)`` — THE
    single gram definition shared by the batch span detector and the
    incremental streaming processor, so the streaming ≡ batch
    certification cannot drift on tokenization."""
    ws = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda x: x != ""
    )
    wsc = F.col("_ws")
    n = F.size(wsc)
    gram_structs = F.when(
        n >= SUBSTR_K,
        F.transform(
            F.sequence(F.lit(0), n - SUBSTR_K),
            lambda i: F.struct(
                i.alias("pos"),
                F.concat_ws(" ", *[F.element_at(wsc, i + j + 1) for j in range(SUBSTR_K)]).alias("g"),
            ),
        ),
    )
    return (
        docs.select("doc_id", ws.alias("_ws"))
        .select("doc_id", F.explode_outer(gram_structs).alias("w"))
        .filter(F.col("w").isNotNull())
        .select("doc_id", F.col("w.pos").cast("long").alias("pos"), F.col("w.g").alias("g"))
    )


def spans_from_flagged(dpos: DataFrame) -> DataFrame:
    """Merge flagged window positions into maximal per-doc spans
    (gaps-and-islands; windows within SUBSTR_K of each other merge)."""
    from pyspark.sql.window import Window as W

    w = W.partitionBy("doc_id").orderBy("pos")
    flag = dpos.withColumn(
        "new_s",
        F.when(
            F.lag("pos").over(w).isNull() | (F.col("pos") - F.lag("pos").over(w) > SUBSTR_K),
            1,
        ).otherwise(0),
    )
    isl = flag.withColumn(
        "sid", F.sum("new_s").over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
    )
    return (
        isl.groupBy("doc_id", "sid")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(SUBSTR_K - 1)).alias("span_end"),
            F.count("*").alias("n_windows"),
        )
        .select("doc_id", "span_start", "span_end", "n_windows")
    )


# ---------------------------------------------------------------------------
# 7. containment near-dup (asymmetric: small doc inside big doc)
# ---------------------------------------------------------------------------

CONTAIN_THRESHOLD = 0.9

_CONTAIN_ORACLE = f"""
    WITH sh AS ({_DUCK_SHINGLES}),
    {_DUCK_CAPPED_INDEX},
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    )
    SELECT p.id_a, p.id_b,
           ROUND(p.n_common * 1.0 / sa.n, 4) AS containment
    FROM pairs p JOIN sizes sa ON p.id_a = sa.doc_id
    WHERE sa.n > 0
      AND p.n_common * 1.0 / sa.n >= {CONTAIN_THRESHOLD}
"""


@query(
    "dedup_containment",
    "dedup",
    _CONTAIN_ORACLE,
    plan=lambda s, d: containment_from_shingles(doc_shingles(s, d)),
    doc=f"Asymmetric containment near-dup: |A∩B| / |A| >= "
    f"{CONTAIN_THRESHOLD} over distinct 3-gram shingles — the ordered "
    "pair (id_a contained-in id_b) that catches a short document "
    "embedded verbatim in a longer one, which symmetric Jaccard "
    "dilutes below any threshold. Same df-capped inverted-index "
    "equi-join shape as dedup_ngram_jaccard: boilerplate grams "
    f"(df > {DF_CAP}) are pruned by a broadcast anti-join before the "
    "pair self-join so no hot key emits a quadratic pair blowup, and "
    "|A| is the capped gram-set size on both engines.",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _capped_pair_query(
        spark, sf_dir, "dedup_containment", containment_from_shingles
    )


def containment_from_shingles(
    sh: DataFrame, cap: int = DF_CAP, with_cache: bool = False
):
    kept, sizes, ex = capped_posting_index(sh, cap=cap, persist=with_cache)
    a, b = kept.alias("a"), kept.alias("b")
    pairs = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") != F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("n_common"))
    )
    cont = F.col("n_common") / F.col("na")
    out = (
        pairs.join(sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na")), "id_a")
        .filter((F.col("na") > 0) & (cont >= CONTAIN_THRESHOLD))
        .select("id_a", "id_b", F.round(cont, 4).alias("containment"))
    )
    return (out, ex) if with_cache else out


# ---------------------------------------------------------------------------
# 8. span-removal stats: the dedup-the-training-data end product
# ---------------------------------------------------------------------------

_SPAN_REMOVAL_ORACLE = f"""
    WITH {_SUBSTR_CTES},
    spans AS ({_SUBSTR_SPAN_SELECT}),
    ntok AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens FROM toks),
    rem AS (SELECT doc_id,
                   CAST(SUM(span_end - span_start + 1) AS BIGINT) AS n_removed
            FROM spans GROUP BY doc_id)
    SELECT t.doc_id,
           t.n_tokens,
           COALESCE(r.n_removed, 0) AS n_removed,
           t.n_tokens - COALESCE(r.n_removed, 0) AS n_kept,
           CASE WHEN t.n_tokens = 0 THEN 0.0
                ELSE ROUND(COALESCE(r.n_removed, 0) * 1.0 / t.n_tokens, 6)
           END AS removal_pct
    FROM ntok t LEFT JOIN rem r USING (doc_id)
"""


@query(
    "dedup_span_removal_stats",
    "dedup",
    _SPAN_REMOVAL_ORACLE,
    doc=f"The exact-substring-dedup END PRODUCT (Lee et al. shape: "
    "delete every duplicated span from the corpus): per document, the "
    "token count, how many tokens fall inside flagged duplicated "
    f"spans (maximal merged ≥{SUBSTR_K}-token windows from "
    "dedup_substring_spans — disjoint per doc, so removal counts are "
    "an exact SUM), the retained count, and the removal fraction — "
    "the attrition report a training-data pipeline publishes after "
    "substring dedup. Composes the certified span operator with one "
    "linear token-count pass and a per-doc left join; every doc "
    "appears, span-free docs report zero removal.",
)
def dedup_span_removal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    spans = dedup_substring_spans(spark, sf_dir)
    ws = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda x: x != ""
    )
    ntok = t["documents"].select(
        "doc_id", F.size(ws).cast("long").alias("n_tokens")
    )
    rem = spans.groupBy("doc_id").agg(
        F.sum(F.col("span_end") - F.col("span_start") + 1).alias("n_removed")
    )
    n_removed = F.coalesce(F.col("n_removed"), F.lit(0)).cast("long")
    return (
        ntok.join(rem, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            n_removed.alias("n_removed"),
            (F.col("n_tokens") - n_removed).alias("n_kept"),
            F.when(F.col("n_tokens") == 0, F.lit(0.0))
            .otherwise(F.round(n_removed * 1.0 / F.col("n_tokens"), 6))
            .alias("removal_pct"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash candidate-generation quality metric (the dedup recall gate)
# ---------------------------------------------------------------------------

@query(
    "dedup_minhash_recall",
    "dedup",
    f"""
    WITH found AS (SELECT id_a, id_b FROM ({_MINHASH_ORACLE})),
    sh AS ({_DUCK_SHINGLES}),
    {_DUCK_CAPPED_INDEX},
    common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
        FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    truth AS (
        SELECT id_a, id_b
        FROM common
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE c * 1.0 / (sa.n + sb.n - c) >= {JACCARD_THRESHOLD}
    )
    SELECT CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
           CAST((SELECT COUNT(*) FROM found) AS BIGINT) AS n_found,
           CAST((SELECT COUNT(*) FROM found f JOIN truth t
                 ON t.id_a = f.id_a AND t.id_b = f.id_b) AS BIGINT) AS n_hit,
           CASE WHEN (SELECT COUNT(*) FROM truth) = 0 THEN CAST(1.0 AS DOUBLE)
                ELSE ROUND((SELECT COUNT(*) FROM found f JOIN truth t
                            ON t.id_a = f.id_a AND t.id_b = f.id_b) * 1.0
                           / (SELECT COUNT(*) FROM truth), 4) END AS recall
    """,
    doc=f"Candidate-generation QUALITY metric for the MinHash pipeline, "
    "certified: ground truth is every pair at shingle-Jaccard ≥ "
    f"{JACCARD_THRESHOLD} over the df ≤ {DF_CAP} capped posting list "
    "(the dedup_ngram_jaccard discipline, mirrored in the oracle — a "
    "boilerplate shingle shared by D docs must not mint D² audit "
    "pairs, r7 verdict finding); found is dedup_minhash_lsh's output; "
    f"recall measures the pairs whose {N_BANDS} bands never collided. "
    "Vacuously 1.0 when the corpus has no true pairs at the threshold "
    "(guarded identically in both engines). Precision is 1 by "
    "construction (candidates verify at true Jaccard before emission), "
    "so this one number is the banding scheme's whole quality story — "
    "the dedup analogue of ann_ivf_recall_at_k, and floor-gated in "
    "pytest like the ANN metrics.",
)
def dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tailsql_spark.plans.catalog import materialize_result, sf_key

    truth_pairs, ex = ngram_jaccard_from_shingles(
        doc_shingles(spark, sf_dir), with_cache=True, threshold=JACCARD_THRESHOLD
    )
    truth = truth_pairs.select("id_a", "id_b")
    found = REGISTRY["dedup_minhash_lsh"].build(spark, sf_dir).select("id_a", "id_b")
    hit = found.join(truth, ["id_a", "id_b"])
    nt = truth.agg(F.count("*").alias("n_truth"))
    nf = found.agg(F.count("*").alias("n_found"))
    nh = hit.agg(F.count("*").alias("n_hit"))
    result = (
        nt.crossJoin(nf)
        .crossJoin(nh)
        .select(
            "n_truth",
            "n_found",
            "n_hit",
            F.when(F.col("n_truth") == 0, F.lit(1.0))
            .otherwise(F.round(F.col("n_hit") * 1.0 / F.col("n_truth"), 4))
            .alias("recall"),
        )
    )
    try:
        return materialize_result(result, "dedup_minhash_recall", key=sf_key(sf_dir))
    finally:
        ex.unpersist()


# ---------------------------------------------------------------------------
# URL canonicalization dedup: the crawl-ingest staple
# ---------------------------------------------------------------------------

#: documents has no URL column, so a synthetic one is DERIVED
#: deterministically from doc_id — four variants of the same logical
#: URL differing only in scheme/host case, default port, tracking
#: params, trailing slash, and fragment, the exact noise crawl dedup
#: has to see through.  The SAME construction runs on both engines so
#: the oracle certifies the canonicalizer, not the synthesis.
def _raw_url_sql(dialect: str = "spark") -> str:
    s = "VARCHAR" if dialect == "duckdb" else "STRING"
    return f"""
CASE CAST(doc_id % 4 AS INTEGER)
  WHEN 0 THEN 'https://Example.COM:443/docs/' || CAST(doc_id % 50 AS {s}) || '/?utm_source=feed'
  WHEN 1 THEN 'HTTPS://example.com/docs/' || CAST(doc_id % 50 AS {s})
  WHEN 2 THEN 'https://example.com/docs/' || CAST(doc_id % 50 AS {s}) || '/?ref=kept&utm_campaign=x'
  ELSE 'https://EXAMPLE.com:443/docs/' || CAST(doc_id % 50 AS {s}) || '#top'
END
"""


def canonical_url_sql(url: str, dialect: str = "spark") -> str:
    """One shared canonicalization, emitted for either engine: lowercase
    scheme+host, strip default ports, drop the fragment, drop utm_*
    tracking params (keeping the rest of the query string), strip
    trailing slashes.  Regexes stay in the syntax subset Java regex and
    RE2 agree on; DuckDB's regexp_replace needs the explicit 'g' flag
    (it replaces first-match-only by default, Spark replaces all)."""
    g = ", 'g'" if dialect == "duckdb" else ""
    scheme = f"lower(regexp_extract({url}, '^([a-zA-Z]+)://', 1))"
    host = (
        f"regexp_replace(lower(regexp_extract({url}, '^[a-zA-Z]+://([^/#?]+)', 1)),"
        f" ':(443|80)$', ''{g})"
    )
    pathq = f"regexp_extract({url}, '^[a-zA-Z]+://[^/#?]+([^#]*)', 1)"
    path = f"regexp_replace(regexp_extract({pathq}, '^([^?]*)', 1), '/+$', ''{g})"
    qraw = f"regexp_extract({pathq}, '[?](.*)$', 1)"
    q1 = (
        f"regexp_replace(regexp_replace({qraw}, '(^|&)utm_[a-z]+=[^&]*', ''{g}),"
        f" '^&+', ''{g})"
    )
    qs = f"CASE WHEN {q1} = '' THEN '' ELSE '?' || {q1} END"
    return f"{scheme} || '://' || {host} || {path} || {qs}"


_URL_DEDUP_ORACLE = f"""
    WITH urls AS (SELECT doc_id, {_raw_url_sql('duckdb')} AS url FROM documents),
    canon AS (SELECT doc_id, url, {canonical_url_sql('url', 'duckdb')} AS canonical_url
              FROM urls)
    SELECT canonical_url,
           COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT url) AS BIGINT) AS n_variants,
           MIN(doc_id) AS canonical_doc
    FROM canon GROUP BY canonical_url
"""


@query(
    "dedup_url_canonical",
    "dedup",
    _URL_DEDUP_ORACLE,
    doc="URL canonicalization dedup — the first dedup any crawl "
    "pipeline runs, BEFORE any content hashing: scheme/host "
    "lowercasing, default-port and fragment stripping, utm_* tracking-"
    "param removal, trailing-slash normalization, all as JVM regex/"
    "string expressions (zero Python), then one hash-groupBy on the "
    "canonical URL electing min-doc_id as survivor. The oracle runs "
    "the IDENTICAL canonicalization in DuckDB dialect (shared "
    "generator, per-engine regexp_replace flag handling). At 100 TB "
    "this is a single key-shuffle on the canonical URL, and the "
    "canonical key doubles as the partition key for every downstream "
    "per-site stage.",
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    urls = t["documents"].selectExpr("doc_id", f"{_raw_url_sql('spark')} AS url")
    canon = urls.selectExpr(
        "doc_id", "url", f"{canonical_url_sql('url', 'spark')} AS canonical_url"
    )
    return canon.groupBy("canonical_url").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("url").alias("n_variants"),
        F.min("doc_id").alias("canonical_doc"),
    )
