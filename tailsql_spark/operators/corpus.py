"""Corpus-pipeline composition operators (extension surface).

These compose the individual text/dedup/ML-prep primitives into the
shapes a production training-data pipeline actually runs end-to-end —
the reference's pipeline model (regex parse → filter → window → SQL,
``/root/reference/sql/squeryer.go:130-199``) generalized to corpus
curation:

* **clean pipeline** — quality gate → exact dedup (keep-min doc) →
  tokenize + deterministic split, one declarative chain. Catalyst
  fuses the filter+project stages into the parquet scan; the only
  shuffle is the dedup groupBy on the content fingerprint.
* **stratified hash sampling** — per-language rebalancing with a
  content-stable hash threshold instead of ``rand()``: reproducible
  across reruns and shard additions, zero shuffles.
* **feature hashing** — the hashing trick: term → fixed bucket space
  via md5 prefix, so the feature matrix width is constant regardless
  of vocabulary size (no vocabulary broadcast / dictionary join).
* **int8 quantization** — per-vector max-abs scaling of embeddings to
  int8, 4× memory reduction for ANN serving; elementwise, no shuffle.
* **two-level rollup** — hourly pre-aggregate feeding a daily
  aggregate (hypertable-style): at 100 TB the hourly layer is the
  materialization point; the daily layer reads aggregated rows (~5
  orders of magnitude smaller), never raw events.

Cross-engine determinism: all hash bands use md5 hex prefixes
(lexicographic on fixed-width hex ≡ numeric); quantization uses
``floor(x + 0.5)`` (identical half-up in both engines, unlike
``round`` whose half-even/half-up policy differs per type); money and
sums travel as integer cents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from tailsql_spark.plans.catalog import QuerySpec, load_tables

REGISTRY: dict[str, QuerySpec] = {}


def _n_tokens():
    """Whitespace token count, guarded against the empty-split trap:
    ``split(trim(''), '\\s+')`` yields ``['']`` → size 1, a phantom
    token for empty/whitespace-only docs (the dedup.py shingle lesson).
    Trimmed non-empty text can't contain empty tokens, so the guard is
    a single CASE — no per-token HOF filter."""
    t = F.trim("text")
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


#: the quality gate's kept-character class, spelled out for
#: ``translate`` (the codegen'd, regex-free char-class counter):
#: exactly the [A-Za-z ] the gate always used.
_ALPHA_KEEP = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz "
)


def quality_gate_attrs(docs: DataFrame) -> DataFrame:
    """Quality-passing docs as ``(doc_id, lang, fingerprint,
    n_tokens)`` — THE single Spark definition of the curation quality
    gate + content fingerprint (twin of the ``q``/``fp`` CTEs in
    ``_CLEAN_CTES``).  Shared by the batch clean pipeline, the
    incremental curation processor, and the replay test, so gate
    constants cannot drift between them.

    The kept-character count comes from ``translate`` (delete the 53
    kept chars, subtract lengths), NOT ``regexp_replace('[^A-Za-z ]')``
    — value-identical (r15 A/B: zero differing rows at sf0.1), but the
    regex built a stripped copy of every document through an
    interpreted engine and was ~98% of the clean stage's wall at 100×
    (29.5 s vs 0.68 s for the whole gate, `r15_unified_phase_audit`);
    translate is a single codegen'd pass with a 53-entry lookup."""
    alpha_ratio = (
        F.length("text") - F.length(F.translate("text", _ALPHA_KEEP, ""))
    ) / F.length("text")
    return docs.filter((F.col("n_chars") >= 100) & (alpha_ratio >= 0.6)).select(
        "doc_id",
        "lang",
        F.md5(F.col("text").cast("binary")).alias("fingerprint"),
        _n_tokens().cast("long").alias("n_tokens"),
    )


def clean_keep_attrs(attrs: DataFrame) -> DataFrame:
    """Exact dedup + split assignment over a quality-attr table:
    min-id representative per content fingerprint, then the
    deterministic md5 hash split — ``(doc_id, lang, n_tokens,
    split)``.  n_tokens/lang ride min_by(doc_id), which equals the
    batch CTE's arg_min-over-text because copies share text."""
    keep = attrs.groupBy("fingerprint").agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("lang", "doc_id").alias("lang"),
        F.min_by("n_tokens", "doc_id").alias("n_tokens"),
    )
    h = F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2)
    return keep.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.when(h < "1a", "test").when(h < "34", "val").otherwise("train").alias("split"),
    )


def unified_text_row(
    cleaned: DataFrame,
    labels: DataFrame,
    docs: DataFrame,
    *,
    hint_broadcast: bool,
) -> DataFrame:
    """The text row of the corpus-wide unified curation report:
    (media_type='text', n_total, n_survivors, n_tokens) — near-dup
    survivor filter over the cleaned corpus (the survivor_budgets rule)
    totaled against the raw document count.  Factored so the batch
    report (corpus_unified_curation) and its streaming twin share one
    definition.  ``hint_broadcast``: the label table is clustered docs
    only — small vs the corpus but linear IN it, so callers gate the
    hint on their source footprint (``dedup._small_input`` /
    state-log bytes); past the gate the planner/AQE picks the join
    from real sizes (r17, guide §3.1)."""
    lab = labels.select(F.col("doc_id").alias("l_doc"), "cluster_id")
    if hint_broadcast:
        lab = F.broadcast(lab)
    j = cleaned.join(lab, cleaned["doc_id"] == F.col("l_doc"), "left")
    survivor = F.col("l_doc").isNull() | (F.col("l_doc") == F.col("cluster_id"))
    tot = docs.agg(F.count("*").alias("n_total"))
    return (
        j.filter(survivor)
        .agg(
            F.count("*").alias("n_survivors"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .crossJoin(F.broadcast(tot))
        .select(F.lit("text").alias("media_type"), "n_total", "n_survivors", "n_tokens")
    )


def survivor_budgets(
    cleaned: DataFrame, labels: DataFrame, *, hint_broadcast: bool
) -> DataFrame:
    """Near-dup survivor drop + per-(lang, split) budgets: keep docs
    absent from the cluster label table or equal to their cluster's
    min-id member, then aggregate doc and token counts.  ``labels`` is
    ``(doc_id, cluster_id)`` — small vs the corpus but linear in it,
    so the broadcast hint is caller-gated (``hint_broadcast``, r17):
    under the gate the cleaned corpus is never reshuffled; past it
    the planner/AQE picks the join from real sizes."""
    lab = labels.select(F.col("doc_id").alias("l_doc"), "cluster_id")
    if hint_broadcast:
        lab = F.broadcast(lab)
    j = cleaned.join(lab, cleaned["doc_id"] == F.col("l_doc"), "left")
    survivor = F.col("l_doc").isNull() | (F.col("l_doc") == F.col("cluster_id"))
    return (
        j.filter(survivor)
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
    )


def query(name: str, category: str, oracle: str | None, doc: str = ""):
    def deco(fn):
        REGISTRY[name] = QuerySpec(
            name=name, category=category, build=fn, oracle=oracle, doc=doc or (fn.__doc__ or "")
        )
        return fn

    return deco


# ---------------------------------------------------------------------------
# multilingual quality gate (r16 — VERDICT r15 ask #3)
# ---------------------------------------------------------------------------

#: Unicode script blocks as EXPLICIT codepoint ranges, not ``\\p{script}``
#: classes: Java regex (Spark) and RE2 (the DuckDB oracle) both accept
#: literal bracket ranges with identical semantics, while named script
#: classes track each engine's Unicode tables and can skew between
#: versions.  Order matters — it is the deterministic argmax tie-break
#: in BOTH engines (an all-space doc ties every script at 1.0 and
#: resolves to the first entry).  The blocks cover the scripts of
#: ~90% of web text; a deployment extends the dict — every derived
#: expression and the oracle SQL regenerate from it.
SCRIPT_RANGES: dict[str, str] = {
    "latin": "A-Za-zÀ-ɏ",
    "greek": "Ͱ-Ͽἀ-῿",
    "cyrillic": "Ѐ-ӿ",
    "arabic": "؀-ۿ",
    "devanagari": "ऀ-ॿ",
    "kana": "぀-ヿ",
    "han": "一-鿿",
    "hangul": "가-힯",
}

#: the gate thresholds the Latin gate always used, shared verbatim
_GATE_MIN_CHARS = 100
_GATE_MIN_RATIO = 0.6


def unicode_gate_rows(docs: DataFrame) -> DataFrame:
    """Per-document multilingual quality-gate attributes: each doc is
    scored against ITS OWN dominant script's statistics instead of the
    Latin-only ``[A-Za-z ]`` class that zeroes out non-Latin text.

    Per script s: ``ratio_s = regexp_count(text, '[<s-ranges> ]') /
    length(text)`` (spaces count as kept, exactly as the Latin gate's
    class does); ``best_script`` is the argmax in :data:`SCRIPT_RANGES`
    order; ``pass_unicode`` applies the gate thresholds to the BEST
    ratio; ``pass_latin`` is the existing translate-based Latin gate
    verbatim, so the row IS the attrition comparison.  All arithmetic
    is integer-count / integer-length double division — bit-identical
    across engines — and the exported ratio is floor-micro-units (the
    repo's round-policy-free fixed-point rule).

    Scale note: K script classes = K interpreted regex passes over the
    text (regexp_count does not codegen).  Fine for a dedicated gate
    query; a 100 TB curation run folds these counts into its existing
    Arrow decode pass or swaps small blocks (Latin/Greek/Cyrillic are
    enumerable) to the translate trick — the certified row pins the
    SEMANTICS either way.  The composed curation report keeps the
    Latin gate because this synthetic corpus is ASCII by construction;
    a multilingual deployment swaps ``quality_gate_attrs``'s predicate
    for ``pass_unicode = 1``."""
    L = F.length("text")
    order = list(SCRIPT_RANGES)
    ratios = {
        s: F.when(
            L > 0,
            F.regexp_count(F.col("text"), F.lit(f"[{SCRIPT_RANGES[s]} ]")) / L,
        ).otherwise(F.lit(0.0))
        for s in order
    }
    best = F.greatest(*[ratios[s] for s in order])
    best_script = F.coalesce(
        *[F.when(ratios[s] == best, F.lit(s)) for s in order]
    )
    alpha_ratio = F.when(
        L > 0, (L - F.length(F.translate("text", _ALPHA_KEEP, ""))) / L
    ).otherwise(F.lit(0.0))
    gate = F.col("n_chars") >= _GATE_MIN_CHARS
    return docs.select(
        "doc_id",
        "lang",
        best_script.alias("best_script"),
        F.floor(best * 1000000).cast("long").alias("ratio_micro"),
        (gate & (best >= _GATE_MIN_RATIO)).cast("int").alias("pass_unicode"),
        (gate & (alpha_ratio >= _GATE_MIN_RATIO)).cast("int").alias("pass_latin"),
    )


def _unicode_gate_oracle() -> str:
    """DuckDB twin of :func:`unicode_gate_rows`, regenerated from the
    same :data:`SCRIPT_RANGES` dict so the two engines cannot drift."""
    order = list(SCRIPT_RANGES)
    ratio_cols = ",\n               ".join(
        "CASE WHEN length(text) = 0 THEN 0.0 ELSE"
        f" len(regexp_extract_all(text, '[{SCRIPT_RANGES[s]} ]')) * 1.0"
        f" / length(text) END AS r_{s}"
        for s in order
    )
    best = "GREATEST(" + ", ".join(f"r_{s}" for s in order) + ")"
    best_script = (
        "CASE "
        + " ".join(f"WHEN r_{s} = best THEN '{s}'" for s in order)
        + " END"
    )
    return f"""
    WITH r AS (
        SELECT doc_id, lang, n_chars, text,
               {ratio_cols}
        FROM documents
    ),
    b AS (SELECT *, {best} AS best FROM r)
    SELECT doc_id, lang,
           {best_script} AS best_script,
           CAST(FLOOR(best * 1000000) AS BIGINT) AS ratio_micro,
           CAST(n_chars >= {_GATE_MIN_CHARS} AND best >= {_GATE_MIN_RATIO}
                AS INT) AS pass_unicode,
           CAST(n_chars >= {_GATE_MIN_CHARS} AND (CASE WHEN length(text) = 0
                THEN 0.0 ELSE len(regexp_extract_all(text, '[A-Za-z ]')) * 1.0
                / length(text) END) >= {_GATE_MIN_RATIO}
                AS INT) AS pass_latin
    FROM b
    """


@query(
    "corpus_quality_gate_unicode",
    "corpus-pipeline",
    _unicode_gate_oracle(),
    doc="Multilingual-honest quality gate: per-document dominant-script "
    "detection over explicit Unicode block ranges (identical bracket-"
    "class semantics in Java regex and RE2 — no \\p{script} version "
    "skew), kept-char ratio scored against the doc's OWN script, and "
    "the legacy Latin gate carried alongside so the row quantifies the "
    "Latin gate's attrition on non-Latin corpora (it zeroes out every "
    "CJK/Cyrillic/Arabic doc; this gate passes them on their script's "
    "statistics). Composes with text_langid: best_script is the "
    "script-level check of the n-gram language guess. All counts are "
    "single-pass regexp_count per block; ratios are integer/integer "
    "double division and export as floor-micro fixed point, so both "
    "engines agree bitwise.",
)
def corpus_quality_gate_unicode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return unicode_gate_rows(load_tables(spark, sf_dir)["documents"])


#: clean-pipeline oracle, split into shareable parts so the full
#: curation composition (corpus_curation_survivors) reuses ONE
#: definition of the quality gate / exact dedup / split rule.
_CLEAN_CTES = """q AS (
        SELECT doc_id, lang, text
        FROM documents
        WHERE n_chars >= 100
          AND length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) * 1.0
              / length(text) >= 0.6
    ),
    fp AS (
        SELECT doc_id, lang, text, md5(text) AS fingerprint FROM q
    ),
    keep AS (
        SELECT fingerprint,
               MIN(doc_id) AS doc_id,
               arg_min(lang, doc_id) AS lang,
               arg_min(text, doc_id) AS text
        FROM fp GROUP BY fingerprint
    )"""

_CLEAN_SELECT = """SELECT doc_id, lang,
           (CASE WHEN trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END) AS n_tokens,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a' THEN 'test'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '34' THEN 'val'
                ELSE 'train' END AS split
    FROM keep"""


@query(
    "corpus_clean_pipeline",
    "corpus-pipeline",
    f"WITH {_CLEAN_CTES} {_CLEAN_SELECT}",
    doc="End-to-end corpus curation in one declarative chain: quality "
    "gate (length + alpha ratio) → exact dedup keeping the lowest "
    "doc_id per content fingerprint → whitespace token count + "
    "deterministic hash split. The quality filter and fingerprint "
    "projection fuse into the parquet scan stage; the single shuffle "
    "is the dedup groupBy on md5(text) — uniformly distributed by "
    "construction, so no skew at any scale.",
)
def corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    return clean_keep_attrs(quality_gate_attrs(docs))


@query(
    "sample_stratified_hash",
    "corpus-pipeline",
    """
    SELECT doc_id, lang
    FROM (
        SELECT doc_id, lang,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT)
                   / 16777216.0 AS u,
               CASE WHEN lang = 'en' THEN 0.2 ELSE 1.0 END AS rate
        FROM documents
    )
    WHERE u < rate
    """,
    doc="Stratified rebalancing sample: English (the majority class) "
    "down-sampled to 20%, minority languages kept whole — the standard "
    "language-rebalance step before tokenizer training. The per-row "
    "uniform comes from an md5 prefix of doc_id, not rand(): the keep "
    "set is reproducible run-over-run and stable when new shards "
    "arrive. Pure map-side filter, zero shuffles at any scale.",
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 6),
            16,
            10,
        ).cast("long")
        / 16777216.0
    )
    rate = F.when(F.col("lang") == "en", 0.2).otherwise(1.0)
    return (
        t["documents"]
        .select("doc_id", "lang", u.alias("u"), rate.alias("rate"))
        .filter(F.col("u") < F.col("rate"))
        .select("doc_id", "lang")
    )


@query(
    "feature_hashing",
    "corpus-pipeline",
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
        FROM documents
    )
    SELECT doc_id,
           CAST(('0x' || substr(md5(term), 1, 4)) AS BIGINT) % 64 AS bucket,
           COUNT(*) AS tf
    FROM toks
    WHERE term <> ''
    GROUP BY 1, 2
    """,
    doc="Hashing-trick featurization: every term maps to one of 64 "
    "buckets via an md5 prefix, giving a fixed-width sparse feature "
    "matrix with NO vocabulary dictionary — at 100 TB there is no "
    "vocab broadcast, no dictionary join, and the (doc, bucket) "
    "shuffle key is bounded at 64 rows per document. Tokenization via "
    "explode_outer (explode pushes a non-codegen size()>0 guard into "
    "the scan — see dedup.py MinHash notes).",
)
def feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    toks = (
        t["documents"]
        .select(
            "doc_id",
            F.explode_outer(F.split(F.lower("text"), "[^a-z]+")).alias("term"),
        )
        .filter(F.col("term").isNotNull() & (F.col("term") != ""))
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("term").cast("binary")), 1, 4), 16, 10)
        .cast("long")
        % 64
    )
    return toks.groupBy("doc_id", bucket.alias("bucket")).agg(F.count("*").alias("tf"))


@query(
    "embedding_quantize_int8",
    "corpus-pipeline",
    """
    SELECT vec_id,
           ROUND(scale, 6) AS scale,
           list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) / ROUND(scale, 6) * 127 + 0.5)
                         AS INTEGER)) AS q
    FROM (
        SELECT vec_id, embedding,
               GREATEST(list_max(list_transform(embedding,
                            x -> abs(CAST(x AS DOUBLE)))), 1e-12) AS scale
        FROM embeddings
    )
    """,
    doc="Per-vector max-abs int8 quantization of the embedding column: "
    "4× smaller vectors for the ANN serving path (dedup.py / "
    "similarity.py consume these). Elementwise map, zero shuffles; the "
    "scale is rounded to 6 dp BEFORE the divide so both engines "
    "quantize against bit-identical scales, and floor(x+0.5) replaces "
    "round() (whose half-even vs half-up policy differs per engine).",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    scale = F.greatest(
        F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double")))),
        F.lit(1e-12),
    )
    with_scale = t["embeddings"].select(
        "vec_id", "embedding", F.round(scale, 6).alias("scale")
    )
    q = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") / F.col("scale") * 127 + 0.5).cast("int"),
    )
    return with_scale.select("vec_id", "scale", q.alias("q"))


@query(
    "events_rollup_two_level",
    "event-analytics",
    """
    WITH hourly AS (
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
               event_type,
               COUNT(*) AS n,
               SUM(CAST(ROUND(value * 100) AS BIGINT)) AS value_cents
        FROM events
        GROUP BY 1, 2
    )
    SELECT CAST(date_trunc('day', hour) AS TIMESTAMP) AS day,
           event_type,
           CAST(SUM(n) AS BIGINT) AS n_events,
           CAST(SUM(value_cents) AS BIGINT) AS value_cents,
           COUNT(*) AS active_hours
    FROM hourly
    GROUP BY 1, 2
    """,
    doc="Hypertable-style two-level rollup: raw events → hourly "
    "pre-aggregate → daily aggregate. The hourly layer is the "
    "materialization point at scale — the daily pass reads "
    "~24×|event_type| rows per day instead of raw events (5 orders of "
    "magnitude less I/O at 100 TB), and counts/sums compose exactly "
    "(cents are integers). Spark's partial aggregation makes the "
    "hourly groupBy map-side combinable; both levels share the "
    "date_trunc key lineage so AQE coalesces the second shuffle.",
)
def events_rollup_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    hourly = (
        t["events"]
        .groupBy(
            F.date_trunc("hour", "ts").alias("hour"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("value_cents"),
        )
    )
    return (
        hourly.groupBy(F.date_trunc("day", "hour").alias("day"), "event_type")
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("value_cents").alias("value_cents"),
            F.count("*").alias("active_hours"),
        )
    )


_QUANT_SQL = """
        SELECT vec_id,
               GREATEST(ROUND(list_max(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE)))), 6), 1e-12) AS scale
        FROM embeddings
"""


@query(
    "ann_cosine_topk_int8",
    "corpus-pipeline",
    f"""
    WITH scales AS ({_QUANT_SQL}),
    quant AS (
        SELECT e.vec_id, s.scale,
               list_transform(e.embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) / s.scale * 127 + 0.5)
                             AS BIGINT)) AS q
        FROM embeddings e JOIN scales s USING (vec_id)
    ),
    pairs AS (
        SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id,
               CAST(list_sum([a.q[i] * b.q[i] FOR i IN range(1, 65)]) AS BIGINT) AS dot_int,
               a.scale * b.scale AS ss
        FROM quant a JOIN quant b ON a.vec_id < 10 AND a.vec_id <> b.vec_id
    ),
    ranked AS (
        SELECT q_id, neighbor_id, dot_int,
               ROUND(dot_int * ss, 6) AS score,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY dot_int * ss DESC, neighbor_id ASC) AS rnk
        FROM pairs
    )
    SELECT q_id, neighbor_id, dot_int, score, rnk FROM ranked WHERE rnk <= 3
    """,
    doc="ANN top-3 over int8-QUANTIZED vectors — the serving path the "
    "quantization feeds: integer dot products (exact in any summation "
    "order, so the oracle hash can't drift) rescaled by the two "
    "per-vector scales. The 10 query vectors broadcast; the corpus "
    "scan is one linear pass with per-partition top-k folded by the "
    "rank window — at 100 TB the same plan reads the 4×-smaller int8 "
    "column instead of float32, which is the point of quantizing.",
)
def ann_cosine_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    quant = REGISTRY["embedding_quantize_int8"].build(spark, sf_dir).select(
        "vec_id", "scale", F.transform("q", lambda x: x.cast("long")).alias("q")
    )
    queries = quant.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"),
        F.col("scale").alias("q_scale"),
        F.col("q").alias("qq"),
    )
    pairs = quant.join(F.broadcast(queries), F.col("q_id") != F.col("vec_id"))
    dot = F.aggregate(
        F.zip_with("qq", "q", lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    scored = pairs.select(
        "q_id",
        F.col("vec_id").alias("neighbor_id"),
        dot.alias("dot_int"),
        (F.col("q_scale") * F.col("scale")).alias("ss"),
    )
    w = W.partitionBy("q_id").orderBy(
        (F.col("dot_int") * F.col("ss")).desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "q_id",
            "neighbor_id",
            "dot_int",
            F.round(F.col("dot_int") * F.col("ss"), 6).alias("score"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


@query(
    "corpus_mix_budget",
    "corpus-pipeline",
    """
    WITH toks AS (
        SELECT doc_id, lang,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a' THEN 'test'
                    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '34' THEN 'val'
                    ELSE 'train' END AS split,
               (CASE WHEN trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END) AS n_tokens
        FROM documents
    ),
    agg AS (
        SELECT lang, split, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS tokens
        FROM toks GROUP BY 1, 2
    ),
    tot AS (SELECT SUM(tokens) AS total FROM agg)
    SELECT lang, split, n_docs, tokens,
           ROUND(tokens * 1.0 / total, 6) AS token_share
    FROM agg CROSS JOIN tot
    """,
    doc="Training-mix accounting: documents and whitespace tokens per "
    "(language, split) with each cell's share of the corpus token "
    "budget — the planning query behind dataset mixing ratios. One "
    "map-side tokenize+count pass, one small-keyspace groupBy, a "
    "1-row broadcast total; output is |langs|×3 rows at any corpus "
    "size.",
)
def corpus_mix_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    h = F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2)
    toks = t["documents"].select(
        "lang",
        F.when(h < "1a", "test").when(h < "34", "val").otherwise("train").alias("split"),
        _n_tokens().cast("long").alias("n_tokens"),
    )
    agg = toks.groupBy("lang", "split").agg(
        F.count("*").alias("n_docs"), F.sum("n_tokens").alias("tokens")
    )
    tot = agg.agg(F.sum("tokens").alias("total"))
    return agg.join(F.broadcast(tot)).select(
        "lang",
        "split",
        "n_docs",
        "tokens",
        F.round(F.col("tokens") * 1.0 / F.col("total"), 6).alias("token_share"),
    )


#: Shared T=2 temperature-mix core (token totals → sqrt weights →
#: normalizers), used by BOTH corpus_mix_temperature and
#: corpus_repeat_upsample so the mix definition cannot silently fork.
_TEMP_MIX_CTE = """toks AS (
        SELECT doc_id, lang,
               (CASE WHEN trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END) AS n_tokens
        FROM documents
    ),
    agg AS (SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS tokens
            FROM toks GROUP BY lang),
    w AS (SELECT lang, tokens, SQRT(tokens) AS wt FROM agg),
    tot AS (SELECT SUM(tokens) AS total, SUM(wt) AS wtotal FROM w)"""


def _temperature_mix(docs: DataFrame):
    """Spark mirror of :data:`_TEMP_MIX_CTE`: returns ``(toks, w, tot)``
    — per-doc token counts, per-language sqrt-weighted totals, and the
    1-row normalizer aggregate."""
    toks = docs.select(
        "doc_id", "lang", _n_tokens().cast("long").alias("n_tokens")
    )
    agg = toks.groupBy("lang").agg(F.sum("n_tokens").alias("tokens"))
    w = agg.withColumn("wt", F.sqrt(F.col("tokens")))
    tot = w.agg(F.sum("tokens").alias("total"), F.sum("wt").alias("wtotal"))
    return toks, w, tot


@query(
    "corpus_mix_temperature",
    "corpus-pipeline",
    f"""
    WITH {_TEMP_MIX_CTE}
    SELECT lang, tokens,
           ROUND(tokens * 1.0 / total, 6) AS raw_share,
           ROUND(wt / wtotal, 6) AS temp_share,
           ROUND((wt / wtotal) / (tokens * 1.0 / total), 4) AS upsample
    FROM w CROSS JOIN tot
    """,
    doc="Temperature-scaled language mixing (T=2 → p_i ∝ tokens_i^0.5, "
    "the multilingual-rebalancing rule): per-language raw token share, "
    "temperature share, and the implied up/down-sampling factor. One "
    "tokenize pass, one |langs|-key groupBy, a 1-row broadcast of the "
    "normalizers — constant-size output at any corpus scale.",
)
def corpus_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    _, w, tot = _temperature_mix(t["documents"])
    return w.join(F.broadcast(tot)).select(
        "lang",
        "tokens",
        F.round(F.col("tokens") * 1.0 / F.col("total"), 6).alias("raw_share"),
        F.round(F.col("wt") / F.col("wtotal"), 6).alias("temp_share"),
        F.round(
            (F.col("wt") / F.col("wtotal")) / (F.col("tokens") * 1.0 / F.col("total")),
            4,
        ).alias("upsample"),
    )


CONTEXT_TOKENS = 2048  # packing target: tokens per training sequence


@query(
    "corpus_pack_sequences",
    "corpus-pipeline",
    f"""
    WITH toks AS (
        SELECT doc_id, lang,
               (CASE WHEN trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END) AS n_tokens
        FROM documents
    ),
    placed AS (
        SELECT lang, n_tokens,
               CAST((CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id)
                          AS BIGINT) - n_tokens) // {CONTEXT_TOKENS} AS BIGINT) AS bin
        FROM toks
    )
    SELECT lang, bin, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
    FROM placed GROUP BY lang, bin
    """,
    doc=f"Sequence packing for training: documents stream into "
    f"{CONTEXT_TOKENS}-token context windows per language (offset "
    "packing: a doc's bin is its cumulative token offset div the "
    "context length — the deterministic chunked-stream rule, not "
    "bin-packing search). Window cumsum partitioned by lang: one "
    "shuffle; per-language streams pack independently, so the shape "
    "parallelizes across a corpus of any size.",
)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    toks = t["documents"].select(
        "doc_id",
        "lang",
        _n_tokens().cast("long").alias("n_tokens"),
    )
    win = W.partitionBy("lang").orderBy("doc_id")
    placed = toks.select(
        "lang",
        "n_tokens",
        # floor division on BOTH engines: DuckDB's CAST(float AS BIGINT)
        # rounds-half-away while Spark's cast truncates — // and floor()
        # agree exactly on the non-negative offsets here
        F.floor((F.sum("n_tokens").over(win) - F.col("n_tokens")) / CONTEXT_TOKENS)
        .cast("long")
        .alias("bin"),
    )
    return placed.groupBy("lang", "bin").agg(
        F.count("*").alias("n_docs"), F.sum("n_tokens").alias("bin_tokens")
    )


@query(
    "corpus_filter_attrition",
    "corpus-pipeline",
    """
    WITH staged AS (
        SELECT lang,
               (n_chars >= 100) AS pass_len,
               (length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) * 1.0
                / length(text) >= 0.6) AS pass_alpha,
               ((CASE WHEN trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END) >= 20) AS pass_tok
        FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_in,
           CAST(SUM(CASE WHEN pass_len THEN 1 ELSE 0 END) AS BIGINT)
               AS after_len,
           CAST(SUM(CASE WHEN pass_len AND pass_alpha THEN 1 ELSE 0 END) AS BIGINT)
               AS after_alpha,
           CAST(SUM(CASE WHEN pass_len AND pass_alpha AND pass_tok THEN 1 ELSE 0 END) AS BIGINT)
               AS after_tok,
           ROUND(SUM(CASE WHEN pass_len AND pass_alpha AND pass_tok THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 4) AS keep_rate
    FROM staged GROUP BY lang
    """,
    doc="Filter-funnel attrition report: per-language survivor counts "
    "after each curation gate (length → alpha ratio → min tokens) plus "
    "the final keep rate — the observability query every production "
    "cleaning pipeline runs before committing a recipe (a gate that "
    "silently deletes one language shows up here, not after training). "
    "All gates evaluate in ONE scan pass as boolean projections "
    "(conditional aggregation), not one filter-job per stage — at "
    "100 TB the funnel costs the same as a single count.",
)
def corpus_filter_attrition(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    # same translate-not-regex char-class count as quality_gate_attrs
    alpha_ratio = (
        F.length("text") - F.length(F.translate("text", _ALPHA_KEEP, ""))
    ) / F.length("text")
    staged = t["documents"].select(
        "lang",
        (F.col("n_chars") >= 100).alias("pass_len"),
        (alpha_ratio >= 0.6).alias("pass_alpha"),
        (_n_tokens() >= 20).alias("pass_tok"),
    )
    def surv(*conds):
        c = conds[0]
        for extra in conds[1:]:
            c = c & extra
        return F.sum(F.when(c, 1).otherwise(0)).cast("long")
    p_len, p_a, p_t = F.col("pass_len"), F.col("pass_alpha"), F.col("pass_tok")
    return staged.groupBy("lang").agg(
        F.count("*").alias("n_in"),
        surv(p_len).alias("after_len"),
        surv(p_len, p_a).alias("after_alpha"),
        surv(p_len, p_a, p_t).alias("after_tok"),
        F.round(
            F.sum(F.when(p_len & p_a & p_t, 1).otherwise(0)) * 1.0 / F.count("*"), 4
        ).alias("keep_rate"),
    )


@query(
    "corpus_repeat_upsample",
    "corpus-pipeline",
    f"""
    WITH {_TEMP_MIX_CTE},
    u AS (SELECT lang,
                 ROUND((wt / wtotal) / (tokens * 1.0 / total), 4) AS up
          FROM w CROSS JOIN tot),
    copies AS (
        SELECT t.doc_id, t.lang,
               CAST(FLOOR(u.up) AS BIGINT)
               + CASE WHEN CAST(('0x' || substring(
                             md5(CAST(t.doc_id AS VARCHAR)),
                             1, 4)) AS INTEGER) / 65536.0
                           < u.up - FLOOR(u.up)
                      THEN 1 ELSE 0 END AS n_copies
        FROM toks t JOIN u USING (lang)
    ),
    mat AS (
        SELECT lang, UNNEST(generate_series(1, n_copies)) AS copy_idx
        FROM copies WHERE n_copies >= 1
    )
    SELECT lang, CAST(copy_idx AS BIGINT) AS copy_idx,
           COUNT(*) AS n_docs
    FROM mat GROUP BY lang, copy_idx
    """,
    doc="MATERIALIZED temperature upsampling: turn the T=2 per-language "
    "upsample factor into integer per-document repeat counts — "
    "floor(u) guaranteed copies plus one stochastic-but-DETERMINISTIC "
    "extra copy when md5(doc_id)'s 16-bit band falls under frac(u) "
    "(so reruns and both engines pick the SAME docs) — then explode "
    "each doc into its epoch copies. Downsampled languages (u<1) keep "
    "only the hash-selected subset: exactly how a training mix is "
    "physically materialized. Scale: explode is a pure map (no "
    "shuffle); the only shuffles are the |langs|-key mix agg and the "
    "final count. Output = docs per (lang, copy depth).",
)
def corpus_repeat_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    toks, w, tot = _temperature_mix(t["documents"])
    u = w.join(F.broadcast(tot)).select(
        "lang",
        F.round(
            (F.col("wt") / F.col("wtotal")) / (F.col("tokens") / F.col("total")), 4
        ).alias("up"),
    )
    band = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 4), 16, 10
    ).cast("long")
    copies = (
        toks.join(F.broadcast(u), "lang")
        .select(
            "doc_id",
            "lang",
            (
                F.floor("up").cast("long")
                + F.when(band / 65536.0 < F.col("up") - F.floor("up"), 1).otherwise(0)
            ).alias("n_copies"),
        )
        .filter(F.col("n_copies") >= 1)
    )
    mat = copies.select(
        "lang", F.explode(F.sequence(F.lit(1), F.col("n_copies"))).alias("copy_idx")
    )
    return mat.groupBy("lang", F.col("copy_idx").cast("long").alias("copy_idx")).agg(
        F.count("*").alias("n_docs")
    )


@query(
    "corpus_snapshot_diff",
    "corpus-pipeline",
    """
    WITH old AS (SELECT doc_id, md5(text) AS h FROM documents
                 WHERE doc_id % 10 <> 0),
    new AS (SELECT doc_id,
                   md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2'
                            ELSE text END) AS h
            FROM documents WHERE doc_id % 10 <> 1),
    j AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
                 o.h AS oh, n.h AS nh
          FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id)
    SELECT CASE WHEN oh IS NULL THEN 'added'
                WHEN nh IS NULL THEN 'removed'
                WHEN oh <> nh   THEN 'changed'
                ELSE 'same' END AS status,
           COUNT(*) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_id
    FROM j GROUP BY 1
    """,
    doc="Corpus snapshot versioning: FULL OUTER join of two snapshot "
    "views on doc_id comparing content hashes → added / removed / "
    "changed / same attribution (synthetic snapshots carved "
    "deterministically from the one documents table: doc_id%10 "
    "membership shifts, doc_id%7 edits). The incremental-ingest "
    "audit every recurring crawl needs. Scale: one equi-join shuffle "
    "on doc_id; content compare is md5 computed map-side — never "
    "text-vs-text.",
)
def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    old = docs.filter(F.col("doc_id") % 10 != 0).select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("oh")
    )
    new = docs.filter(F.col("doc_id") % 10 != 1).select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
            )
            .otherwise(F.col("text"))
            .cast("binary")
        ).alias("nh"),
    )
    j = old.join(new, "doc_id", "full_outer")
    status = (
        F.when(F.col("oh").isNull(), "added")
        .when(F.col("nh").isNull(), "removed")
        .when(F.col("oh") != F.col("nh"), "changed")
        .otherwise("same")
    )
    return j.groupBy(status.alias("status")).agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


EVAL_QUOTA = 40  # eval holdout: docs per language


@query(
    "sample_stratified_quota",
    "corpus-pipeline",
    f"""
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM (
        SELECT lang, doc_id,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                   AS rk
        FROM documents
    ) WHERE rk <= {EVAL_QUOTA}
    GROUP BY lang
    """,
    doc=f"Fixed-size eval holdout: exactly {EVAL_QUOTA} docs per "
    "language, chosen by ranking on md5(doc_id) — a deterministic "
    "pseudo-random order both engines reproduce (id_sum hash-proves "
    "the SAME docs were picked, not just the same count). The "
    "fixed-quota counterpart of the share-based stratified sampler. "
    "Scale: one lang-partitioned window sort; no collect, no "
    "global sort.",
)
def sample_stratified_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    rk = F.row_number().over(
        W.partitionBy("lang").orderBy(
            F.md5(F.col("doc_id").cast("string").cast("binary")), F.col("doc_id")
        )
    )
    return (
        t["documents"]
        .select("lang", "doc_id")
        .withColumn("rk", rk)
        .filter(F.col("rk") <= EVAL_QUOTA)
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.sum("doc_id").alias("id_sum"))
    )


CHUNK_TOKENS = 256   # RAG/packing chunk width
CHUNK_STRIDE = 192   # 64-token overlap between consecutive chunks


@query(
    "corpus_chunk_windows",
    "corpus-pipeline",
    f"""
    WITH toks AS (
        SELECT doc_id,
               (CASE WHEN trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END) AS n_tokens
        FROM documents WHERE trim(text) <> ''
    ),
    chunks AS (
        SELECT doc_id, n_tokens,
               UNNEST(generate_series(0,
                   CAST(CEIL(GREATEST(n_tokens - {CHUNK_TOKENS}, 0)
                             * 1.0 / {CHUNK_STRIDE}) AS BIGINT))) AS c
        FROM toks
    )
    SELECT doc_id,
           CAST(MAX(n_tokens) AS BIGINT) AS n_tokens,
           COUNT(*) AS n_chunks,
           CAST(SUM(LEAST({CHUNK_TOKENS}, n_tokens - c * {CHUNK_STRIDE}))
                AS BIGINT) AS covered_tokens
    FROM chunks GROUP BY doc_id
    """,
    doc=f"RAG-style overlapping chunking: {CHUNK_TOKENS}-token windows "
    f"at stride {CHUNK_STRIDE} (64-token overlap), each doc exploded "
    "into its chunk set and re-aggregated — n_chunks and "
    "covered_tokens (with overlap double-count) certify the exact "
    "boundary arithmetic both engines compute. The materialization "
    "is a pure map (explode over a generated index, no shuffle "
    "before the per-doc re-agg); at 100 TB chunks write straight "
    "out partitioned by doc hash.",
)
def corpus_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    toks = (
        t["documents"]
        .filter(F.trim("text") != "")
        .select(
            "doc_id",
            _n_tokens().cast("long").alias("n_tokens"),
        )
    )
    n_last = F.ceil(
        F.greatest(F.col("n_tokens") - CHUNK_TOKENS, F.lit(0)) / CHUNK_STRIDE
    ).cast("long")
    chunks = toks.select(
        "doc_id",
        "n_tokens",
        F.explode(F.sequence(F.lit(0), n_last)).alias("c"),
    )
    return chunks.groupBy("doc_id").agg(
        F.max("n_tokens").alias("n_tokens"),
        F.count("*").alias("n_chunks"),
        F.sum(
            F.least(F.lit(CHUNK_TOKENS), F.col("n_tokens") - F.col("c") * CHUNK_STRIDE)
        ).alias("covered_tokens"),
    )


# ---------------------------------------------------------------------------
# importance resampling toward a target domain (hashed n-gram features)
# ---------------------------------------------------------------------------

DSIR_B = 10_000   # hashed-unigram feature buckets
DSIR_TOP = 500    # deterministic selection: top-N by weight


@query(
    "sample_importance_dsir",
    "sampling",
    f"""
    WITH tok AS (
        SELECT doc_id, lang,
               CAST(concat('0x', substr(md5(w), 1, 15)) AS BIGINT) % {DSIR_B} AS b
        FROM (SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS w
              FROM documents)
    ),
    ct AS (SELECT b, COUNT(*) AS c FROM tok WHERE lang = 'en' GROUP BY b),
    cr AS (SELECT b, COUNT(*) AS c FROM tok GROUP BY b),
    tot AS (SELECT (SELECT SUM(c) FROM ct) AS nt, (SELECT SUM(c) FROM cr) AS nr),
    lr AS (
        SELECT cr.b,
               CAST(ROUND(1000000.0 *
                    (LN((COALESCE(ct.c, 0) + 1.0) / (tot.nt + {DSIR_B}.0))
                     - LN((cr.c + 1.0) / (tot.nr + {DSIR_B}.0))), 0) AS BIGINT) AS lr
        FROM cr LEFT JOIN ct USING (b) CROSS JOIN tot
    ),
    wts AS (
        SELECT t.doc_id, CAST(SUM(l.lr) AS BIGINT) AS weight_fx
        FROM tok t JOIN lr l USING (b) GROUP BY t.doc_id
    )
    SELECT doc_id, weight_fx FROM wts
    ORDER BY weight_fx DESC, doc_id LIMIT {DSIR_TOP}
    """,
    doc="Data-selection-by-importance-resampling over hashed unigram "
    f"features: per-token log-ratio of target (lang='en') vs corpus "
    f"bucket frequencies ({DSIR_B} md5-hashed buckets, add-1 "
    f"smoothing), per-doc weight = exact integer sum of x1e6-quantized "
    "per-bucket log-ratios, deterministic selection = top "
    f"{DSIR_TOP} by (weight desc, doc_id). Exactness: both engines "
    "evaluate ln() once per BUCKET (not per token), quantize to BIGINT "
    "immediately, and sum integers — order-free, so the hash matches "
    "despite transcendental 1-ulp drift. Scale: two B-row count "
    "tables (map-side combined), the x1e6 log-ratio table broadcasts "
    "(<=10k rows), the token stream joins it without shuffling, one "
    "groupBy(doc) and a TakeOrdered top-N — nothing corpus-sized ever "
    "sits in one place.",
)
def sample_importance_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tailsql_spark.operators.dedup import shingle_hash60

    t = load_tables(spark, sf_dir)
    tok = (
        t["documents"]
        .select("doc_id", "lang", F.explode(F.split(F.lower(F.col("text")), " ")).alias("w"))
        .select("doc_id", "lang", F.pmod(shingle_hash60(F.col("w")), F.lit(DSIR_B)).alias("b"))
    )
    ct = tok.filter(F.col("lang") == "en").groupBy("b").agg(F.count("*").alias("ct"))
    cr = tok.groupBy("b").agg(F.count("*").alias("cr"))
    tot = (
        ct.agg(F.sum("ct").alias("nt"))
        .crossJoin(cr.agg(F.sum("cr").alias("nr")))
    )
    lr = (
        cr.join(ct, "b", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            F.round(
                1000000.0
                * (
                    F.log((F.coalesce(F.col("ct"), F.lit(0)) + 1.0) / (F.col("nt") + float(DSIR_B)))
                    - F.log((F.col("cr") + 1.0) / (F.col("nr") + float(DSIR_B)))
                ),
                0,
            )
            .cast("long")
            .alias("lr"),
        )
    )
    wts = (
        tok.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(F.sum("lr").alias("weight_fx"))
    )
    return wts.orderBy(F.desc("weight_fx"), F.asc("doc_id")).limit(DSIR_TOP)


# ---------------------------------------------------------------------------
# the complete curation DAG, certified as one query
# ---------------------------------------------------------------------------

def _curation_oracle() -> str:
    """Quality gate → exact dedup → NEAR-dup survivor drop → per
    (lang, split) doc/token budgets, all in one WITH RECURSIVE chain:
    the clean-pipeline CTEs and the MinHash-cluster closure CTEs are
    the exact shared definitions of their standalone oracles, so this
    composition cannot drift from the operators it composes."""
    from tailsql_spark.operators.graphs import _CC_ORACLE_CTES

    return f"""
    WITH RECURSIVE {_CLEAN_CTES},
    cleaned AS ({_CLEAN_SELECT}),
    {_CC_ORACLE_CTES}
    SELECT c.lang, c.split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(c.n_tokens) AS BIGINT) AS n_tokens
    FROM cleaned c LEFT JOIN labels l ON c.doc_id = l.doc_id
    WHERE l.doc_id IS NULL OR l.doc_id = l.cluster_id
    GROUP BY c.lang, c.split
    """


@query(
    "corpus_curation_survivors",
    "corpus-pipeline",
    _curation_oracle(),
    doc="The COMPLETE curation DAG certified end-to-end as one query: "
    "quality gate (length + alpha ratio) → exact dedup (min-id per "
    "content fingerprint) → near-duplicate cluster survivor drop "
    "(MinHash-LSH pairs → transitive closure → keep each cluster's "
    "min-id member) → per-(lang, split) document and token budgets — "
    "the numbers a training run is actually provisioned from. "
    "Composes three certified operators; the oracle reuses their "
    "exact CTE definitions so composition cannot drift. Scale: the "
    "cluster label table is tiny vs the corpus (clustered docs only) "
    "and broadcasts into the survivor filter, so the cleaned corpus "
    "is never reshuffled after its one dedup groupBy.",
)
def corpus_curation_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tailsql_spark.operators.dedup import _small_input, dedup_minhash_lsh
    from tailsql_spark.operators.graphs import connected_components

    cleaned = corpus_clean_pipeline(spark, sf_dir)
    labels = connected_components(dedup_minhash_lsh(spark, sf_dir))
    return survivor_budgets(cleaned, labels, hint_broadcast=_small_input(sf_dir))


# ---------------------------------------------------------------------------
# quality-percentile gating and per-source caps (web-corpus curation)
# ---------------------------------------------------------------------------

#: Integer quality score shared by the percentile gate and the source
#: cap: whitespace tokens ×1000 + distinct tokens.  Pure-integer so the
#: thresholds and rankings certify exactly cross-engine.
def _quality_score():
    t = F.trim("text")
    distinct_toks = F.when(t == "", F.lit(0)).otherwise(
        F.size(F.array_distinct(F.split(F.lower(t), r"\s+")))
    )
    return (_n_tokens() * 1000 + distinct_toks).cast("long")


_QSCORE_SQL = r"""(CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END) * 1000
         + (CASE WHEN trim(text) = '' THEN 0
              ELSE len(list_distinct(string_split_regex(lower(trim(text)), '\s+'))) END)"""

PCTL_GATE = 0.25  # drop the bottom quartile per language


@query(
    "corpus_quality_percentile_gate",
    "corpus",
    f"""
    WITH scored AS (
        SELECT doc_id, lang, CAST({_QSCORE_SQL} AS BIGINT) AS score
        FROM documents
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY lang
                       ORDER BY score, doc_id) AS rnk,
               COUNT(*) OVER (PARTITION BY lang) AS n
        FROM scored
    ),
    thresh AS (
        SELECT lang, score AS threshold
        FROM ranked WHERE rnk = CAST(ceil({PCTL_GATE} * n) AS BIGINT)
    )
    SELECT s.lang, t.threshold,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN s.score >= t.threshold THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept
    FROM scored s JOIN thresh t USING (lang)
    GROUP BY 1, 2
    """,
    doc=f"Per-language quality-percentile gating: the EXACT rank-based "
    f"P{int(PCTL_GATE * 100)} of an integer quality score (tokens ×1000 "
    "+ distinct tokens) becomes each language's admission threshold; "
    "docs at or above it survive. Rank-based, all-integer — thresholds "
    "and counts certify exactly cross-engine (quantile interpolation "
    "would not). Scale: one scoring scan, one per-lang rank to find "
    "the threshold row, then the thresholds (|langs| rows) broadcast "
    "back over the scan — the corpus never shuffles twice. With very "
    "few languages the rank shuffle is skewed; at 100 TB swap the "
    "exact rank for approx_percentile per key (same plan shape, "
    "documented trade), or salt the rank by score bucket.",
)
def corpus_quality_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    scored = t["documents"].select("doc_id", "lang", _quality_score().alias("score"))
    wl = W.partitionBy("lang").orderBy(F.asc("score"), F.asc("doc_id"))
    ranked = scored.withColumn("rnk", F.row_number().over(wl)).withColumn(
        "n", F.count("*").over(W.partitionBy("lang"))
    )
    thresh = ranked.filter(
        F.col("rnk") == F.ceil(F.lit(PCTL_GATE) * F.col("n")).cast("long")
    ).select("lang", F.col("score").alias("threshold"))
    return (
        scored.join(F.broadcast(thresh), "lang")
        .groupBy("lang", "threshold")
        .agg(
            F.count("*").cast("long").alias("n_total"),
            F.sum((F.col("score") >= F.col("threshold")).cast("long"))
            .cast("long")
            .alias("n_kept"),
        )
    )


@query(
    "corpus_quality_percentile_approx",
    "corpus",
    None,
    doc=f"The 100 TB variant of corpus_quality_percentile_gate: the "
    f"per-language P{int(PCTL_GATE * 100)} admission threshold comes "
    "from approx_percentile (a mergeable KLL-style sketch, one "
    "map-side-combined aggregation — no per-language full sort / rank "
    "window, whose skew the exact gate's docstring flags), then the "
    "|langs|-row threshold table broadcasts back over the scoring "
    "scan. Sketch output is accuracy-bounded, not exact, so this row "
    "is graded rows-only (the agg_hll_mergeable pattern) and a pytest "
    "tolerance gate pins its kept-fraction to within 2 points of the "
    "exact rank gate per language.",
)
def corpus_quality_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    scored = t["documents"].select("doc_id", "lang", _quality_score().alias("score"))
    thresh = scored.groupBy("lang").agg(
        F.percentile_approx("score", PCTL_GATE, 10000).alias("threshold")
    )
    return (
        scored.join(F.broadcast(thresh), "lang")
        .groupBy("lang", "threshold")
        .agg(
            F.count("*").cast("long").alias("n_total"),
            F.sum((F.col("score") >= F.col("threshold")).cast("long"))
            .cast("long")
            .alias("n_kept"),
        )
    )


#: Length-bucketed batching: bucket width in tokens and docs per batch.
LEN_BUCKET_WIDTH = 64
LEN_BATCH_DOCS = 8


@query(
    "corpus_length_bucket_batches",
    "corpus",
    f"""
    WITH toks AS (
        SELECT doc_id,
               (CASE WHEN trim(text) = '' THEN 0
                ELSE len(string_split_regex(trim(text), '\\s+')) END) AS n_tokens
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, n_tokens,
               (n_tokens // {LEN_BUCKET_WIDTH}) AS bucket,
               ROW_NUMBER() OVER (
                   PARTITION BY (n_tokens // {LEN_BUCKET_WIDTH})
                   ORDER BY n_tokens DESC, doc_id
               ) AS rnk
        FROM toks
    ),
    batched AS (
        SELECT bucket, ((rnk - 1) // {LEN_BATCH_DOCS}) AS batch_id,
               n_tokens
        FROM ranked
    ),
    per_batch AS (
        SELECT bucket, batch_id, COUNT(*) AS n_docs,
               MAX(n_tokens) AS max_tokens, SUM(n_tokens) AS sum_tokens
        FROM batched GROUP BY bucket, batch_id
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_batches,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(sum_tokens) AS BIGINT) AS sum_tokens,
           CAST(SUM(n_docs * max_tokens - sum_tokens) AS BIGINT)
               AS padding_tokens
    FROM per_batch GROUP BY bucket
    """,
    doc=f"Length-bucketed batch packing — the padding-efficiency step "
    "between curation and the training loader: docs bucket by token "
    f"count (width {LEN_BUCKET_WIDTH}), rank within their bucket "
    f"(longest first, doc_id tiebreak) and group into {LEN_BATCH_DOCS}"
    "-doc batches, so every batch pads to its own max length instead "
    "of the corpus max. Per-bucket batch counts, token mass, and "
    "wasted padding tokens certify exactly (all-integer ranks). "
    "Scale: one scoring scan + ONE rank window on the bucket key + "
    "the same-keyed aggregations riding that shuffle — one exchange "
    "total; buckets are the partition key, so skew is bounded by the "
    "token-length distribution, and a pathological single-length "
    "corpus degrades to one bucket (the unbucketed baseline), never "
    "worse.",
)
def corpus_length_bucket_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    toks = t["documents"].select(
        "doc_id", _n_tokens().cast("long").alias("n_tokens")
    )
    bucket = F.expr(f"n_tokens div {LEN_BUCKET_WIDTH}")
    wl = W.partitionBy("bucket").orderBy(F.desc("n_tokens"), F.asc("doc_id"))
    batched = (
        toks.withColumn("bucket", bucket)
        .withColumn("rnk", F.row_number().over(wl))
        .withColumn("batch_id", F.expr(f"(rnk - 1) div {LEN_BATCH_DOCS}"))
    )
    per_batch = batched.groupBy("bucket", "batch_id").agg(
        F.count("*").alias("n_docs"),
        F.max("n_tokens").alias("max_tokens"),
        F.sum("n_tokens").alias("sum_tokens"),
    )
    return per_batch.groupBy("bucket").agg(
        F.count("*").alias("n_batches"),
        F.sum("n_docs").alias("n_docs"),
        F.sum("sum_tokens").alias("sum_tokens"),
        F.sum(
            F.col("n_docs") * F.col("max_tokens") - F.col("sum_tokens")
        ).alias("padding_tokens"),
    )


SOURCE_CAP = 5  # max admitted docs per source


@query(
    "corpus_source_cap",
    "corpus",
    f"""
    WITH scored AS (
        SELECT doc_id, source, CAST({_QSCORE_SQL} AS BIGINT) AS score,
               (CASE WHEN trim(text) = '' THEN 0
                ELSE len(string_split_regex(trim(text), '\\s+')) END) AS n_tokens
        FROM documents
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY source
                       ORDER BY score DESC, doc_id) AS rnk
        FROM scored
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN rnk <= {SOURCE_CAP} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           CAST(SUM(CASE WHEN rnk <= {SOURCE_CAP} THEN n_tokens ELSE 0 END) AS BIGINT)
               AS tokens_kept
    FROM ranked GROUP BY source
    """,
    doc=f"Per-source document caps (the anti-domination rule of web "
    f"corpora: no source contributes more than {SOURCE_CAP} docs): rank "
    "each source's docs by the shared integer quality score (desc, "
    "doc_id tiebreak) and admit the top "
    f"{SOURCE_CAP}. Scale: one scoring scan + one rank window on the "
    "source key + the same-keyed aggregation riding that shuffle — one "
    "exchange total. Hot sources (the reason the cap exists) are "
    "bounded by the rank itself; a pre-aggregation per (source, score "
    "bucket) salts the pathological single-source skew if needed.",
)
def corpus_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    scored = t["documents"].select(
        "doc_id",
        "source",
        _quality_score().alias("score"),
        _n_tokens().cast("long").alias("n_tokens"),
    )
    ws = W.partitionBy("source").orderBy(F.desc("score"), F.asc("doc_id"))
    ranked = scored.withColumn("rnk", F.row_number().over(ws))
    kept = F.col("rnk") <= SOURCE_CAP
    return ranked.groupBy("source").agg(
        F.count("*").cast("long").alias("n_total"),
        F.sum(kept.cast("long")).cast("long").alias("n_kept"),
        F.sum(F.when(kept, F.col("n_tokens")).otherwise(F.lit(0)))
        .cast("long")
        .alias("tokens_kept"),
    )


# ---------------------------------------------------------------------------
# column profiler: the ANALYZE-TABLE shape
# ---------------------------------------------------------------------------

_PROFILE_COLS = ("doc_id", "text", "lang", "source", "n_chars")


def _profile_oracle() -> str:
    parts = []
    for c in _PROFILE_COLS:
        parts.append(f"""
        SELECT '{c}' AS col_name,
               CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
               CAST(MIN({c}) AS VARCHAR) AS min_val,
               CAST(MAX({c}) AS VARCHAR) AS max_val,
               ROUND(AVG(LENGTH(CAST({c} AS VARCHAR))), 4) AS avg_len
        FROM documents""")
    return " UNION ALL ".join(parts)


@query(
    "quality_profile_columns",
    "data-quality",
    _profile_oracle(),
    doc="Whole-table column profile (the ANALYZE TABLE / data-quality "
    "dashboard shape): per column — null count, exact distinct count, "
    "min/max, average rendered length — computed in ONE scan. All six "
    "stats per column live in a single global aggregate (Spark plans "
    "the multi-count-distinct as one Expand over the scan, i.e. "
    "column-count x one pass, never column-count scans), then the "
    "1-row result is unpivoted JVM-side with stack(). At 100 TB the "
    "drop-in change is approx_count_distinct for the distinct column "
    "(the HLL convention used by the sketch rows); everything else is "
    "map-side-partial aggregation with a 1-row shuffle.",
)
def quality_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    aggs = []
    for c in _PROFILE_COLS:
        col = F.col(c)
        aggs += [
            F.sum(col.isNull().cast("long")).alias(f"{c}__n_null"),
            F.countDistinct(col).alias(f"{c}__n_distinct"),
            F.min(col).cast("string").alias(f"{c}__min_val"),
            F.max(col).cast("string").alias(f"{c}__max_val"),
            F.round(F.avg(F.length(col.cast("string"))), 4).alias(f"{c}__avg_len"),
        ]
    one = t["documents"].agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__n_null, {c}__n_distinct, {c}__min_val, {c}__max_val, {c}__avg_len"
        for c in _PROFILE_COLS
    )
    return one.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
        "(col_name, n_null, n_distinct, min_val, max_val, avg_len)"
    )


# ---------------------------------------------------------------------------
# weighted systematic sampling (PPS) via distributed prefix sum
# ---------------------------------------------------------------------------

#: Systematic-sample size: selection points at k·T/n for k = 0..n-1
#: over the cumulative-weight line (T = total weight).
PPS_N = 100
#: Prefix-sum bucket width over the dense doc_id space: the global
#: cumulative sum is computed as intra-bucket window + per-bucket
#: offsets, so no stage ever windows over a single global partition.
PPS_BUCKET = 128

_PPS_ORACLE = f"""
    WITH w AS (SELECT doc_id, n_chars AS w FROM documents),
    tot AS (SELECT SUM(w) AS t FROM w),
    c AS (SELECT doc_id, w, SUM(w) OVER (ORDER BY doc_id) AS wi FROM w)
    SELECT doc_id, w,
           CAST((wi * {PPS_N}) // t - ((wi - w) * {PPS_N}) // t AS BIGINT) AS n_picks
    FROM c CROSS JOIN tot
    WHERE (wi * {PPS_N}) // t > ((wi - w) * {PPS_N}) // t
"""


@query(
    "sample_weighted_systematic",
    "sampling",
    _PPS_ORACLE,
    doc="Weighted (probability-proportional-to-size) systematic "
    "sampling, integer-exact: selection points at k*T/n over the "
    "cumulative-weight line; a doc is picked once per point its "
    "[prev, cum) interval covers (n_picks = (cum*n) div T - (prev*n) "
    "div T), so exactly n picks total, deterministically, with zero "
    "floating point — both engines run the same bigint arithmetic. "
    "The cumulative sum is a DISTRIBUTED prefix sum, not a global-"
    "order window: intra-bucket running totals (window partitioned by "
    "doc_id div bucket) plus a per-bucket offset table that is "
    "corpus_size/bucket rows — tiny — and broadcast back. At 100 TB "
    "this is the standard two-pass scan shape; the one full-width "
    "stage is the bucket-partitioned window, and weights*n must stay "
    "under int64 (swap to decimal(38,0) past ~1e14 total weight).",
)
def sample_weighted_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    w = t["documents"].select(
        "doc_id",
        F.col("n_chars").alias("w"),
        (F.col("doc_id") / PPS_BUCKET).cast("long").alias("b"),
    )
    intra = w.withColumn(
        "intra",
        F.sum("w").over(W.partitionBy("b").orderBy("doc_id")),
    )
    # per-bucket totals: a corpus_size/PPS_BUCKET-row table; its own
    # prefix sum runs on the tiny table, never the corpus
    btot = w.groupBy("b").agg(F.sum("w").alias("bw"))
    offs = btot.withColumn(
        "off", F.sum("bw").over(W.orderBy("b")) - F.col("bw")
    ).select("b", "off")
    tot = w.agg(F.sum("w").alias("t"))
    c = (
        intra.join(F.broadcast(offs), "b")
        .withColumn("wi", F.col("intra") + F.col("off"))
        .crossJoin(F.broadcast(tot))
    )
    picks = F.expr(f"(wi * {PPS_N}) DIV t") - F.expr(f"((wi - w) * {PPS_N}) DIV t")
    return (
        c.withColumn("n_picks", picks)
        .filter(F.col("n_picks") > 0)
        .select("doc_id", "w", "n_picks")
    )


# ---------------------------------------------------------------------------
# binned-exact percentile gate (the certified approximate variant)
# ---------------------------------------------------------------------------

#: Histogram bin width in score units.  The quality score is tokens ×
#: 1000 + distinct tokens, so BIN_W = 1000 bins by whole token count —
#: the admission threshold is approximate with error bounded by ONE
#: BIN (vs the sketch variant's probabilistic rank error), and every
#: number the operator emits is integer-exact and certifiable.
PCTL_BIN_W = 1000


@query(
    "corpus_quality_percentile_binned",
    "corpus",
    f"""
    WITH scored AS (
        SELECT doc_id, lang, CAST({_QSCORE_SQL} AS BIGINT) AS score
        FROM documents
    ),
    hist AS (
        SELECT lang, score // {PCTL_BIN_W} AS bin, CAST(COUNT(*) AS BIGINT) AS c
        FROM scored GROUP BY 1, 2
    ),
    tot AS (SELECT lang, SUM(c) AS n FROM hist GROUP BY lang),
    cum AS (
        SELECT lang, bin,
               SUM(c) OVER (PARTITION BY lang ORDER BY bin) AS cum
        FROM hist
    ),
    thresh AS (
        SELECT c.lang, MIN(c.bin) AS threshold_bin
        FROM cum c JOIN tot t USING (lang)
        WHERE c.cum >= CAST(ceil({PCTL_GATE} * t.n) AS BIGINT)
        GROUP BY c.lang
    )
    SELECT s.lang,
           t.threshold_bin,
           CAST(t.threshold_bin * {PCTL_BIN_W} AS BIGINT) AS threshold_floor,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN s.score // {PCTL_BIN_W} >= t.threshold_bin
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM scored s JOIN thresh t USING (lang)
    GROUP BY 1, 2, 3
    """,
    doc=f"The CERTIFIED approximate percentile gate — the 100 TB shape "
    "with exact cross-engine arithmetic: per-language quality scores "
    f"fold into an integer histogram (score div {PCTL_BIN_W}; "
    "|langs| × |bins| rows, map-side combinable — no per-language rank "
    "window over the corpus, the skew the exact gate's docstring "
    "flags), the admission threshold is the first bin whose cumulative "
    "count reaches the target rank (a window over the TINY histogram "
    "only), and the admission counts are bin mass at or above the "
    "threshold — ONE corpus pass total. Unlike approx_percentile "
    "(probabilistic sketch → rows-only grading), every emitted number "
    "is integer-exact: the threshold error is bounded by ONE bin by "
    "construction, and pytest pins the invariant that the exact gate's "
    "threshold falls inside the binned threshold bin. The histogram is "
    "trivially mergeable (bin counts sum), so the same state "
    "incrementalizes and shards.",
)
def corpus_quality_percentile_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    scored = t["documents"].select(
        "doc_id", "lang", _quality_score().alias("score")
    )
    return binned_gate_from_hist(quality_score_hist(scored))


def quality_score_hist(scored: DataFrame) -> DataFrame:
    """(lang, bin, c) integer histogram of quality scores — the entire
    mergeable state of the binned gate (bin counts sum across shards
    and batches)."""
    return scored.groupBy(
        "lang", F.expr(f"score div {PCTL_BIN_W}").alias("bin")
    ).agg(F.count("*").alias("c"))


def binned_gate_from_hist(hist: DataFrame) -> DataFrame:
    """Threshold + admission counts from the histogram ALONE — n_kept
    is the bin-mass at or above the threshold bin, so no second corpus
    pass is needed and a streaming twin scores its merged per-batch
    histogram through this identical arithmetic."""
    tot = hist.groupBy("lang").agg(F.sum("c").alias("n"))
    cum = hist.withColumn(
        "cum", F.sum("c").over(W.partitionBy("lang").orderBy("bin"))
    )
    thresh = (
        cum.join(tot, "lang")
        .filter(
            F.col("cum") >= F.ceil(F.lit(PCTL_GATE) * F.col("n")).cast("long")
        )
        .groupBy("lang")
        .agg(F.min("bin").alias("threshold_bin"))
    )
    return (
        hist.join(F.broadcast(thresh), "lang")
        .groupBy("lang", "threshold_bin")
        .agg(
            F.sum("c").cast("long").alias("n_total"),
            F.sum(
                F.when(F.col("bin") >= F.col("threshold_bin"), F.col("c")).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("n_kept"),
        )
        .select(
            "lang",
            "threshold_bin",
            (F.col("threshold_bin") * PCTL_BIN_W).cast("long").alias(
                "threshold_floor"
            ),
            "n_total",
            "n_kept",
        )
    )


# ---------------------------------------------------------------------------
# training-shard writer: deterministic global shuffle -> token-balanced shards
# ---------------------------------------------------------------------------

#: Default shard count — the certified row runs on it; a production run
#: passes its own via ``training_shards_path(..., n_shards=...)``.
#: Token-balanced, not doc-balanced — dataloaders consume tokens.
SHARD_N = 8
#: Default seed folded into the order key: reshuffling an epoch = a new
#: ``seed=`` argument, and the key is content-stable (md5 of
#: seed:doc_id), so re-runs and shard additions reproduce the same
#: order — the sample_stratified_hash discipline applied to ordering
#: instead of admission.
SHARD_SEED = "shard1:"
#: Coarse prefix-sum buckets: the first 3 hex digits of the 15-hex-digit
#: order key (keys are uniform, so 4096 ~equal buckets) — bucketing by
#: a PREFIX of the key preserves global order across buckets, which is
#: what lets the running token sum distribute.
_SHARD_BUCKET_DIV = 16**12


def training_shards_path(
    spark: SparkSession,
    sf_dir: str,
    n_shards: int = SHARD_N,
    seed: str = SHARD_SEED,
) -> str:
    """Materialize the training-shard layout once per corpus: the LAST
    step of the curation pipeline — the dataloader-facing write.  Every
    doc gets a deterministic pseudo-random order key (md5 of
    seed:doc_id — the same cross-engine-exact device as every hash
    band), and shard boundaries cut the key-ordered corpus into
    ``n_shards`` runs of ~equal TOKEN mass, not doc count, so every
    data-parallel worker pays the same token bill per epoch.
    Reshuffling an epoch = a new ``seed``; resizing the worker fleet =
    a new ``n_shards`` — each (n_shards, seed) pair stages its own
    layout dir, and the certified row runs on the module defaults.

    The global running token sum is the two-level distributed prefix
    sum from ``sample_weighted_systematic``: an intra-bucket window
    partitioned by the key's 3-hex-digit prefix (4096 balanced
    partitions — never a single-partition corpus window) plus one
    global window over the 4096-row bucket-totals table (metadata-
    sized; plan-audit allowlisted).  The write is one shuffle by
    shard_id, partitionBy(shard_id) — at 100 TB swap the final
    repartition for repartitionByRange(skey) inside each shard to get
    ordered files; the boundary arithmetic is unchanged.  Idempotent
    staging keyed on the documents fingerprint."""
    import hashlib
    import os

    from tailsql_spark.plans.connectors import _stage_dir

    tag = "train_shards_v1"
    if (int(n_shards), seed) != (SHARD_N, SHARD_SEED):
        # non-default epochs/fleets stage under their own key so the
        # cached default layout is never served for a custom request
        tag = f"{tag}_n{int(n_shards)}_{hashlib.md5(seed.encode()).hexdigest()[:8]}"
    root = _stage_dir(sf_dir, tag, src_tables=("documents",))
    done = os.path.join(root, "_DONE")
    if os.path.exists(done):
        return root
    os.makedirs(root, exist_ok=True)
    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "lang", "text")
    sharded = shard_assignments(docs, n_shards=n_shards, seed=seed)
    (
        sharded.repartition(int(n_shards), "shard_id")
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(f"{root}/shards")
    )
    with open(done, "w") as fh:
        fh.write("ok")
    return root


def shard_assignments(
    docs: DataFrame, n_shards: int = SHARD_N, seed: str = SHARD_SEED
) -> DataFrame:
    """(shard_id, doc_id, lang, tok, skey, text) for every doc — the
    boundary arithmetic of the shard writer, factored so the plan test
    can assert its shuffle structure: the only corpus-sized window is
    PARTITIONED by the key prefix; the single global window runs over
    the 4096-row bucket-totals table.  ``seed`` re-keys the shuffle
    order (epoch reshuffle), ``n_shards`` re-cuts the boundaries
    (fleet resize); defaults are the certified row's."""
    n_shards = int(n_shards)
    keyed = docs.select(
        "doc_id",
        "lang",
        "text",
        _n_tokens().cast("long").alias("tok"),
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(seed), F.col("doc_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("skey"),
    ).withColumn("b", F.expr(f"skey DIV {_SHARD_BUCKET_DIV}"))
    intra = keyed.withColumn(
        "intra", F.sum("tok").over(W.partitionBy("b").orderBy("skey", "doc_id"))
    )
    btot = keyed.groupBy("b").agg(F.sum("tok").alias("bw"))
    offs = btot.withColumn(
        "off", F.sum("bw").over(W.orderBy("b")) - F.col("bw")
    ).select("b", "off")
    tot = keyed.agg(F.sum("tok").alias("t"))
    sharded = (
        intra.join(F.broadcast(offs), "b")
        .crossJoin(F.broadcast(tot))
        .withColumn("prior", F.col("intra") + F.col("off") - F.col("tok"))
        .withColumn(
            "chunk",
            F.greatest(F.expr(f"(t + {n_shards} - 1) DIV {n_shards}"), F.lit(1)),
        )
        .withColumn(
            "shard_id",
            F.least(F.expr("prior DIV chunk"), F.lit(n_shards - 1)).cast("long"),
        )
        .select("shard_id", "doc_id", "lang", "tok", "skey", "text")
    )
    return sharded


@query(
    "sink_training_shards",
    "corpus-pipeline",
    f"""
    WITH toks AS (
        SELECT doc_id,
               CAST((CASE WHEN trim(text) = '' THEN 0
                     ELSE len(string_split_regex(trim(text), '\\s+')) END)
                    AS BIGINT) AS tok,
               CAST(('0x' || substr(md5('{SHARD_SEED}' || CAST(doc_id AS VARCHAR)),
                                    1, 15)) AS BIGINT) AS skey
        FROM documents
    ),
    tot AS (SELECT SUM(tok) AS t FROM toks),
    cum AS (
        SELECT doc_id, tok, skey,
               SUM(tok) OVER (ORDER BY skey, doc_id) - tok AS prior
        FROM toks
    ),
    sh AS (
        SELECT tok, skey,
               LEAST(prior // GREATEST((t + {SHARD_N - 1}) // {SHARD_N}, 1),
                     {SHARD_N - 1}) AS shard_id
        FROM cum, tot
    )
    SELECT CAST(shard_id AS BIGINT) AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tok) AS BIGINT) AS sum_tokens,
           CAST(SUM(skey % 100000007) AS BIGINT) AS key_mod_sum
    FROM sh GROUP BY 1
    """,
    doc="The dataloader-facing WRITE: a deterministic seeded global "
    "shuffle (content-stable md5 order key — reshuffle = new seed, "
    "re-run = identical layout) cut into token-BALANCED training "
    "shards and written partitionBy(shard_id). The running token sum "
    "is the two-level distributed prefix sum (intra window over 4096 "
    "key-prefix buckets + one metadata-sized bucket-offsets window), "
    "never a single-partition corpus window. Certified by CONTENT "
    "like every sink row: the graded result re-reads the WRITTEN "
    "files and profiles each shard (doc count, token mass, an exact "
    "key checksum) against DuckDB's replay of the identical md5/DIV "
    "boundary arithmetic — so the shard assignment itself, not just "
    "the summary, is pinned cross-engine.",
)
def sink_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = training_shards_path(spark, sf_dir)
    sh = spark.read.parquet(f"{root}/shards")
    return (
        sh.groupBy(F.col("shard_id").cast("long").alias("shard_id"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tok").alias("sum_tokens"),
            F.sum(F.pmod(F.col("skey"), F.lit(100000007))).alias("key_mod_sum"),
        )
    )
