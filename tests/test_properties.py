"""Property-based tests (hypothesis) for the two surfaces whose
correctness is a GUARANTEE, not an example set:

* fuzzy ``date`` parsing — for random datetimes rendered by PYTHON's
  strftime (an independent renderer), the DSL must round-trip the
  exact instant for every supported layout;
* winnowing — any two docs sharing a normalized substring of length
  >= K+W-1 chars must share at least one fingerprint (the MOSS
  theorem the dedup_winnow_pairs operator relies on).

Each hypothesis example is one small Spark job, so example counts are
kept deliberately low — breadth comes from randomness across runs, the
per-layout sweep inside each example, and the example-set tests in
test_dsl.py.
"""

from __future__ import annotations

import datetime
import math
import re

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from tailsql_spark.dsl import compile_pattern
from tailsql_spark.operators.rowfilter import apply_filter

# (spark layout concern, python strftime renderer, truncation unit)
_RENDERERS: list[tuple[str, str]] = [
    ("%Y/%m/%d %H:%M:%S", "s"),
    ("%Y-%m-%dT%H:%M:%S", "s"),
    ("%Y-%m-%d %H:%M:%S.%f", "us"),
    ("%Y-%m-%d %H:%M:%S", "s"),
    ("%Y-%m-%d", "d"),
    ("%Y/%m/%d", "d"),
    ("%m/%d/%Y %H:%M:%S", "s"),
    ("%d %b %Y %H:%M:%S", "s"),
    ("%d/%b/%Y:%H:%M:%S +0000", "s"),  # Apache common-log
    ("%Y%m%d", "d"),
    ("%a %b %d %H:%M:%S %Y", "s"),  # ctime (weekday stripped by DSL)
    ("%a, %d %b %Y %H:%M:%S +0000", "s"),  # RFC 1123
    ("epoch_s", "s"),
    ("epoch_ms", "ms"),
]


def _truncate(dt: datetime.datetime, unit: str) -> datetime.datetime:
    if unit == "d":
        return dt.replace(hour=0, minute=0, second=0, microsecond=0)
    if unit == "s":
        return dt.replace(microsecond=0)
    if unit == "ms":
        return dt.replace(microsecond=(dt.microsecond // 1000) * 1000)
    return dt


def _render(dt: datetime.datetime, fmt: str) -> str:
    if fmt == "epoch_s":
        return str(int(dt.replace(tzinfo=datetime.timezone.utc).timestamp()))
    if fmt == "epoch_ms":
        ts = dt.replace(tzinfo=datetime.timezone.utc).timestamp()
        return str(int(ts) * 1000 + dt.microsecond // 1000)
    return dt.strftime(fmt)


@settings(
    max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(
    dt=st.datetimes(
        # 2002–2032 keeps epoch-seconds at 10 digits and epoch-millis at
        # 13 (the DSL's digit-count dispatch) while spanning leap years
        min_value=datetime.datetime(2002, 1, 1),
        max_value=datetime.datetime(2032, 12, 31, 23, 59, 59, 999999),
    )
)
def test_fuzzy_date_roundtrips_python_renderings(spark, dt):
    cp = compile_pattern(r"^(?P<ts__date>.+)$")
    rows = [( _render(dt, fmt),) for fmt, _ in _RENDERERS]
    parsed = cp.parse_lines(spark.createDataFrame(rows, ["value"])).collect()
    assert len(parsed) == len(_RENDERERS), "a rendered layout was dropped"
    got = [r.ts for r in parsed]
    want = [_truncate(dt, unit) for _, unit in _RENDERERS]
    for g, w, (fmt, _) in zip(got, want, _RENDERERS):
        assert g == w, f"layout {fmt!r}: parsed {g!r}, rendered from {w!r}"


# every field type; only regex syntax Java and Python read alike
_DIFF_RE = (
    r"^(?P<k__int>[^ ]*) (?P<tag__str>[a-z]*) (?P<x__float>[^ ]*) "
    r"(?P<ok__bool>[^ ]*) (?P<ts__date>[^ ]+ [^ ]+) (?P<n__int>[^ ]+)$"
)
_GO_BOOL = {"1": True, "t": True, "T": True, "TRUE": True, "true": True, "True": True,
            "0": False, "f": False, "F": False, "FALSE": False, "false": False, "False": False}
_GO_DECIMAL = r"[+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)([eE][+-]?[0-9]+)?"
_GO_HEX = r"[+-]?0[xX]([0-9a-fA-F]+(\.[0-9a-fA-F]*)?|\.[0-9a-fA-F]+)[pP][+-]?[0-9]+"


def _go_int(tok: str):
    """strconv.ParseInt(tok, 10, 64), None on error."""
    if not re.fullmatch(r"[+-]?[0-9]+", tok):
        return None
    v = int(tok)
    return v if -(2**63) <= v < 2**63 else None


def _go_float(tok: str):
    """strconv.ParseFloat(tok, 64), None on error (a range error too)."""
    if re.fullmatch(r"[+-]?inf(inity)?", tok.lower()):
        return float(tok)
    if tok.lower() == "nan":
        return math.nan
    try:
        if re.fullmatch(_GO_DECIMAL, tok):
            v = float(tok)
        elif re.fullmatch(_GO_HEX, tok):
            v = float.fromhex(tok)
        else:
            return None
    except OverflowError:
        return None
    return None if math.isinf(v) else v


def _go_date(tok: str):
    try:
        return datetime.datetime.strptime(tok, "%Y-%m-%d %H:%M:%S")
    except ValueError:
        return None


def _reference_rows(lines: list[str], k: int) -> list[tuple]:
    """The reference's parse then ``-F "n > k"``: one regex search per
    line, one strconv-style parse per field, and a line dropped whole
    when any field fails."""
    rx = re.compile(_DIFF_RE)
    rows = []
    for line in lines:
        m = rx.search(line) if line else None
        if m is None:
            continue
        row = (
            _go_int(m["k__int"]), m["tag__str"], _go_float(m["x__float"]),
            _GO_BOOL.get(m["ok__bool"]), _go_date(m["ts__date"]), _go_int(m["n__int"]),
        )
        if None not in row and row[5] > k:
            rows.append(row)
    return rows


def _canonical(rows) -> list[tuple]:
    return sorted(
        (tuple("nan" if isinstance(v, float) and math.isnan(v) else v for v in r) for r in rows),
        key=repr,
    )


_INT_TOKENS = st.one_of(
    st.integers(-(2**63), 2**63 - 1).map(str),
    st.integers(-9, 9).map(str),
    st.sampled_from([
        "9223372036854775808", "-9223372036854775809", "99999999999999999999",
        "+7", "-0", "007", "", "1.5", "1e3", "0x10", "seven", "+-1", "1_000",
    ]),
)
_FLOAT_TOKENS = st.one_of(
    st.floats(allow_nan=False, allow_infinity=False).map(repr),
    st.sampled_from([
        "1e999", "-1e999", "1e-999", "1.797693134862316e308", "inf", "-Infinity",
        "INF", "+iNfInItY", "infinit", "nan", "NaN", "+nan", "-NaN", ".5", "5.", "+.5e-3",
        ".", "1e", "e5", "1.2.3", "", "0x1p3", "-0x.8p1", "0X1P-2", "0x1p9999", "0x10",
        "0x1.8", "1.5d", "1_0", "true",
    ]),
)
_BOOL_TOKENS = st.sampled_from(sorted(_GO_BOOL) + ["yes", "no", "Y", "tRuE", "2", ""])
_DATE_TOKENS = st.one_of(
    st.datetimes(
        min_value=datetime.datetime(1971, 1, 1),
        max_value=datetime.datetime(2099, 12, 31, 23, 59, 59),
    ).map(lambda d: d.strftime("%Y-%m-%d %H:%M:%S")),
    st.sampled_from([
        "2024-13-01 00:00:00", "2024-02-30 10:00:00", "2024-04-12 25:00:00",
        "not a-date", "2024-04-12 x",
    ]),
)
_LINES = st.one_of(
    st.tuples(
        _INT_TOKENS, st.sampled_from(["", "ab", "xyz", "AB"]), _FLOAT_TOKENS,
        _BOOL_TOKENS, _DATE_TOKENS, _INT_TOKENS,
    ).map(" ".join),
    # no ':' in noise, so no noise token reads as a date-time
    st.text(alphabet=" abxyzT01234567.-+eE", max_size=24),
    st.just(""),
)


@settings(
    max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(lines=st.lists(_LINES, min_size=1, max_size=40), k=st.integers(-5, 5))
@example(
    lines=[
        f"1 ab {x} true 2024-04-12 22:47:42 {n}"
        for x, n in [
            ("1.5", "9223372036854775808"), ("1e999", "7"), ("+nan", "7"),
            ("INFINITY", "7"), ("0x1p3", "7"), ("nan", "-9223372036854775808"),
        ]
    ],
    k=0,
)
def test_parse_then_filter_matches_reference_rules(spark, lines, k):
    cp = compile_pattern(_DIFF_RE)
    df = spark.createDataFrame([(l,) for l in lines], ["value"])
    got = apply_filter(cp.parse_lines(df), f"n > {k}").collect()
    assert _canonical(tuple(r) for r in got) == _canonical(_reference_rows(lines, k))


@settings(
    max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(data=st.data())
def test_winnowing_shared_substring_guarantee(spark, data):
    """MOSS guarantee: sharing a normalized substring of K+W-1 chars
    forces >= 1 shared fingerprint, regardless of surrounding text."""
    from tailsql_spark.operators.textstats import (
        WINNOW_K,
        WINNOW_W,
        winnow_fingerprints,
    )

    alpha = "abcdefghijklmnopqrstuvwxyz0123456789"
    chars = st.sampled_from(alpha)
    min_shared = WINNOW_K + WINNOW_W - 1
    shared = data.draw(
        st.text(chars, min_size=min_shared, max_size=min_shared + 20)
    )
    pre_a = data.draw(st.text(chars, min_size=0, max_size=40))
    post_a = data.draw(st.text(chars, min_size=0, max_size=40))
    pre_b = data.draw(st.text(chars, min_size=0, max_size=40))
    post_b = data.draw(st.text(chars, min_size=0, max_size=40))
    docs = spark.createDataFrame(
        [(1, pre_a + shared + post_a), (2, pre_b + shared + post_b)],
        ["doc_id", "text"],
    )
    fp = winnow_fingerprints(docs)
    a = {r.fingerprint for r in fp.filter("doc_id = 1").collect()}
    b = {r.fingerprint for r in fp.filter("doc_id = 2").collect()}
    assert a & b, (
        f"no shared fingerprint despite {len(shared)}-char shared substring"
    )


@settings(
    max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=30,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    """Min-label propagation fixpoint == a pure-Python union-find on
    arbitrary random graphs (self-loops excluded; duplicates and
    reversed duplicates allowed — the operator must be insensitive)."""
    from tailsql_spark.operators.graphs import connected_components

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    expected = {n: find(n) for n in parent}

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    # max_iter=60: the strategy can generate an induced path up to ~30
    # edges long, whose propagation distance exceeds the production
    # diameter bound of 25 — a valid worst-case input here, not a bug
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components(df, max_iter=60).collect()
    }
    assert got == expected


@settings(
    max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(
    pairs=st.sets(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(
            lambda e: e[0] < e[1]
        ),
        min_size=1,
        max_size=25,
    )
)
def test_pagerank_fixed_matches_integer_reference(spark, pairs):
    """The distributed fixed-point PageRank trajectory == a pure-Python
    integer replay on arbitrary random undirected graphs — every floor
    division lands identically, and total mass stays bounded by SCALE."""
    from collections import Counter, defaultdict

    from tailsql_spark.operators.graphs import PR_ITERS, PR_SCALE, pagerank_fixed

    pair_list = sorted(pairs)
    edges = pair_list + [(b, a) for a, b in pair_list]
    deg = Counter(u for u, _ in edges)
    n = len(deg)
    r = {u: PR_SCALE // n for u in deg}
    for _ in range(PR_ITERS):
        s: dict[int, int] = defaultdict(int)
        for u, v in edges:
            s[v] += r[u] // deg[u]
        r = {v: (15 * PR_SCALE) // (100 * n) + (85 * s[v]) // 100 for v in deg}

    df = spark.createDataFrame(pair_list, "id_a long, id_b long")
    # key is required: namespace per example so no two graphs alias
    key = f"proptest_{abs(hash(tuple(pair_list))) % 10**9}"
    got = {row.doc_id: row.rank_fp for row in pagerank_fixed(df, key=key).collect()}
    assert got == r
    assert sum(got.values()) <= PR_SCALE  # floors only ever lose mass


@settings(
    max_examples=5, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(data=st.data())
def test_capped_ngram_jaccard_matches_python_reference(spark, data):
    """The df-capped n-gram Jaccard operator == a pure-Python replay
    (same shingling, same df cap, same threshold) on random corpora
    with planted duplicates.  Cap pinned to 2 so small corpora really
    exceed it (the production DF_CAP=64 would never trigger on <=9
    docs) — hot grams must vanish from BOTH the intersection and the
    denominators."""
    from tailsql_spark.operators.dedup import (
        ngram_jaccard_from_shingles,
        shingles_col,
    )

    CAP = 2

    words = st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"])
    n_docs = data.draw(st.integers(3, 8))
    docs = []
    for i in range(n_docs):
        toks = data.draw(st.lists(words, min_size=0, max_size=8))
        docs.append((i, " ".join(toks)))
    # plant one near-duplicate pair so the threshold branch is exercised
    if docs[0][1]:
        docs.append((n_docs, docs[0][1]))

    def shingle(text: str) -> set[str]:
        toks = [t for t in text.strip().lower().split() if t]
        return {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        } if len(toks) >= 3 else set()

    sets = {i: shingle(t) for i, t in docs}
    df_count: dict[str, int] = {}
    for s in sets.values():
        for g in s:
            df_count[g] = df_count.get(g, 0) + 1
    kept = {i: {g for g in s if df_count[g] <= CAP} for i, s in sets.items()}
    expected = {}
    ids = sorted(kept)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            inter = len(kept[a] & kept[b])
            union = len(kept[a]) + len(kept[b]) - inter
            if union and inter / union >= 0.5:
                expected[(a, b)] = round(inter / union, 4)

    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    from pyspark.sql import functions as SF

    sh = sdf.select("doc_id", shingles_col(SF.col("text")).alias("shingles"))
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_from_shingles(sh, cap=CAP).collect()
    }
    assert got == expected


@settings(
    max_examples=5, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(data=st.data())
def test_bpe_train_matches_python_reference(spark, data):
    """The iterated BPE training loop == a pure-Python greedy BPE (count
    desc / pair-lex-asc winner, left-to-right non-overlapping merge) on
    random word-frequency tables over a tiny alphabet.  The 2-char
    alphabet forces repeated-symbol runs and multi-step re-merges
    ("aaaa" → (a,a) then (aa,aa)) — exactly the shapes where the
    island-parity + pos-renumbering rules can silently diverge from
    greedy semantics (a gapped pos lets a phantom right-half survive;
    this test is what caught that).  Runs at n_steps = BPE_MERGES + 2,
    past the certified depth, so the loop generalizes beyond the
    oracle's unrolled 3 steps — via the CACHED path (released below):
    uncached, the per-step ~4-way fan-out compounds the logical plan
    ~4^n and the optimizer, not Spark, becomes the bottleneck."""
    from tailsql_spark.operators.textstats import BPE_MERGES, bpe_train_merges

    n_steps = BPE_MERGES + 2

    alphabet = st.sampled_from("ab")
    n_words = data.draw(st.integers(1, 5))
    words: dict[str, int] = {}
    for _ in range(n_words):
        w = "".join(data.draw(st.lists(alphabet, min_size=2, max_size=6)))
        words[w] = words.get(w, 0) + data.draw(st.integers(1, 9))

    syms = {w: list(w) for w in words}
    expected = []
    for step in range(1, n_steps + 1):
        counts: dict[tuple[str, str], int] = {}
        for w, s in syms.items():
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + words[w]
        if not counts:
            continue
        (left, right), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        expected.append((step, left, right, left + right, n))
        for w, s in syms.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == left and s[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out

    wdf = spark.createDataFrame(list(words.items()), "w string, cnt long")
    merges, final_syms, caches = bpe_train_merges(wdf, n_steps=n_steps)
    try:
        got = [
            (r.step, r.pair_left, r.pair_right, r.merged, r.n)
            for r in merges.collect()
        ]
        assert got == expected
    # the post-training segmentation (what tokenization applies) must
    # equal the python reference's final symbol lists, order included
        got_syms: dict[str, list[str]] = {}
        for r in final_syms.orderBy("w", "pos").collect():
            got_syms.setdefault(r.w, []).append(r.sym)
        assert got_syms == syms
    finally:
        for frame in caches:
            frame.unpersist()


def test_lloyd_deep_run_with_spool_matches_python(spark, sf_dir, tmp_path):
    """lloyd_loop PAST the certified depth (6 iterations, twice the
    oracle's unrolled 3) with per-iteration lineage truncation ==
    a pure-Python integer Lloyd replay on the real embeddings — the
    truncated loop must walk the identical trajectory (exact integer
    distances, (dist, cell) tie-break, floor'd means), proving the
    spool changes plan shape only, never the fixpoint path."""
    import duckdb

    # similarity first: mlprep imports it at module level, and
    # similarity's decoration-time oracle builders import mlprep back —
    # importing mlprep first trips the cycle (registry order avoids it)
    from tailsql_spark.operators.similarity import N_CELLS
    from tailsql_spark.operators.mlprep import lloyd_loop

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    e = {
        vid: [int(round(float(x) * 1_000_000)) for x in vec] for vid, vec in rows
    }
    cent = {c: list(e[c]) for c in range(N_CELLS)}
    n_iters = 6
    assigned: dict[int, tuple[int, int]] = {}
    for r in range(n_iters):
        assigned = {}
        for vid, v in e.items():
            best = min(
                (sum((a - b) ** 2 for a, b in zip(v, cent[c])), c) for c in cent
            )
            assigned[vid] = (best[1], best[0])
        if r < n_iters - 1:
            import math

            new_cent = {}
            for c in cent:
                members = [e[vid] for vid, (cc, _) in assigned.items() if cc == c]
                if members:
                    new_cent[c] = [
                        math.floor(sum(col) * 1.0 / len(members))
                        for col in zip(*members)
                    ]
                else:
                    new_cent[c] = cent[c]  # empty cell keeps its centroid
            cent = new_cent

    got_assigned, _cent = lloyd_loop(
        spark, sf_dir, n_iters=n_iters, spool=str(tmp_path / "lloyd_spool")
    )
    got = {r.vec_id: (r.cell, r.dist) for r in got_assigned.collect()}
    assert got == assigned


def test_pq_training_deep_run_with_spool_matches_python(spark, sf_dir, tmp_path):
    """pq_trained_distances past the certified depth (6 iterations)
    with codebook lineage truncation == a pure-Python per-subspace
    integer Lloyd replay — final code assignments identical for every
    (vector, subspace)."""
    import math

    import duckdb
    from pyspark.sql import functions as F

    from tailsql_spark.operators.similarity import (
        PQ_CODES,
        PQ_DSUB,
        PQ_M,
        pq_trained_distances,
    )

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    sub = {
        (vid, m): [int(round(float(x) * 1_000_000))
                   for x in vec[m * PQ_DSUB : (m + 1) * PQ_DSUB]]
        for vid, vec in rows
        for m in range(PQ_M)
    }
    cb = {(m, c): list(sub[(c, m)]) for m in range(PQ_M) for c in range(PQ_CODES)}
    n_iters = 6
    codes: dict[tuple[int, int], int] = {}
    for r in range(n_iters):
        codes = {}
        for (vid, m), sv in sub.items():
            best = min(
                (sum((a - b) ** 2 for a, b in zip(sv, cb[(m, c)])), c)
                for c in range(PQ_CODES)
            )
            codes[(vid, m)] = best[1]
        if r < n_iters - 1:
            new_cb = {}
            for m in range(PQ_M):
                for c in range(PQ_CODES):
                    members = [
                        sub[(vid, mm)]
                        for (vid, mm), cc in codes.items()
                        if mm == m and cc == c
                    ]
                    if members:
                        new_cb[(m, c)] = [
                            math.floor(sum(col) * 1.0 / len(members))
                            for col in zip(*members)
                        ]
                    else:
                        new_cb[(m, c)] = cb[(m, c)]
            cb = new_cb

    dist = pq_trained_distances(
        spark, sf_dir, n_iters=n_iters, spool=str(tmp_path / "pq_spool")
    )
    got = {
        (r.vec_id, r.m): r.code
        for r in dist.groupBy("vec_id", "m")
        .agg(F.min(F.struct("dist", "code")).alias("mc"))
        .select("vec_id", "m", F.col("mc.code").alias("code"))
        .collect()
    }
    assert got == codes


def test_logreg_spool_truncation_is_neutral(spark, sf_dir, tmp_path):
    """logreg_train_weights past the certified depth (5 GD steps) with
    per-step weight-row lineage truncation == the direct chain at the
    same depth — truncation changes plan shape only, never the
    fixed-point trajectory."""
    from tailsql_spark.operators.similarity import N_CELLS  # noqa: F401 - import order (cycle)
    from tailsql_spark.operators.mlprep import logreg_features, logreg_train_weights

    feat = logreg_features(spark, sf_dir)
    direct = logreg_train_weights(feat, n_iters=5).collect()
    spooled = logreg_train_weights(
        feat, n_iters=5, spool=str(tmp_path / "lr_spool")
    ).collect()
    assert [tuple(r) for r in direct] == [tuple(r) for r in spooled]
    assert any(v != 0 for v in direct[0])  # the trajectory actually moved


@settings(
    max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(data=st.data())
def test_bpe_batched_matches_python_reference(spark, data):
    """The BATCHED trainer == a pure-Python replica of its exact
    semantics (rank all pairs by count desc / pair asc; greedy-select
    the top-k SYMBOL-DISJOINT pairs; apply the whole batch in one
    left-to-right non-overlapping pass) on random word tables over a
    3-char alphabet — which makes genuinely disjoint pairs (e.g. (a,b)
    and (c,c)) reachable, so the interaction rule's skip path actually
    executes.  Runs at rounds = BPE_BATCH_ROUNDS + 1 and k = 3, past
    the certified depth and width."""
    from tailsql_spark.operators.textstats import (
        BPE_BATCH_ROUNDS,
        bpe_train_merges_batched,
    )

    n_rounds, k = BPE_BATCH_ROUNDS + 1, 3
    alphabet = st.sampled_from("abc")
    n_words = data.draw(st.integers(1, 5))
    words: dict[str, int] = {}
    for _ in range(n_words):
        w = "".join(data.draw(st.lists(alphabet, min_size=2, max_size=6)))
        words[w] = words.get(w, 0) + data.draw(st.integers(1, 9))

    syms = {w: list(w) for w in words}
    expected = []
    for rnd in range(1, n_rounds + 1):
        counts: dict[tuple[str, str], int] = {}
        for w, s in syms.items():
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + words[w]
        ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        sel: list = []
        used: set = set()
        for (left, right), n in ranked:
            if len(sel) == k:
                break
            if left in used or right in used:
                continue
            sel.append((left, right, n))
            used.update((left, right))
        if not sel:
            break
        for i, (left, right, n) in enumerate(sel, 1):
            expected.append((rnd, i, left, right, left + right, n))
        pairset = {(left, right) for left, right, _ in sel}
        for w, s in syms.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and (s[i], s[i + 1]) in pairset:
                    out.append(s[i] + s[i + 1])
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out

    wdf = spark.createDataFrame(list(words.items()), "w string, cnt long")
    merges, final_syms, caches = bpe_train_merges_batched(wdf, n_rounds=n_rounds, k=k)
    try:
        got = [
            (r.round, r.sel_rank, r.pair_left, r.pair_right, r.merged, r.n)
            for r in merges.collect()
        ]
        assert got == expected
        got_syms: dict[str, list[str]] = {}
        for r in final_syms.orderBy("w", "pos").collect():
            got_syms.setdefault(r.w, []).append(r.sym)
        assert got_syms == syms
    finally:
        for frame in caches:
            frame.unpersist()


def test_bpe_batched_k1_equals_sequential_trajectory(spark, oracle_sf_dir):
    """With k=1 the batched trainer degenerates to the certified
    1-at-a-time trajectory — the prefix-equality certification the r7
    verdict asked for: on the real corpus the two trainers must emit
    the identical merge table."""
    from tailsql_spark.operators.textstats import (
        BPE_MERGES,
        bpe_corpus_words,
        bpe_train_merges,
        bpe_train_merges_batched,
    )

    words = bpe_corpus_words(spark, oracle_sf_dir)
    seq, _f1, c1 = bpe_train_merges(words, n_steps=BPE_MERGES)
    bat, _f2, c2 = bpe_train_merges_batched(words, n_rounds=BPE_MERGES, k=1)
    try:
        s = [(r.step, r.pair_left, r.pair_right, r.merged, r.n) for r in seq.collect()]
        b = [
            (r.round, r.pair_left, r.pair_right, r.merged, r.n)
            for r in bat.collect()
        ]
        assert b == s
        assert all(r.sel_rank == 1 for r in bat.collect())
    finally:
        for frame in (*c1, *c2):
            frame.unpersist()


def test_bpe_batched_deep_run_constant_plan(spark):
    """Production-depth probe for the batched trainer: 12 rounds × k=4
    over a synthetic vocabulary — 3× the certified depth — against the
    pure-Python replica.  With per-round lineage truncation the
    Catalyst plan is constant-size per round, so depth costs launches,
    not analysis (the r7 lesson that per-step spooling exists for);
    this test is the regression gate for that property at batched
    width."""
    from tailsql_spark.operators.textstats import bpe_train_merges_batched

    words = {
        "abcabcabc": 7,
        "dedededede": 5,
        "fgfgfgfg": 4,
        "abcfgde": 3,
        "aabbccddee": 2,
        "fghfghfgh": 6,
    }
    n_rounds, k = 12, 4

    syms = {w: list(w) for w in words}
    expected = []
    for rnd in range(1, n_rounds + 1):
        counts: dict[tuple[str, str], int] = {}
        for w, s in syms.items():
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + words[w]
        ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        sel: list = []
        used: set = set()
        for (left, right), n in ranked:
            if len(sel) == k:
                break
            if left in used or right in used:
                continue
            sel.append((left, right, n))
            used.update((left, right))
        if not sel:
            break
        for i, (left, right, n) in enumerate(sel, 1):
            expected.append((rnd, i, left, right, left + right, n))
        pairset = {(left, right) for left, right, _ in sel}
        for w, s in syms.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and (s[i], s[i + 1]) in pairset:
                    out.append(s[i] + s[i + 1])
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out

    wdf = spark.createDataFrame(list(words.items()), "w string, cnt long")
    merges, _final, caches = bpe_train_merges_batched(wdf, n_rounds=n_rounds, k=k)
    try:
        got = [
            (r.round, r.sel_rank, r.pair_left, r.pair_right, r.merged, r.n)
            for r in merges.collect()
        ]
        assert got == expected
        assert max(r for r, *_ in got) >= 4, "deep run must exceed certified depth"
    finally:
        for frame in caches:
            frame.unpersist()


# ---------------------------------------------------------------------------
# URL canonicalization: idempotence + noise-invariance
# ---------------------------------------------------------------------------

_HOSTS = st.sampled_from(["example.com", "EXAMPLE.com", "Sub.Example.COM"])
_PORTS = st.sampled_from(["", ":443", ":80"])
_PATHS = st.sampled_from(["", "/a", "/a/b", "/a/"])
_QS = st.sampled_from(
    ["", "?x=1", "?utm_source=f", "?x=1&utm_medium=z", "?utm_campaign=c&y=2"]
)
_FRAGS = st.sampled_from(["", "#top", "#a/b"])


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    data=st.lists(
        st.tuples(_HOSTS, _PORTS, _PATHS, _QS, _FRAGS), min_size=1, max_size=8
    )
)
def test_url_canonicalization_idempotent_and_noise_invariant(spark, data):
    """For any composition of the noise dimensions: (a) canonicalizing
    twice equals canonicalizing once (idempotence — the property that
    lets pipelines re-run the pass safely), and (b) the canonical form
    never contains a fragment, a default port, an utm_ param, or an
    uppercase scheme/host."""
    from pyspark.sql import functions as F

    from tailsql_spark.operators.dedup import canonical_url_sql

    urls = [
        (f"https://{h}{p}{path}{qs}{frag}",) for h, p, path, qs, frag in data
    ]
    df = spark.createDataFrame(urls, ["url"]).selectExpr(
        "url",
        f"{canonical_url_sql('url', 'spark')} AS c1",
    )
    df = df.selectExpr("url", "c1", f"{canonical_url_sql('c1', 'spark')} AS c2")
    for r in df.collect():
        assert r["c1"] == r["c2"], (r["url"], r["c1"], r["c2"])
        host = r["c1"].split("://", 1)[1].split("/", 1)[0].split("?", 1)[0]
        assert "#" not in r["c1"]
        assert not host.endswith(":443") and not host.endswith(":80")
        assert "utm_" not in r["c1"]
        assert r["c1"].split("://", 1)[0] == "https"
        assert host == host.lower()


# ---------------------------------------------------------------------------
# PPS systematic sampling: exact-n and proportionality invariants
# ---------------------------------------------------------------------------

@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    weights=st.lists(st.integers(min_value=1, max_value=10_000), min_size=1, max_size=200)
)
def test_pps_invariants_hold_for_random_weights(spark, weights):
    """For ANY positive integer weight vector: total picks == n exactly;
    every item gets at most ceil(w*n/T)+1 picks and at least
    floor(w*n/T) (proportionality); items with w*n >= T are always
    picked."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as PW

    from tailsql_spark.operators.corpus import PPS_N

    rows = [(i, w) for i, w in enumerate(weights)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    total = sum(weights)
    c = df.withColumn("wi", F.sum("w").over(PW.orderBy("doc_id")))
    picks = F.expr(f"(wi * {PPS_N}) DIV {total}") - F.expr(
        f"((wi - w) * {PPS_N}) DIV {total}"
    )
    got = {
        r["doc_id"]: r["n"]
        for r in c.select("doc_id", "w", picks.alias("n")).collect()
    }
    assert sum(got.values()) == PPS_N
    for i, w in enumerate(weights):
        lo = (w * PPS_N) // total
        hi = -((-w * PPS_N) // total) + 1  # ceil + 1
        assert lo <= got[i] <= hi, (i, w, got[i], lo, hi)
        if w * PPS_N >= total:
            assert got[i] >= 1


@settings(
    max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(data=st.data())
def test_unigram_lm_matches_python_reference(spark, data):
    """The distributed unigram-LM trainer (seed substring counts →
    rank-derived integer costs → broadcast-model Viterbi E-step →
    vocab-keyed M-step) == an independent pure-Python replica on random
    word tables over a 3-char alphabet, run at UNI_ROUNDS + 1 — one
    round PAST the certified depth."""
    from tailsql_spark.operators.textstats import (
        UNI_PIECE_MAX,
        UNI_ROUNDS,
        UNI_SEED_CAP,
        unigram_lm_train,
        unigram_viterbi,
    )

    n_rounds = UNI_ROUNDS + 1
    alphabet = st.sampled_from("abc")
    n_words = data.draw(st.integers(1, 5))
    words: dict[str, int] = {}
    for _ in range(n_words):
        w = "".join(data.draw(st.lists(alphabet, min_size=1, max_size=7)))
        words[w] = words.get(w, 0) + data.draw(st.integers(1, 9))

    # pure-Python replica (reuses only the single-word DP, which the
    # DuckDB oracle certifies independently)
    seed: dict[str, int] = {}
    for w, c in words.items():
        for i in range(len(w)):
            for length in range(1, min(UNI_PIECE_MAX, len(w) - i) + 1):
                p = w[i : i + length]
                seed[p] = seed.get(p, 0) + c
    expected = {(0, p, c) for p, c in seed.items()}
    cur = seed
    for rnd in range(1, n_rounds + 1):
        ranked = sorted(cur.items(), key=lambda kv: (-kv[1], kv[0]))
        # the r10 seed prune: rank <= cap OR single-char (cost keeps the
        # uncapped rank) — the tiny fuzz vocab rarely crosses the cap;
        # the dedicated cap-bite test forces it
        costs = {
            p: rk.bit_length()
            for rk, (p, _) in enumerate(ranked, 1)
            if rk <= UNI_SEED_CAP or len(p) == 1
        }
        m: dict[str, int] = {}
        for w, c in words.items():
            for p in unigram_viterbi(w, costs):
                m[p] = m.get(p, 0) + c
        expected |= {(rnd, p, c) for p, c in m.items()}
        cur = m

    wdf = spark.createDataFrame(list(words.items()), "w string, cnt long")
    got = {
        (r["round"], r.piece, r.cnt)
        for r in unigram_lm_train(wdf, n_rounds=n_rounds).collect()
    }
    assert got == expected


def test_unigram_seed_cap_prunes_and_single_chars_survive(spark, monkeypatch):
    """The seed prune pinned at a forced-small cap: pieces ranked past
    the cap vanish from the model, single-char pieces survive
    unconditionally (segmentability), and surviving costs keep the
    UNCAPPED global rank — exactly the replica's rule."""
    import tailsql_spark.operators.textstats as TS

    monkeypatch.setattr(TS, "UNI_SEED_CAP", 4)
    # seed ranking: b(45) bb(36) bbb(27) bbbb(18) | bbbbb(9) pruned,
    # z(1) rank 6 survives ONLY via the single-char rule
    words = {"bbbbb": 9, "z": 1}
    seed: dict[str, int] = {}
    for w, c in words.items():
        for i in range(len(w)):
            for ln in range(1, min(TS.UNI_PIECE_MAX, len(w) - i) + 1):
                p = w[i : i + ln]
                seed[p] = seed.get(p, 0) + c
    ranked = sorted(seed.items(), key=lambda kv: (-kv[1], kv[0]))
    expected = {
        p: rk.bit_length()
        for rk, (p, _) in enumerate(ranked, 1)
        if rk <= 4 or len(p) == 1
    }
    assert len(expected) < len(seed)  # the cap genuinely pruned
    assert any(len(p) == 1 and rk > 4 for rk, (p, _) in enumerate(ranked, 1))

    wdf = spark.createDataFrame(list(words.items()), "w string, cnt long")
    got = TS.unigram_piece_costs(TS.unigram_seed_pieces(wdf))
    assert got == expected


def test_unigram_viterbi_tie_breaks():
    """Deterministic tie handling: equal-cost segmentations resolve by
    fewer pieces, then lexicographic path — the oracle's exact rule."""
    from tailsql_spark.operators.textstats import unigram_viterbi

    # "ab" as one piece (cost 2) vs "a"+"b" (1+1): equal cost, fewer
    # pieces wins
    assert unigram_viterbi("ab", {"ab": 2, "a": 1, "b": 1}) == ["ab"]
    # "ab"+"c" vs "a"+"bc": equal cost, equal np → lexicographic path:
    # "a\x1fbc" < "ab\x1fc" since '\x1f' < 'b'
    assert unigram_viterbi("abc", {"ab": 1, "c": 1, "a": 1, "bc": 1, "b": 5}) == [
        "a",
        "bc",
    ]
    # unreachable pieces force the single-char fallback
    assert unigram_viterbi("xy", {"x": 3, "y": 9}) == ["x", "y"]


def test_bm25_matches_python_reference(spark):
    """BM25 semantics against a pure-Python reference on a planted
    corpus: same tokenization, same k1/b, same micro-unit quantization
    — certifies ranking and scores, not just cross-engine equality."""
    import math

    from pyspark.sql import functions as F

    from tailsql_spark.operators.textstats import (
        BM25_B,
        BM25_K1,
        BM25_QUERIES,
        BM25_TOPK,
        text_bm25_topk,
    )

    corpus = {
        1: "hash join hash join hash",
        2: "window agg window",
        3: "fast scan filter scan",
        4: "stream batch merge stream batch",
        5: "customer order query order",
        6: "vector column data vector",
        7: "hash window fast stream customer vector",
        8: "the quick brown fox",
    }

    # python reference
    toks = {d: t.split(" ") for d, t in corpus.items()}
    N = len(corpus)
    avgdl = sum(len(v) for v in toks.values()) / N
    want = {}
    for qid, q in BM25_QUERIES:
        scores = {}
        for d, ws in toks.items():
            su, nt = 0, 0
            for term in q.split(" "):
                tfv = ws.count(term)
                if not tfv:
                    continue
                df = sum(1 for w2 in toks.values() if term in w2)
                idf = math.log(1.0 + (N - df + 0.5) / (df + 0.5))
                w = idf * (tfv * 2.2) / (
                    tfv + BM25_K1 * (1.0 - BM25_B + BM25_B * len(ws) / avgdl)
                )
                su += int(round(w * 1_000_000.0))
                nt += 1
            if nt:
                scores[d] = (su, nt)
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1][0], kv[0]))
        for rnk, (d, (su, nt)) in enumerate(ranked[:BM25_TOPK], 1):
            want[(qid, d)] = (su / 1_000_000.0, nt, rnk)

    # spark over the same corpus, via a monkeypatched documents view
    import tailsql_spark.operators.textstats as TS

    docs = spark.createDataFrame(
        [(d, t) for d, t in corpus.items()], "doc_id long, text string"
    )
    orig = TS.load_tables
    TS.load_tables = lambda s, sf: {"documents": docs}
    try:
        got = {
            (r.qid, r.doc_id): (r.score, r.n_terms, r.rnk)
            for r in text_bm25_topk(spark, "unused").collect()
        }
    finally:
        TS.load_tables = orig
    assert got == want


@settings(max_examples=40, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.text(
        alphabet=st.sampled_from("ab cd\tef\ngh'ij-kl.mn0 12\x0b"),
        min_size=0,
        max_size=200,
    )
)
def test_audio_cdc_python_matches_duckdb_replay(text):
    """Fuzzed Python ↔ SQL chunking equality: for arbitrary ASCII text
    (spaces, tabs, newlines, quotes, punctuation), the Python CDC
    fingerprint and the oracle's prefix-sum SQL replay must emit the
    identical frame sequence — the property the audio oracle's
    certification rests on."""
    import duckdb

    from tailsql_spark.operators.multimodal import (
        audio_fingerprint_frames,
        audio_tokens,
    )

    got = audio_fingerprint_frames(audio_tokens(text.encode("utf-8")))
    want = [
        r[0]
        for r in duckdb.sql(
            """
            WITH audio AS (
                SELECT list_filter(regexp_split_to_array($t, '\\s+'),
                                   x -> x <> '') AS ws
            ),
            words AS (SELECT k AS pos, ws[k + 1] AS word
                      FROM audio, LATERAL unnest(range(0, len(ws))) AS t(k)),
            flagged AS (SELECT pos, word,
                               CASE WHEN substr(md5(word), 1, 1)
                                    IN ('0','1','2','3') THEN 1 ELSE 0 END AS bdy
                        FROM words),
            chunks AS (SELECT pos, word,
                              COALESCE(SUM(bdy) OVER (ORDER BY pos
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING), 0) AS cid
                       FROM flagged)
            SELECT substr(md5(string_agg(word, ' ' ORDER BY pos)), 1, 15) AS fh
            FROM chunks GROUP BY cid ORDER BY cid
            """.replace("$t", "'" + text.replace("'", "''") + "'")
        ).fetchall()
    ]
    assert got == want, text


@settings(
    max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(data=st.data())
def test_flat_state_machine_serve_equals_model(spark, data, tmp_path_factory):
    """The {version, folded_below_bid} flat-state machine, fuzzed: for
    ANY interleaving of per-batch inserts, tombstone appends, batch
    replays, physical purges, tombstone-log compactions, and TORN
    purges (base written, meta never committed), the live serve — flat
    paths anti-joined against the accumulated delete set — must equal
    a trivial Python model: the concatenation of every committed
    batch's rows minus every id ever deleted.  This generalizes the
    hand-written crash-window/idempotence examples into the guarantee
    the takedown rows rest on: 'D' beats any later 'I', replay never
    double-counts, a purge never changes the served multiset, a torn
    purge is invisible, and compaction never drops a tombstone."""
    import shutil

    from pyspark.sql import functions as F

    from tailsql_spark.plans.streaming_exec import (
        _bdir,
        _compact_del_log,
        _del_meta_read,
        _flat_state_paths,
        expire_del_versions,
        purge_flat_family,
    )

    base = tmp_path_factory.mktemp("flatprop")
    fam, dlog = str(base / "fam"), str(base / "del")
    spark.createDataFrame([], "doc_id long").write.parquet(f"{fam}/seed")
    spark.createDataFrame([], "doc_id long").write.parquet(f"{dlog}/seed")

    BOGUS = 999_999  # rows only a TORN (uncommitted) purge base holds
    batches: dict[int, list[int]] = {}  # committed content per bid
    deleted: set[int] = set()
    next_bid = 0

    def write_batch(root: str, bid: int, ids: list[int]) -> None:
        spark.createDataFrame([(i,) for i in ids], "doc_id long").write.mode(
            "overwrite"
        ).parquet(f"{root}/{_bdir(bid)}")

    n_ops = data.draw(st.integers(3, 9))
    did_purge = False
    for _ in range(n_ops):
        op = data.draw(
            st.sampled_from(
                ["ins", "ins", "del", "purge", "replay", "crash", "compact"]
            )
        )
        if op == "ins":
            ids = data.draw(st.lists(st.integers(0, 30), min_size=1, max_size=5))
            write_batch(fam, next_bid, ids)
            batches[next_bid] = ids
            next_bid += 1
        elif op == "del":
            ids = data.draw(st.lists(st.integers(0, 30), min_size=1, max_size=3))
            write_batch(dlog, next_bid, ids)
            deleted.update(ids)
            next_bid += 1
        elif op == "purge":
            dels_df = (
                spark.read.parquet(*_flat_state_paths(dlog))
                .select("doc_id")
                .distinct()
            )
            purge_flat_family(spark, fam, dels_df)
            expire_del_versions(fam)
            did_purge = True
        elif op == "replay":
            # a crashed-then-replayed batch rewrites its OWN dir with
            # identical content — legal only at or above the folded
            # horizon (folds run offline with the stream drained)
            horizon = int(_del_meta_read(fam)["folded_below_bid"])
            live = [b for b in batches if b >= horizon]
            if live:
                b = data.draw(st.sampled_from(sorted(live)))
                write_batch(fam, b, batches[b])
        elif op == "crash":
            # torn purge: base written, meta NEVER committed — must be
            # invisible to every subsequent serve and later overwritten
            ver = int(_del_meta_read(fam)["version"])
            spark.createDataFrame([(BOGUS,)], "doc_id long").write.mode(
                "overwrite"
            ).parquet(f"{fam}/base_v{ver + 1}")
        elif op == "compact":
            _compact_del_log(spark, dlog, "doc_id", None)
            expire_del_versions(dlog)

    live = spark.read.parquet(*_flat_state_paths(fam))
    dels = (
        spark.read.parquet(*_flat_state_paths(dlog)).select("doc_id").distinct()
    )
    served = sorted(
        r.doc_id
        for r in live.join(F.broadcast(dels), "doc_id", "left_anti").collect()
    )
    want = sorted(
        i for ids in batches.values() for i in ids if i not in deleted
    )
    assert served == want, (served, want, deleted, did_purge)
    assert BOGUS not in served
    # compaction/purge never drops a tombstone: the accumulated id SET
    # stays complete, so a 'D' keeps beating any later-arriving 'I'
    kept = {r.doc_id for r in dels.collect()}
    assert kept == deleted, (kept, deleted)

    shutil.rmtree(str(base), ignore_errors=True)


def test_flat_purge_twice_keeps_folded_horizon(spark, tmp_path):
    """The shrunk counterexample of the state machine above, pinned: a
    second purge after the vacuum reclaimed the folded dirs must keep
    ``folded_below_bid``, or a replay of the folded batch is served
    beside the base that already holds its rows (the same rule for a
    twice-compacted tombstone log)."""
    from tailsql_spark.plans.streaming_exec import (
        _bdir,
        _compact_del_log,
        _del_meta_read,
        _flat_state_paths,
        expire_del_versions,
        purge_flat_family,
    )

    fam, dlog = str(tmp_path / "fam"), str(tmp_path / "del")
    for root in (fam, dlog):
        spark.createDataFrame([], "doc_id long").write.parquet(f"{root}/seed")
        spark.createDataFrame([(0,)], "doc_id long").write.parquet(
            f"{root}/{_bdir(0)}"
        )
    dels = spark.createDataFrame([], "doc_id long")
    for _ in range(2):
        purge_flat_family(spark, fam, dels)
        expire_del_versions(fam)
        _compact_del_log(spark, dlog, "doc_id", None)
        expire_del_versions(dlog)
    assert _del_meta_read(fam)["folded_below_bid"] == 1
    assert _del_meta_read(dlog)["folded_below_bid"] == 1
    # replay of the folded batch 0: its dir is below the horizon, unread
    spark.createDataFrame([(0,)], "doc_id long").write.mode("overwrite").parquet(
        f"{fam}/{_bdir(0)}"
    )
    served = [r.doc_id for r in spark.read.parquet(*_flat_state_paths(fam)).collect()]
    assert served == [0]


@settings(
    max_examples=5, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(data=st.data())
def test_bucketed_manifest_state_machine_serve_equals_model(
    spark, data, tmp_path_factory
):
    """The bucketed {manifest version, dial fold} state machine — the
    layout both serving indexes and the curation band/posting families
    live on — fuzzed: for ANY interleaving of committed batch appends
    (data-then-manifest), TORN appends (data written, manifest never
    committed), replays of live bids, tombstone appends, forced
    del-aware folds, TORN folds (next base written, meta pointer never
    swapped), and vacuums, two properties must hold:

    * the manifest-resolved serve anti-joined against the delete set
      equals the Python model (committed batches minus deleted ids) —
      torn writes invisible, replays never double-count, folds
      content-preserving;
    * the bucket PRUNE is lossless: probing any single key through
      ``_bucket_manifest_paths`` returns every live row of that key,
      across mixed base/delta bucket-count tiers."""
    import shutil

    from pyspark.sql import functions as F

    from tailsql_spark.plans.streaming_exec import (
        N_STATE_BUCKETS,
        _bdir,
        _bucket_manifest_paths,
        _bucket_manifest_seed,
        _bucket_manifest_write,
        _flat_state_paths,
        _rebucket_family,
        _state_meta_read,
        expire_del_versions,
        expire_state_versions,
    )

    base = tmp_path_factory.mktemp("bucketprop")
    fam, dlog = str(base / "fam"), str(base / "del")
    empty = spark.createDataFrame([], "doc_id long, kb long")
    empty.write.parquet(f"{fam}/seed")
    _bucket_manifest_seed(empty, fam)
    spark.createDataFrame([], "doc_id long").write.parquet(f"{dlog}/seed")

    BOGUS = 999_999
    committed: dict[int, list[int]] = {}
    since_fold: set[int] = set()
    deleted: set[int] = set()
    next_bid = 0

    def write_data(bid: int, ids: list[int]):
        df = spark.createDataFrame([(i,) for i in ids], "doc_id long").withColumn(
            "kb", F.pmod(F.col("doc_id"), F.lit(N_STATE_BUCKETS))
        )
        df.repartition(4, "kb").write.mode("overwrite").partitionBy("kb").parquet(
            f"{fam}/{_bdir(bid)}"
        )
        return df

    n_ops = data.draw(st.integers(3, 8))
    for _ in range(n_ops):
        op = data.draw(
            st.sampled_from(
                ["ins", "ins", "del", "fold", "replay", "torn_ins", "torn_fold"]
            )
        )
        if op == "ins":
            ids = data.draw(st.lists(st.integers(0, 30), min_size=1, max_size=5))
            df = write_data(next_bid, ids)
            _bucket_manifest_write(
                df, fam, "kb", next_bid,
                version=int(_state_meta_read(fam)["version"]),
            )
            committed[next_bid] = ids
            since_fold.add(next_bid)
            next_bid += 1
        elif op == "torn_ins":
            # crash between data write and manifest commit: the batch
            # must stay invisible forever (readers trust the manifest)
            write_data(next_bid, [BOGUS])
            next_bid += 1
        elif op == "del":
            ids = data.draw(st.lists(st.integers(0, 30), min_size=1, max_size=3))
            spark.createDataFrame([(i,) for i in ids], "doc_id long").write.mode(
                "overwrite"
            ).parquet(f"{dlog}/{_bdir(next_bid)}")
            deleted.update(ids)
            next_bid += 1
        elif op == "fold":
            _rebucket_family(
                spark, fam, "kb", F.col("doc_id"), exclude_bid=10**9,
                meta=_state_meta_read(fam), del_root=dlog, force=True,
            )
            expire_state_versions(spark, fam)
            expire_del_versions(dlog)
            since_fold.clear()  # folded bids may never replay (offline rule)
        elif op == "replay":
            live = sorted(since_fold)
            if live:
                b = data.draw(st.sampled_from(live))
                df = write_data(b, committed[b])
                _bucket_manifest_write(
                    df, fam, "kb", b,
                    version=int(_state_meta_read(fam)["version"]),
                )
        elif op == "torn_fold":
            # crash after the next base's data write, before the meta
            # pointer swap: the new base must stay invisible
            ver = int(_state_meta_read(fam)["version"])
            spark.createDataFrame([(BOGUS,)], "doc_id long").withColumn(
                "kb", F.lit(0)
            ).write.mode("overwrite").partitionBy("kb").parquet(
                f"{fam}/base_v{ver + 1}"
            )

    meta = _state_meta_read(fam)
    dels = (
        spark.read.parquet(*_flat_state_paths(dlog)).select("doc_id").distinct()
    )
    all_keys = spark.createDataFrame([(k,) for k in range(31)], "k long")
    paths = _bucket_manifest_paths(
        spark, fam, all_keys, None, version=int(meta["version"])
    )
    live = spark.read.parquet(*paths).select("doc_id")
    served = sorted(
        r.doc_id
        for r in live.join(F.broadcast(dels), "doc_id", "left_anti").collect()
    )
    want = sorted(
        i for ids in committed.values() for i in ids if i not in deleted
    )
    assert served == want, (served, want, deleted)
    assert BOGUS not in served

    # lossless prune: probing one key reads every live row of that key
    if want:
        probe_id = data.draw(st.sampled_from(sorted(set(want))))
        ppaths = _bucket_manifest_paths(
            spark, fam,
            spark.createDataFrame([(probe_id,)], "k long"),
            None, version=int(meta["version"]),
        )
        got = (
            spark.read.parquet(*ppaths)
            .filter(F.col("doc_id") == probe_id)
            .join(F.broadcast(dels), "doc_id", "left_anti")
            .count()
        )
        assert got == want.count(probe_id), (probe_id, got)
        assert set(ppaths) <= set(paths)

    shutil.rmtree(str(base), ignore_errors=True)
