"""DSL compiler + parse drop-semantics tests (FIXTURES.md F1/F2)."""

from __future__ import annotations

import datetime
import re

import pytest

from pyspark.sql import types as T

from tailsql_spark.dsl import DATE_LAYOUTS, DAYLESS_LAYOUTS, compile_pattern
from tailsql_spark.operators.rowfilter import apply_filter

README_RE = r".+ (?P<method__str>GETM) (?P<status__str>SUCC) .+7710 (?P<time__int>[0-9]+) .+"

ALL_TYPES_RE = (
    r"(?P<ts__date>\S+ \S+|\S+) (?P<svc__str>svc-\S+) (?P<ok__bool>\S+) "
    r"(?P<n__int>\S+) (?P<x__float>\S+) (?P<msg__str>.+)"
)


def test_compile_readme_pattern():
    cp = compile_pattern(README_RE)
    assert [f.name for f in cp.fields] == ["method", "status", "time"]
    assert [f.tail_type for f in cp.fields] == ["str", "str", "int"]
    assert [f.group_index for f in cp.fields] == [1, 2, 3]
    assert "?P<" not in cp.java_pattern
    assert cp.schema == T.StructType(
        [
            T.StructField("method", T.StringType(), False),
            T.StructField("status", T.StringType(), False),
            T.StructField("time", T.LongType(), False),
        ]
    )


def test_unknown_type_suffix_defaults_to_str():
    cp = compile_pattern(r"(?P<a__blob>\S+) (?P<b>\S+)")
    assert [(f.name, f.tail_type) for f in cp.fields] == [
        ("a__blob", "str"),
        ("b", "str"),
    ]


def test_no_groups_raises():
    with pytest.raises(ValueError):
        compile_pattern(r"\d+ \S+")


def test_parse_readme_lines(spark):
    """README demo: non-matching lines (SETM/FAIL/wrong port) dropped."""
    lines = [
        "2024/04/12 22:47:42.506277 GETM SUCC localhost:7710 605 X",
        "2024/04/12 22:47:43.012345 GETM SUCC localhost:7710 12500 X",
        "2024/04/12 22:47:43.523456 SETM FAIL localhost:7711 98 X",
        "",
    ]
    df = spark.createDataFrame([(l,) for l in lines], ["value"])
    out = compile_pattern(README_RE).parse_lines(df).orderBy("time").collect()
    assert [(r.method, r.status, r.time) for r in out] == [
        ("GETM", "SUCC", 605),
        ("GETM", "SUCC", 12500),
    ]


def test_parse_all_types_and_drop_semantics(spark):
    good = "2024-04-12T22:47:42Z svc-a true 42 3.14 hello world"
    bad_bool = "2024-04-12T22:47:42Z svc-a yes 42 3.14 x"  # Go ParseBool rejects 'yes'
    bad_int = "2024-04-12T22:47:42Z svc-a true 4.2 3.14 x"
    bad_float = "2024-04-12T22:47:42Z svc-a true 42 1.2.3 x"
    bad_date = "notadate svc-a true 42 3.14 x"
    df = spark.createDataFrame(
        [(l,) for l in [good, bad_bool, bad_int, bad_float, bad_date]], ["value"]
    )
    rows = compile_pattern(ALL_TYPES_RE).parse_lines(df).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.svc == "svc-a" and r.ok is True and r.n == 42 and abs(r.x - 3.14) < 1e-12
    assert r.msg == "hello world"
    assert r.ts == datetime.datetime(2024, 4, 12, 22, 47, 42)


@pytest.mark.parametrize(
    "raw",
    [
        "2024/04/12 22:47:42.506277",
        "2024-04-12T22:47:42.506277",
        "2024-04-12 22:47:42",
        "2024-04-12",
        "04/12/2024 22:47:42",
    ],
)
def test_fuzzy_date_layouts(spark, raw):
    cp = compile_pattern(r"^(?P<ts__date>.+)$")
    df = spark.createDataFrame([(raw,)], ["value"])
    rows = cp.parse_lines(df).collect()
    assert len(rows) == 1, f"layout not accepted: {raw}"
    assert rows[0].ts.year == 2024 and rows[0].ts.month == 4 and rows[0].ts.day == 12


def test_bool_accepts_go_parsebool_set_only(spark):
    cp = compile_pattern(r"^(?P<b__bool>\S+)$")
    df = spark.createDataFrame(
        [(v,) for v in ["1", "t", "TRUE", "True", "0", "f", "FALSE", "yes", "no", "Y"]],
        ["value"],
    )
    vals = {r.b for r in cp.parse_lines(df).collect()}
    got = cp.parse_lines(df).count()
    assert got == 7  # yes/no/Y dropped
    assert vals == {True, False}


@pytest.mark.parametrize(
    "raw, y, mo, d",
    [
        # epoch seconds / millis (dateparse accepts unix timestamps)
        ("1712962062", 2024, 4, 12),
        ("1712962062506", 2024, 4, 12),
        # ctime / Go ANSIC, incl. the double-space day alignment
        ("Fri Apr 12 22:47:42 2024", 2024, 4, 12),
        ("Tue Apr  2 05:04:05 2024", 2024, 4, 2),
        # RFC 1123 with numeric zone
        ("Fri, 12 Apr 2024 22:47:42 +0000", 2024, 4, 12),
        # Apache common-log
        ("12/Apr/2024:22:47:42 +0000", 2024, 4, 12),
        # bare yyyymmdd
        ("20240412", 2024, 4, 12),
    ],
)
def test_fuzzy_date_layouts_round2(spark, raw, y, mo, d):
    """Round-2 widening toward dateparse.ParseAny
    (/root/reference/sql/lparser.go:134): epoch strings, ctime,
    RFC-1123, CLF."""
    cp = compile_pattern(r"^(?P<ts__date>.+)$")
    df = spark.createDataFrame([(raw,)], ["value"])
    rows = cp.parse_lines(df).collect()
    assert len(rows) == 1, f"layout not accepted: {raw}"
    assert (rows[0].ts.year, rows[0].ts.month, rows[0].ts.day) == (y, mo, d)


def test_fuzzy_date_documented_divergences(spark):
    """Layouts dateparse.ParseAny accepts that we deliberately DROP
    (documented divergence): named-timezone forms (Spark cannot parse
    'MST'), and year-less syslog stamps (dateparse guesses the current
    year — non-deterministic, so we refuse rather than guess)."""
    cp = compile_pattern(r"^(?P<ts__date>.+)$")
    dropped = [
        "Mon Jan  2 15:04:05 MST 2006",   # Go UnixDate: named zone
        "Mon, 02 Jan 2006 15:04:05 MST",  # RFC1123: named zone
        "Apr 12 22:47:42",                # syslog, no year
    ]
    df = spark.createDataFrame([(v,) for v in dropped], ["value"])
    assert cp.parse_lines(df).count() == 0


FIVE_FIELD_RE = (
    r".+ (?P<method__str>[A-Z]{4}) (?P<status__str>SUCC) [^ ]+:7710 "
    r"(?P<time__int>[0-9]+) (?P<seq__int>[0-9]+) (?P<created__int>[0-9]+)"
)


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_parse_evaluates_each_capture_once(spark):
    """A -F filter on a typed column reads the parsed columns: the
    optimized plan holds one regexp_extract per field and one rlike of
    the pattern, not copies inlined into the pushed-down filter."""
    cp = compile_pattern(FIVE_FIELD_RE)
    lines = [
        "2024/04/12 22:47:42.506277 GETM SUCC localhost:7710 605 1 17",
        "2024/04/12 22:47:43.012345 PUTM SUCC localhost:7710 12500 2 18",
        "2024/04/12 22:47:43.523456 SETM FAIL localhost:7710 98000 3 19",
    ]
    df = spark.createDataFrame([(l,) for l in lines], ["value"])
    out = apply_filter(cp.parse_lines(df), "time > 10000")
    plan = _optimized_plan(out)
    assert plan.count("regexp_extract(") == len(cp.fields), plan
    assert len(re.findall(r"RLIKE\(value#[0-9]+, " + re.escape(cp.java_pattern) + r"\)", plan)) == 1, plan
    assert [tuple(r) for r in out.collect()] == [("PUTM", "SUCC", 12500, 2, 18)]


def test_parse_evaluates_each_date_layout_once(spark):
    cp = compile_pattern(r"^(?P<ts__date>[^ ]+ [^ ]+) (?P<n__int>[0-9]+)$")
    lines = ["2024/04/12 22:47:42 5", "04/11/2024 05:04:05 6", "2024-04-09 22:47:42 7", "2024-04-12 22:47:42 1"]
    df = spark.createDataFrame([(l,) for l in lines], ["value"])
    out = apply_filter(cp.parse_lines(df), "n > 1 and ts > '2024-04-10'")
    plan = _optimized_plan(out)
    assert plan.count("regexp_extract(") == 2, plan
    # one layout is tried both with and without a leading weekday
    layouts = DATE_LAYOUTS + DAYLESS_LAYOUTS
    for fmt in layouts:
        assert plan.count(f", {fmt}, TimestampType") == layouts.count(fmt), fmt
    assert sorted(tuple(r) for r in out.collect()) == [
        (datetime.datetime(2024, 4, 11, 5, 4, 5), 6),
        (datetime.datetime(2024, 4, 12, 22, 47, 42), 5),
    ]
