"""Regex schema-DSL compiler: ``(?P<name__type>...)`` → Spark schema + exprs.

The reference declares a table's schema inline in a regex: each named
capture group is ``(?P<colname__coltype>...)`` where ``coltype`` is one of
``bool | int | float | date | str`` (default ``str``); see
``/root/reference/sql/lparser.go:41-62`` (type table at ``:48-59``).

Semantics preserved (reference file:line cited per rule):

* a line that does not match the regex is dropped
  (``sql/lparser.go:98-100``);
* a line where any typed field fails to parse is dropped whole — there
  are no NULLs in the data model (``sql/lparser.go:114-145``,
  ``sql/squeryer.go:117-121``);
* ``bool`` parses exactly Go ``strconv.ParseBool``'s accepted set
  (``1 t T TRUE true True 0 f F FALSE false False``,
  ``sql/lparser.go:116``) — narrower than Spark's cast (no ``yes/no``);
* ``int`` is strict base-10 int64 (``strconv.ParseInt``,
  ``sql/lparser.go:122``) — no floats, no hex, and a value outside int64
  drops the line;
* ``float`` is Go ``strconv.ParseFloat`` (``sql/lparser.go:128``) —
  accepts scientific notation, hex with a ``p`` exponent and
  ``inf``/``nan``; a number that rounds to ±Inf drops the line. Digit
  separators (``0x_1p0``), which Go takes after a base prefix, are
  refused;
* ``date`` is fuzzy multi-layout parsing (``dateparse.ParseAny``,
  ``sql/lparser.go:134``) — compiled to a ``coalesce`` chain of
  ``try_to_timestamp`` formats over :data:`DATE_LAYOUTS`.

Everything compiles to built-in Spark SQL expressions (``regexp_extract``
+ guarded casts), so parsing runs inside whole-stage codegen and scales
linearly with input partitions — no Python on the hot path, no shuffle.

Parse once: like the reference's one match and one parse per field
(``sql/lparser.go:89-149``), each capture and each typed conversion is
evaluated exactly once per line. Left to itself, Catalyst pushes the
not-null drop and the user's ``-F`` filter below the projection and
re-inlines every ``regexp_extract`` and cast they read: a 5-field
pattern with a filter on one ``int`` column planned 18 extracts per line
where 5 do, and a ``date`` field ran its layout chain twice. So the
captures, then the typed values, sit behind a ``Generate``
(:func:`_once`), and Catalyst never pushes a filter on a ``Generate``'s
output below it.

The reference's hidden metadata columns ``__tname``/``__id``
(``sql/lparser.go:64-67``) are unnecessary in Spark: each source keeps
its own DataFrame and becomes its own temp view, so no merge-then-regroup
dance is needed.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: tailsql type name → Spark type (reference: sql/lparser.go:48-59).
TAIL_TYPES: dict[str, T.DataType] = {
    "bool": T.BooleanType(),
    "int": T.LongType(),
    "float": T.DoubleType(),
    "date": T.TimestampType(),
    "str": T.StringType(),
}

#: Timestamp layouts accepted by the fuzzy ``date`` type, tried in order.
#: Mirrors the layouts the reference's ``dateparse.ParseAny`` sees in
#: practice (README demo ``2024/04/12 22:47:42.506277``, ISO-8601,
#: RFC3339, US dates, syslog). Spark datetime patterns.
DATE_LAYOUTS: tuple[str, ...] = (
    "yyyy/MM/dd HH:mm:ss.SSSSSS",
    "yyyy/MM/dd HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "yyyy-MM-dd'T'HH:mm:ss.SSSXXX",
    "yyyy-MM-dd'T'HH:mm:ssXXX",
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd HH:mm:ss.SSSSSS",
    "yyyy-MM-dd HH:mm:ss.SSS",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd",
    "yyyy/MM/dd",
    "MM/dd/yyyy HH:mm:ss",
    "MM/dd/yyyy",
    "dd MMM yyyy HH:mm:ss",
    "dd/MMM/yyyy:HH:mm:ss xx",  # Apache common-log `02/Jan/2006:15:04:05 -0700`
    "yyyyMMdd",
)

#: Layouts parsed after stripping a leading weekday token — Spark's
#: DateTimeFormatter cannot PARSE ``E`` (day-of-week), so ctime /
#: RFC-1123 forms (`Mon Jan  2 15:04:05 2006`, `Mon, 02 Jan 2006
#: 15:04:05 -0700`) are matched by dropping ``Mon,?`` first.
DAYLESS_LAYOUTS: tuple[str, ...] = (
    "MMM d HH:mm:ss yyyy",          # Go ANSIC / ctime
    "dd MMM yyyy HH:mm:ss xx",      # RFC 1123 with numeric zone
    "dd MMM yyyy HH:mm:ss",
)

_WEEKDAY_PREFIX = r"^(Mon|Tue|Wed|Thu|Fri|Sat|Sun),? "

#: the numbers strconv.ParseFloat reads, less its ``_`` digit separators
_GO_FLOAT_NUMBER = (
    r"^[+-]?(([0-9]+(\.[0-9]*)?|\.[0-9]+)([eE][+-]?[0-9]+)?"
    r"|0[xX]([0-9a-fA-F]+(\.[0-9a-fA-F]*)?|\.[0-9a-fA-F]+)[pP][+-]?[0-9]+)$"
)

_GROUP_RE = re.compile(r"\(\?P<([A-Za-z_][A-Za-z0-9_]*)>")


@dataclass(frozen=True)
class FieldSpec:
    """One declared column: name, tailsql type, regex group index."""

    name: str
    tail_type: str
    group_index: int

    @property
    def spark_type(self) -> T.DataType:
        return TAIL_TYPES[self.tail_type]


@dataclass
class CompiledPattern:
    """A compiled regex-DSL pattern: Java regex + typed field list."""

    source: str
    java_pattern: str
    fields: list[FieldSpec] = field(default_factory=list)

    @property
    def schema(self) -> T.StructType:
        # Columns are nullable=False in spirit (rows with nulls are
        # dropped), but Spark marks regexp-derived columns nullable;
        # we declare the honest post-drop schema.
        return T.StructType(
            [T.StructField(f.name, f.spark_type, False) for f in self.fields]
        )

    # ------------------------------------------------------------------
    # column builders
    # ------------------------------------------------------------------
    def _typed(self, raw: Column, spec: FieldSpec) -> Column:
        """The typed value of one field's capture ``raw``, NULL when it
        fails its type's parse."""
        if spec.tail_type == "str":
            return raw
        if spec.tail_type == "int":
            # strict base-10 int64, like strconv.ParseInt(_, 10, 64); an
            # out-of-range value is a parse error, which try_cast makes NULL
            return F.when(raw.rlike(r"^[+-]?[0-9]+$"), raw.try_cast(T.LongType()))
        if spec.tail_type == "float":
            # strconv.ParseFloat: decimal or hex (p exponent required)
            # numbers, where one that rounds to ±Inf is a range error
            # (Spark plans nullif's operand as a common expression, so
            # the cast still runs once); inf/infinity take a sign and
            # any case, nan only any case
            inf = F.lit(float("inf"))
            number = F.when(raw.rlike(_GO_FLOAT_NUMBER), raw).try_cast(T.DoubleType())
            special = F.when(raw.rlike(r"(?i)^([+-]?inf(inity)?|nan)$"), raw)
            return F.coalesce(
                F.nullif(F.nullif(number, inf), -inf), special.try_cast(T.DoubleType())
            )
        if spec.tail_type == "bool":
            # exactly Go strconv.ParseBool's accepted set
            return (
                F.when(raw.isin("1", "t", "T", "TRUE", "true", "True"), F.lit(True))
                .when(raw.isin("0", "f", "F", "FALSE", "false", "False"), F.lit(False))
                .otherwise(F.lit(None).cast(T.BooleanType()))
            )
        if spec.tail_type == "date":
            # Fuzzy multi-layout chain (dateparse.ParseAny parity,
            # sql/lparser.go:134). Entirely JVM-side: epoch guards are
            # rlike + timestamp_seconds/millis; layout trials are
            # try_to_timestamp; ctime double-space alignment is
            # collapsed before matching.
            norm = F.regexp_replace(F.trim(raw), "  +", " ")
            noday = F.regexp_replace(norm, _WEEKDAY_PREFIX, "")
            return F.coalesce(
                F.when(
                    raw.rlike(r"^[0-9]{12,13}$"),
                    F.timestamp_millis(raw.cast(T.LongType())),
                ),
                F.when(
                    raw.rlike(r"^[0-9]{9,11}$"),
                    F.timestamp_seconds(raw.cast(T.LongType())),
                ),
                *[F.try_to_timestamp(norm, F.lit(fmt)) for fmt in DATE_LAYOUTS],
                *[F.try_to_timestamp(noday, F.lit(fmt)) for fmt in DAYLESS_LAYOUTS],
            )
        raise ValueError(f"unknown tailsql type: {spec.tail_type}")

    # ------------------------------------------------------------------
    # DataFrame-level parse (works on batch and streaming DataFrames)
    # ------------------------------------------------------------------
    def parse_lines(self, lines: DataFrame, line_col: str = "value") -> DataFrame:
        """Parse a DataFrame of raw text lines into the typed schema.

        Drop semantics match the reference: non-matching lines are
        dropped (``sql/lparser.go:98-100``); a matching line where any
        typed field fails its cast is dropped whole
        (``sql/squeryer.go:117-121``). Empty lines are ignored
        (``sql/lparser.go:90-93``).

        The captures, then the typed values, are each evaluated once per
        line (:func:`_once`); the not-null drop and any filter applied to
        the result read the typed columns.
        """
        line = F.col(line_col)
        matched = lines.filter(line.isNotNull() & (line != "")).filter(
            line.rlike(self.java_pattern)
        )
        raw = _once(
            matched,
            [
                F.regexp_extract(line, self.java_pattern, spec.group_index).alias(f"_{i}")
                for i, spec in enumerate(self.fields)
            ],
        )
        typed = _once(
            raw,
            [
                self._typed(F.col(f"_{i}"), spec).alias(spec.name)
                for i, spec in enumerate(self.fields)
            ],
        )
        not_null = [F.col(spec.name).isNotNull() for spec in self.fields]
        pred = not_null[0]
        for c in not_null[1:]:
            pred = pred & c
        return typed.filter(pred)


def _once(df: DataFrame, cols: list[Column]) -> DataFrame:
    """Select ``cols`` behind an optimizer barrier, so each is evaluated
    once per row: Catalyst never pushes a filter on a ``Generate``'s
    output below that ``Generate``, where a filter over a plain
    projection would be rewritten to re-evaluate every column it reads.
    ``inline`` of a one-element array keeps the row count and stays in
    whole-stage codegen."""
    return df.select(F.inline(F.array(F.struct(*cols))))


def compile_pattern(pattern: str) -> CompiledPattern:
    """Compile a ``(?P<name__type>...)`` regex into a :class:`CompiledPattern`.

    The Python named-group syntax is rewritten to plain groups for the
    JVM regex engine (Java names cannot contain ``__``); group indices
    are taken from Python's compiled ``groupindex`` so interleaved
    unnamed groups keep their positions.
    """
    compiled = re.compile(pattern)  # validates; raises re.error on bad DSL
    fields: list[FieldSpec] = []
    for gname, gidx in sorted(compiled.groupindex.items(), key=lambda kv: kv[1]):
        if "__" in gname:
            name, _, ttype = gname.rpartition("__")
            if ttype not in TAIL_TYPES:
                # unknown type suffix → whole group name is the column,
                # type defaults to str (sql/lparser.go:57-58)
                name, ttype = gname, "str"
        else:
            name, ttype = gname, "str"
        fields.append(FieldSpec(name=name, tail_type=ttype, group_index=gidx))
    if not fields:
        raise ValueError("pattern declares no (?P<name__type>...) capture groups")
    java_pattern = _GROUP_RE.sub("(", pattern)
    return CompiledPattern(source=pattern, java_pattern=java_pattern, fields=fields)
