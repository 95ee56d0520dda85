"""Output checks: live-loop emissions against the generator, registry
results against their DuckDB oracles."""

from __future__ import annotations

import bisect
import os
import sys

from gen import kept

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_raw(text: str) -> dict[str, tuple[int, ...]]:
    """``raw``-formatted SQL result → {method: (n, total, lo, hi, newest)}."""
    lines = text.splitlines()
    if not lines or lines[0].split() != ["method", "n", "total", "lo", "hi", "newest"]:
        raise ValueError(f"unexpected header: {lines[:1]}")
    out = {}
    for ln in lines[1:]:
        method, *nums = ln.split()
        out[method] = tuple(int(x) for x in nums)
    return out


def window_rows(lines: list, created: list[int], seqs) -> dict[str, tuple[int, ...]]:
    """What the window SQL returns over the lines ``seqs``, where
    ``lines[seq]`` is ``gen.kept(seed, seq)`` (repeats count twice, as a
    duplicated batch would)."""
    acc: dict[str, list[int]] = {}
    for s in seqs:
        if lines[s] is None:
            continue
        m, t = lines[s]
        a = acc.setdefault(m, [0, 0, s, s, created[s]])
        a[0] += 1
        a[1] += t
        a[2], a[3], a[4] = min(a[2], s), max(a[3], s), max(a[4], created[s])
    return {m: tuple(a) for m, a in acc.items()}


class LiveChecker:
    """Checks each emission of the live loop against the generator's lines.

    ``created[seq]`` is the creation stamp the writer put on line ``seq``
    (read back from the log). An emission passes when, over its reported
    ``[min lo, max hi]``, every group's count, sum, sequence range and
    newest stamp equal the values recomputed from the generator, and its
    range overlaps or abuts the previous emission's (no lost batch).
    """

    def __init__(self, seed: int, created: list[int]):
        self.created = created
        self.lines = [kept(seed, s) for s in range(len(created))]
        self.kept_seqs = [s for s, k in enumerate(self.lines) if k is not None]
        self.prev: tuple[int, int] | None = None

    def check(self, rows: dict[str, tuple[int, ...]]) -> str | None:
        """None if the emission is right, else what is wrong."""
        if not rows:
            return "empty window"
        lo = min(r[2] for r in rows.values())
        hi = max(r[3] for r in rows.values())
        if hi >= len(self.created):
            return f"max seq {hi} was never written"
        expected = window_rows(self.lines, self.created, range(lo, hi + 1))
        if rows != expected:
            return f"window [{lo}, {hi}]: got {rows}, expected {expected}"
        if self.prev is not None:
            plo, phi = self.prev
            if lo < plo or hi < phi:
                return f"window [{lo}, {hi}] went back from [{plo}, {phi}]"
            i = bisect.bisect_right(self.kept_seqs, phi)
            if i < len(self.kept_seqs) and self.kept_seqs[i] < lo:
                return (
                    f"gap: kept line {self.kept_seqs[i]} lies between windows "
                    f"[{plo}, {phi}] and [{lo}, {hi}]"
                )
        self.prev = (lo, hi)
        return None


# ----------------------------------------------------------------------
# registry
# ----------------------------------------------------------------------
def oracle_connection(data_dir: str, tmp_dir: str):
    """DuckDB connection with one view per registry table."""
    import duckdb

    from tailsql_spark.plans.catalog import TABLES

    con = duckdb.connect()
    con.execute(f"SET temp_directory='{tmp_dir}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def registry_mismatch(columns: list[str], pdf, oracle_pdf) -> str | None:
    """None if a Spark result equals its oracle's, by the rules of
    tools/check_oracle.py, else what differs."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from tools.check_oracle import _df_to_cells, norm_rows

    dcols = list(oracle_pdf.columns)
    if sorted(columns) != sorted(dcols):
        return f"columns {sorted(columns)} != oracle {sorted(dcols)}"
    if len(pdf) != len(oracle_pdf):
        return f"{len(pdf)} rows != oracle {len(oracle_pdf)}"
    if norm_rows(columns, _df_to_cells(pdf[columns])) != norm_rows(dcols, _df_to_cells(oracle_pdf[dcols])):
        return "values differ from oracle"
    return None
