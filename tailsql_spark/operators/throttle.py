"""Rate limiting (reference operator #7 — the lossy throttler).

The reference throttles each source to ``MAX_ELE`` rows per
``PERIOD_SEC`` with buffer ``BUFF_SIZE`` and **discards** overflow
(``/root/reference/sql/squeryer.go:343-352``; discard documented at
``/root/reference/config.yaml:16-18``).

Spark has no built-in lossy throttle: Structured Streaming back-pressures
losslessly via source rate limits (``maxFilesPerTrigger`` /
``maxOffsetsPerTrigger``; the tail sources' ``max_bytes_per_batch``).
The live loop's per-source budget sheds overflow through :func:`shed`,
in one of two modes (SURVEY §7.3#6):

* ``sample`` (default) — uniform sampling to the budget. Sampling is
  the distributed analogue of "drop overflow": it needs no global
  counter (a cross-partition token bucket would serialize the stream)
  and keeps the kept-set unbiased, which drop-tail does not.
* ``drop_tail`` — exact ``flow.Discard`` parity: the earliest rows up to
  the budget survive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def shed(
    df: DataFrame, n: int, budget: float, mode: str, order_col: str | None
) -> DataFrame:
    """Shed an ``n``-row batch down to ``budget`` rows.

    ``mode="sample"`` keeps each row with probability ``budget / n``
    (≈ budget rows, unbiased per-window statistics).

    ``mode="drop_tail"`` keeps EXACTLY the first ``int(budget)`` rows
    and discards the rest — ``flow.Discard``'s semantics
    (``/root/reference/sql/squeryer.go:343-352``: buffer full → new
    elements dropped, earliest survive).  "First" needs an order a
    distributed batch doesn't inherently have; ``order_col`` (event
    time when the source parses one) supplies it.  With no order column
    the keep-set is an arbitrary prefix — faithful to the reference,
    whose kept rows are whatever arrived before the buffer filled.
    Plan shape: ``orderBy().limit(n)`` compiles to TakeOrdered — each
    partition keeps its local top-``n`` and only ``n``-row heads move
    to the driver-side merge, so the cost is bounded by the BUDGET, not
    the batch: safe at any ingest scale.  Sampling remains the default
    because drop-tail biases per-window statistics toward early rows.
    """
    if mode == "drop_tail":
        if order_col and order_col in df.columns:
            df = df.orderBy(order_col)
        return df.limit(int(budget))
    return df.filter(F.rand() < budget / n)
