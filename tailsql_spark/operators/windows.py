"""Window spec for the live loop (reference operator #9).

The reference buffers the merged row stream and emits ``[]LRow`` batches
on a ``SIZE:SLIDE:IDX_OF_TS`` spec (``/root/reference/sql/squeryer.go:
169-199``; spec parse ``/root/reference/config/config.go:68-94``):
``SLIDE=0`` → tumbling, ``SLIDE>0`` → sliding, ``IDX_OF_TS`` picks an
event-time column (-1 = processing time).

Known reference bug NOT replicated (SURVEY §2A): its event-time
extractor returns ``time.Time.Nanosecond()`` — the offset within the
current second — so reference event-time sliding windows are broken.
The live loop implements real event time over the parsed timestamp column.

The spec is all this module holds: the live loop
(``tailsql_spark/streaming/squeryer.py``) buffers rows per window,
retires them past the ``SIZE`` horizon, and emits on the ``SLIDE``
period (``SIZE`` for tumbling windows) from these fields.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class WindowSpec:
    """Parsed ``SIZE:SLIDE:IDX_OF_TS`` window spec (config.go:68-94)."""

    size_sec: int
    slide_sec: int = 0  # 0 → tumbling
    ts_field: str | None = None  # None → processing time

    def __post_init__(self) -> None:
        if self.size_sec <= 0:
            raise ValueError("window SIZE must be > 0")
        if self.slide_sec < 0 or self.slide_sec > self.size_sec:
            raise ValueError("window SLIDE must be in [0, SIZE]")

    @property
    def is_tumbling(self) -> bool:
        return self.slide_sec == 0 or self.slide_sec == self.size_sec
