"""Elapsed-time pairing (Logstash ``elapsed`` filter) — SURVEY §2.9 T6.

Semantics (matching Logstash elapsed): per key, a *start* event opens a
pending interval; the next *end* event closes it and emits
(key, start_ts, end_ts, elapsed seconds). A new start while one is
pending replaces it (last-start-wins, Logstash's behavior); an end with
no pending start is dropped. Pending starts expire after ``timeout``
(Logstash's ``timeout`` option) via state timeout, bounding state at
100 TB/day: live state ≤ one pending start per key younger than the
timeout.

Implementation note: Spark 4's ``transformWithStateInPandas`` (typed
ValueState + TTL) is the forward path for this operator, but its
Python worker imports ``google.protobuf``, which not every PySpark
install ships, so the op is a step on the keyed-fold kernel
(streaming/stateful.py::keyed_fold, ``applyInPandasWithState``) —
same state-store mechanics (keyed state + ProcessingTime timeout),
available everywhere Spark 4 runs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .stateful import keyed_fold

OUTPUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("elapsed_s", DoubleType()),
    ]
)

_UNITS_MS = {
    "second": 1000, "seconds": 1000,
    "minute": 60_000, "minutes": 60_000,
    "hour": 3_600_000, "hours": 3_600_000,
}


def elapsed_stream(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
    start_val: str,
    end_val: str,
    timeout: str | None = "1 hour",
) -> DataFrame:
    """Pair start/end events per key and emit elapsed durations.

    ``timeout`` (duration string, or None) expires pending starts so
    state stays bounded. Keys are stringified into ``key``. Events fold
    in (ts, type) order: same-instant events in type-string order.
    """
    ttl_ms: int | None = None
    if timeout is not None:
        amount, unit = timeout.split()
        ttl_ms = int(amount) * _UNITS_MS[unit]

    def step(key, rows, state):
        pending = None if state is None else state[0]
        out: list[tuple] = []
        ts_us = rows[ts_col].values.astype("datetime64[us]").astype("int64")
        for t, ev in zip(ts_us, rows[type_col]):
            if ev == start_val:
                pending = int(t)  # last-start-wins
            elif ev == end_val and pending is not None:
                out.append((key[0], pending, int(t), (int(t) - pending) / 1e6))
                pending = None
        frame = pd.DataFrame(out, columns=["key", "start_us", "end_us", "elapsed_s"])
        return frame, (None if pending is None else (pending,))

    keyed = df.select(
        df[key_col].cast("string").alias("key"),
        df[ts_col].alias(ts_col),
        df[type_col].alias(type_col),
    )
    return keyed_fold(
        keyed, "key", step,
        schema=OUTPUT_SCHEMA,
        state_schema="start_us long",
        init=None,
        order=[ts_col, type_col],
        timeout_ms=ttl_ms,
    )
