"""Streaming multiline codec (T6 applied to S-codec): reassemble
continuation lines into events across micro-batch boundaries.

The batch operator (operators/multiline.py) needs the whole line set;
a live tail gets lines split across micro-batches, so the open event
must live in keyed state. The keyed-fold kernel
(streaming/stateful.py::keyed_fold) holds exactly that: per source key,
the pending (unterminated) event; a start line flushes it, a
processing-time timeout flushes an idle tail (the Logstash
``auto_flush_interval``). The kernel folds a key's whole micro-batch in
``order_col`` order, however Spark splits it into Arrow chunks.

Scale: one shuffle by source key; state is O(open event) per key —
bounded by the longest single event, not the stream; Python cost is
per key-batch via Arrow.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame

from .stateful import keyed_fold


def multiline_stream(
    df: DataFrame,
    key_col: str,
    line_col: str,
    order_col: str,
    pattern: str,
    *,
    negate: bool = False,
    sep: str = " ",
    flush_ms: int | None = None,
) -> DataFrame:
    """Reassemble a line stream into events (what=previous semantics).

    A line matching ``pattern`` (inverted by ``negate``) continues the
    open event; any other line completes the open event (emitted) and
    opens a new one. The trailing open event is held in state and
    emitted when ``flush_ms`` of processing time passes with no new
    lines for the key (never, when ``flush_ms`` is None — the next
    start line is then the only flush).

    Output: ``key, first_line_no, n_lines, message`` per completed
    event, in append mode.
    """
    rx = re.compile(pattern)

    def is_cont(line: str) -> bool:
        m = rx.search(line) is not None
        return (not m) if negate else m

    def frame(key, events):
        return pd.DataFrame(
            {key_col: [key[0]] * len(events),
             "first_line_no": [e[0] for e in events],
             "n_lines": [e[1] for e in events],
             "message": [e[2] for e in events]}
        )

    def step(key, rows, pending):
        done: list[tuple[int, int, str]] = []
        for line_no, line in zip(rows[order_col], rows[line_col]):
            if pending is not None and is_cont(line):
                pending = (pending[0], pending[1] + 1, pending[2] + sep + line)
            else:
                if pending is not None:
                    done.append(pending)
                pending = (int(line_no), 1, line)
        return (frame(key, done) if done else None), pending

    return keyed_fold(
        df, key_col, step,
        schema=f"{key_col} string, first_line_no long, n_lines long, message string",
        state_schema="first_no long, n long, msg string",
        init=None,
        order=order_col,
        timeout_ms=flush_ms,
        on_timeout=lambda key, pending: frame(key, [pending]),
    )
