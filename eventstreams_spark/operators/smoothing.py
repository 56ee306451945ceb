"""Holt-Winters additive smoothing (level + trend + season) — batch
form — plus the HMM forward-step helpers shared with the streaming
burst filter.

Holt's methods are per-key SEQUENTIAL folds — level, trend and season
are COUPLED recurrences (each step needs the previous states), so no
window function expresses them; ``applyInPandas`` over each key's
ordered rows is the right home, with the same hot-series split
strategy as every keyed fold. Holt linear, Kalman level and the HMM
burst filter have stream forms in streaming/stateful.py, whose
keyed-fold kernel also runs them on batch frames; Holt-Winters has no
stream form, so its batch fold lives here.

The one-step forecast error sum (SSE) accumulates INSIDE the fold:
a post-hoc float SUM over shuffled rows would be order-dependent
across engines, the sequential running sum is bit-exact vs the
recursive-CTE oracle replay (functions/exact.py rationale, applied to
an inherently sequential statistic).
"""
from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame


def holt_winters_batch(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    period: int = 7,
    alpha: float = 0.4,
    beta: float = 0.2,
    gamma: float = 0.3,
) -> DataFrame:
    """Additive Holt-Winters (level + trend + seasonal) per key — the
    seasonal extension of streaming/stateful.py::holt_linear_stream,
    same sequential-fold contract. Initialization: the first ``period`` rows seed
    l = mean(first period), b = 0, s_i = y_i − l; the recurrence runs
    from row period+1 with the one-step forecast l + b + s_{t−m}
    and the SSE accumulating inside the fold (bit-exact vs a
    recursive-CTE replay, like Holt linear).

    Rows before the seed window complete are emitted with NULL
    level/trend/forecast (their ``season`` carries the seed
    s_i = y_i − l₀, so a reader can reconstruct the full state). State per key is period + 2 floats — the
    production shape for per-series seasonal forecasting at millions
    of keys.
    """
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    out_schema = StructType(
        list(df.schema.fields)
        + [
            StructField("rn", LongType()),
            StructField("level", DoubleType()),
            StructField("trend", DoubleType()),
            StructField("season", DoubleType()),
            StructField("forecast", DoubleType()),
            StructField("sse_running", DoubleType()),
        ]
    )
    out_cols = [f.name for f in out_schema.fields]
    m = int(period)

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="mergesort").copy()
        ys = list(pdf[value_col])
        n = len(ys)
        rns = list(range(1, n + 1))
        lvls, trends, seas, fcs, sses = [], [], [], [], []
        if n < m:
            pdf["rn"] = rns
            for c in ("level", "trend", "season", "forecast", "sse_running"):
                pdf[c] = pd.array([None] * n, dtype="float64")
            return pdf[out_cols]
        lvl = sum(ys[:m]) / float(m)
        trend, sse = 0.0, 0.0
        seed = [y - lvl for y in ys[:m]]
        sarr = list(seed)
        for i in range(n):
            if i < m - 1:
                lvls.append(None); trends.append(None)
                seas.append(seed[i]); fcs.append(None); sses.append(None)
            elif i == m - 1:
                lvls.append(lvl); trends.append(0.0)
                seas.append(seed[i]); fcs.append(None); sses.append(0.0)
            else:
                y = ys[i]
                s_old = sarr[0]
                fc = lvl + trend + s_old
                sse = sse + (y - fc) * (y - fc)
                new_lvl = alpha * (y - s_old) + (1.0 - alpha) * (lvl + trend)
                trend = beta * (new_lvl - lvl) + (1.0 - beta) * trend
                s_new = gamma * (y - new_lvl) + (1.0 - gamma) * s_old
                sarr = sarr[1:] + [s_new]
                lvl = new_lvl
                lvls.append(lvl); trends.append(trend)
                seas.append(s_new); fcs.append(fc); sses.append(sse)
        pdf["rn"] = rns
        pdf["level"] = pd.array(lvls, dtype="float64")
        pdf["trend"] = pd.array(trends, dtype="float64")
        pdf["season"] = pd.array(seas, dtype="float64")
        pdf["forecast"] = pd.array(fcs, dtype="float64")
        pdf["sse_running"] = pd.array(sses, dtype="float64")
        return pdf[out_cols]

    return df.groupBy(key_col).applyInPandas(fold, schema=out_schema)


# --- 2-state HMM burst filter (forward log-odds) ---------------------------

# Constants mirror queries/opsstat_extra.py (the JVM aggregate() fold
# certified against the recursive-CTE oracle); keep in sync.
_HMM_P01, _HMM_P11, _HMM_P00, _HMM_P10 = 0.1, 0.8, 0.9, 0.2
_HMM_MULT = 3.0
_HMM_CLAMP = 30.0


def _round_half_away(x: float, nd: int = 6) -> float:
    """round() half-away-from-zero — SQL round semantics, not Python's
    banker's rounding. Inputs here are transcendental-function outputs,
    never exactly at a half boundary, so the float-scaling error of the
    floor trick cannot flip a decision in practice."""
    import math

    s = 10.0 ** nd
    if x >= 0:
        return math.floor(x * s + 0.5) / s
    return -math.floor(-x * s + 0.5) / s


def hmm_step_py(L: float, k: int, lam0: float) -> float:
    """One HMM forward step in log-odds space, Python twin of the
    engine-shared SQL text in queries/opsstat_extra.py::_hmm_step:
    L' = round6( ln((p01 + p11·e^L)/(p00 + p10·e^L))
                 + k·ln(mult) − (mult−1)·λ0 ), e^L clamped at ±30.
    The per-step 6-decimal requantization is what keeps the Python,
    JVM, and DuckDB folds bit-identical — ln/exp ulp drift cannot
    compound across steps."""
    import math

    eL = math.exp(max(min(L, _HMM_CLAMP), -_HMM_CLAMP))
    x = (
        math.log((_HMM_P01 + _HMM_P11 * eL) / (_HMM_P00 + _HMM_P10 * eL))
        + float(k) * math.log(_HMM_MULT)
        - (_HMM_MULT - 1.0) * lam0
    )
    return _round_half_away(x, 6)


def _hmm_init() -> float:
    """Prior log-odds entering the first transition: ln(p01/p00) in
    double — matches the CAST-to-DOUBLE division the SQL init uses."""
    import math

    return math.log(_HMM_P01 / _HMM_P00)
