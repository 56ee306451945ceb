"""Classical forecasting: Yule-Walker AR(2) identification and a
held-out backtest scorecard (MAE / sMAPE / MASE against the three
baselines every forecast must beat — naive, seasonal-naive, drift).
The Hyndman-style evaluation loop: identify on autocovariances,
benchmark on scaled errors, and only ship a model that beats MASE=1.

Float discipline: daily counts are exact integers, so every moment
(Σx, Σx², Σx·x_k) and every naive/seasonal-naive forecast error is an
exact integer; autocovariances, AR coefficients, and drift forecasts
are assembled from those integers in IDENTICAL double expressions on
both engines (the formula text is generated once and shared); float
SUMS over double-valued per-row errors use the pinned-order prefix
trick — a running window sum ordered by rn is a sequential
left-to-right fold on both engines, so the final cumulative value is
bit-identical where a hash-aggregated sum would be order-dependent.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves PEP-563
                         # string annotations via module globals
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query


# Engine-shared autocovariance formulas (identical text in the oracle
# and F.expr): m = mean, c0 = Var, ck = lag-k autocovariance from the
# integer moment sums. Divisors are N (the biased/MLE convention the
# Yule-Walker equations assume).
_M = "(CAST(sx AS DOUBLE) / n)"
_C0 = f"((CAST(sxx AS DOUBLE) - sx * {_M}) / n)"


def _ck(k: int) -> str:
    return (
        f"((CAST(sxy{k} AS DOUBLE) - {_M} * sa{k} - {_M} * sb{k}"
        f" + CAST(n - {k} AS DOUBLE) * {_M} * {_M}) / n)"
    )


_YW_BODY = f"""
    SELECT event_type, n,
           {_C0} AS c0, {_ck(1)} AS c1, {_ck(2)} AS c2
    FROM mom
"""

# r1/r2 are autocorrelations; the 2x2 Yule-Walker solve in closed form
_PHI = """
    SELECT event_type, n,
           c1 / c0 AS r1, c2 / c0 AS r2,
           (c1 / c0) * (1.0 - c2 / c0)
               / (1.0 - (c1 / c0) * (c1 / c0)) AS phi1,
           (c2 / c0 - (c1 / c0) * (c1 / c0))
               / (1.0 - (c1 / c0) * (c1 / c0)) AS phi2,
           c0
    FROM yw
"""


@query(
    "yule_walker_ar2",
    category="FC-ar2",
    oracle=f"""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ), led AS (
            SELECT event_type, x,
                   lead(x, 1) OVER (PARTITION BY event_type
                                    ORDER BY day) AS x1,
                   lead(x, 2) OVER (PARTITION BY event_type
                                    ORDER BY day) AS x2
            FROM daily
        ), mom AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(x * x) AS BIGINT) AS sxx,
                   CAST(sum(CASE WHEN x1 IS NOT NULL THEN x * x1 END)
                        AS BIGINT) AS sxy1,
                   CAST(sum(CASE WHEN x1 IS NOT NULL THEN x END)
                        AS BIGINT) AS sa1,
                   CAST(sum(x1) AS BIGINT) AS sb1,
                   CAST(sum(CASE WHEN x2 IS NOT NULL THEN x * x2 END)
                        AS BIGINT) AS sxy2,
                   CAST(sum(CASE WHEN x2 IS NOT NULL THEN x END)
                        AS BIGINT) AS sa2,
                   CAST(sum(x2) AS BIGINT) AS sb2
            FROM led GROUP BY event_type
        ), yw AS ({_YW_BODY}), phi AS ({_PHI})
        SELECT event_type, n AS n_days,
               CAST(round(r1, 6) AS DOUBLE) AS r1,
               CAST(round(r2, 6) AS DOUBLE) AS r2,
               CAST(round(phi1, 6) AS DOUBLE) AS phi1,
               CAST(round(phi2, 6) AS DOUBLE) AS phi2,
               CAST(round(c0 * (1.0 - phi1 * r1 - phi2 * r2), 6)
                    AS DOUBLE) AS noise_var,
               (phi2 > -1.0 AND phi2 < 1.0 - abs(phi1)) AS stationary
        FROM phi ORDER BY event_type
    """,
)
def yule_walker_ar2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(2) identification by Yule-Walker on each channel's daily
    count series: biased autocovariances c0..c2 from integer moment
    sums, autocorrelations r1/r2, the closed-form 2×2 solve
    φ1 = r1(1−r2)/(1−r1²), φ2 = (r2−r1²)/(1−r1²), innovation variance
    σ² = c0(1−φ1r1−φ2r2), and the stationarity-triangle check
    (|φ2| < 1 and φ2 < 1 − |φ1|) — the identification step before any
    autoregressive forecast or anomaly model.

    Determinism: x is an exact integer count; the lag moments are
    integer sums over lead() pairs; every autocovariance/coefficient
    is one shared-text double expression over those integers.

    Scale: rollup to |channels|×|days|, ONE window pass for both
    leads, one hash aggregate — the fact table is touched once; the
    algebra runs on k rows.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    led = daily.select(
        "event_type", "x",
        F.lead("x", 1).over(w).alias("x1"),
        F.lead("x", 2).over(w).alias("x2"),
    )
    mom = led.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.when(F.col("x1").isNotNull(), F.col("x") * F.col("x1")))
        .cast("long").alias("sxy1"),
        F.sum(F.when(F.col("x1").isNotNull(), F.col("x")))
        .cast("long").alias("sa1"),
        F.sum("x1").cast("long").alias("sb1"),
        F.sum(F.when(F.col("x2").isNotNull(), F.col("x") * F.col("x2")))
        .cast("long").alias("sxy2"),
        F.sum(F.when(F.col("x2").isNotNull(), F.col("x")))
        .cast("long").alias("sa2"),
        F.sum("x2").cast("long").alias("sb2"),
    )
    yw = mom.select(
        "event_type", "n",
        F.expr(_C0).alias("c0"),
        F.expr(_ck(1)).alias("c1"),
        F.expr(_ck(2)).alias("c2"),
    )
    phi = yw.select(
        "event_type", "n", "c0",
        F.expr("c1 / c0").alias("r1"),
        F.expr("c2 / c0").alias("r2"),
        F.expr(
            "(c1 / c0) * (1.0 - c2 / c0)"
            " / (1.0 - (c1 / c0) * (c1 / c0))"
        ).alias("phi1"),
        F.expr(
            "(c2 / c0 - (c1 / c0) * (c1 / c0))"
            " / (1.0 - (c1 / c0) * (c1 / c0))"
        ).alias("phi2"),
    )
    return phi.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.round("r1", 6).alias("r1"),
        F.round("r2", 6).alias("r2"),
        F.round("phi1", 6).alias("phi1"),
        F.round("phi2", 6).alias("phi2"),
        F.round(
            F.col("c0")
            * (1.0 - F.col("phi1") * F.col("r1") - F.col("phi2") * F.col("r2")),
            6,
        ).alias("noise_var"),
        (
            (F.col("phi2") > -1.0)
            & (F.col("phi2") < 1.0 - F.abs(F.col("phi1")))
        ).alias("stationary"),
    )


# Drift forecast: shared text (h, last/first train values, n_train)
_DRIFT_F = (
    "(CAST(x_last AS DOUBLE) + CAST(h AS DOUBLE)"
    " * (CAST(x_last AS DOUBLE) - x_first) / (n_train - 1.0))"
)
# symmetric-APE term: 200·|x−f|/(x+f); counts are non-negative so
# |x|+|f| = x+f; both zero -> term 0 (the sMAPE edge convention)
def _smape(f: str) -> str:
    return (
        f"(CASE WHEN CAST(x AS DOUBLE) + {f} = 0.0 THEN 0.0"
        f" ELSE 200.0 * abs(CAST(x AS DOUBLE) - {f})"
        f" / (CAST(x AS DOUBLE) + {f}) END)"
    )


_SM_NAIVE = _smape("CAST(x_last AS DOUBLE)")
_SM_SNAIVE = _smape("CAST(x_lag7 AS DOUBLE)")
_SM_DRIFT = _smape(_DRIFT_F)
_AE_DRIFT = f"abs(CAST(x AS DOUBLE) - {_DRIFT_F})"


@query(
    "forecast_backtest_scorecard",
    category="FC-backtest",
    oracle=f"""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ), seq AS (
            SELECT event_type, day, x,
                   CAST(row_number() OVER (PARTITION BY event_type
                                           ORDER BY day) AS BIGINT) AS rn,
                   lag(x, 7) OVER (PARTITION BY event_type
                                   ORDER BY day) AS x_lag7,
                   CAST(count(*) OVER (PARTITION BY event_type)
                        AS BIGINT) AS n_days
            FROM daily
        ), marked AS (
            SELECT *, n_days - 7 AS n_train FROM seq
        ), train_stats AS (
            SELECT event_type,
                   CAST(sum(CASE WHEN rn > 7 AND rn <= n_train
                                 THEN abs(x - x_lag7) END) AS BIGINT)
                       AS scale_sum,
                   CAST(max(CASE WHEN rn = n_train THEN x END)
                        AS BIGINT) AS x_last,
                   CAST(max(CASE WHEN rn = 1 THEN x END) AS BIGINT)
                       AS x_first
            FROM marked GROUP BY event_type
        ), test AS (
            SELECT m.event_type, m.rn, m.x, m.x_lag7, m.n_train,
                   m.n_days, m.rn - m.n_train AS h,
                   t.x_last, t.x_first, t.scale_sum
            FROM marked m JOIN train_stats t
              ON m.event_type = t.event_type
            WHERE m.rn > m.n_train
        ), cum AS (
            SELECT event_type, rn, n_train, n_days, scale_sum,
                   sum(abs(x - x_last)) OVER w AS cae_naive,
                   sum(abs(x - x_lag7)) OVER w AS cae_snaive,
                   sum({_AE_DRIFT}) OVER w AS cae_drift,
                   sum({_SM_NAIVE}) OVER w AS csm_naive,
                   sum({_SM_SNAIVE}) OVER w AS csm_snaive,
                   sum({_SM_DRIFT}) OVER w AS csm_drift
            FROM test
            WINDOW w AS (PARTITION BY event_type ORDER BY rn)
        ), final AS (
            SELECT event_type,
                   CAST(scale_sum AS DOUBLE) / (n_train - 7) AS scale,
                   CAST(cae_naive AS DOUBLE) / 7.0 AS mae_naive,
                   CAST(cae_snaive AS DOUBLE) / 7.0 AS mae_snaive,
                   cae_drift / 7.0 AS mae_drift,
                   csm_naive / 7.0 AS sm_naive,
                   csm_snaive / 7.0 AS sm_snaive,
                   csm_drift / 7.0 AS sm_drift
            FROM cum WHERE rn = n_days
        )
        SELECT event_type, method,
               CAST(round(mae, 6) AS DOUBLE) AS mae,
               CAST(round(smape, 6) AS DOUBLE) AS smape,
               CAST(round(mae / scale, 6) AS DOUBLE) AS mase
        FROM (
            SELECT event_type, 'naive' AS method,
                   mae_naive AS mae, sm_naive AS smape, scale FROM final
            UNION ALL
            SELECT event_type, 'snaive', mae_snaive, sm_snaive, scale
            FROM final
            UNION ALL
            SELECT event_type, 'drift', mae_drift, sm_drift, scale
            FROM final
        )
        ORDER BY event_type, method
    """,
)
def forecast_backtest_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out forecast backtest per channel: the last 7 days are
    the test window; three baseline forecasters — naive (last train
    value), seasonal-naive (same weekday last week), drift (linear
    through first/last train points) — are scored by MAE, sMAPE, and
    MASE (MAE scaled by the in-sample seasonal-naive MAE, Hyndman's
    scale-free standard: MASE < 1 beats the seasonal baseline). This
    is the evaluation harness any real model must enter.

    Determinism: counts and the naive/seasonal-naive errors are exact
    integers; drift forecasts and sMAPE terms are shared-text double
    expressions; their 7-term sums use running window sums ordered by
    rn (sequential fold — order-pinned on both engines) read at the
    last row, never a hash-aggregated float sum.

    Scale: one rollup, two window passes over the |channels|×|days|
    frame, a k-row broadcast join of train stats onto 7k test rows.
    The 100 TB fact scan feeds exactly one aggregate.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    seq = daily.select(
        "event_type", "day", "x",
        F.row_number().over(w).cast("long").alias("rn"),
        F.lag("x", 7).over(w).alias("x_lag7"),
        F.count(F.lit(1))
        .over(Window.partitionBy("event_type"))
        .cast("long")
        .alias("n_days"),
    ).withColumn("n_train", F.col("n_days") - 7)
    train_stats = seq.groupBy("event_type").agg(
        F.sum(
            F.when(
                (F.col("rn") > 7) & (F.col("rn") <= F.col("n_train")),
                F.abs(F.col("x") - F.col("x_lag7")),
            )
        ).cast("long").alias("scale_sum"),
        F.max(F.when(F.col("rn") == F.col("n_train"), F.col("x")))
        .cast("long").alias("x_last"),
        F.max(F.when(F.col("rn") == 1, F.col("x")))
        .cast("long").alias("x_first"),
    )
    test = (
        seq.filter(F.col("rn") > F.col("n_train"))
        .join(F.broadcast(train_stats), "event_type")
        .withColumn("h", F.col("rn") - F.col("n_train"))
    )
    wc = Window.partitionBy("event_type").orderBy("rn")
    cum = test.select(
        "event_type", "rn", "n_train", "n_days", "scale_sum",
        F.sum(F.abs(F.col("x") - F.col("x_last"))).over(wc).alias("cae_naive"),
        F.sum(F.abs(F.col("x") - F.col("x_lag7"))).over(wc).alias("cae_snaive"),
        F.sum(F.expr(_AE_DRIFT)).over(wc).alias("cae_drift"),
        F.sum(F.expr(_SM_NAIVE)).over(wc).alias("csm_naive"),
        F.sum(F.expr(_SM_SNAIVE)).over(wc).alias("csm_snaive"),
        F.sum(F.expr(_SM_DRIFT)).over(wc).alias("csm_drift"),
    )
    final = cum.filter(F.col("rn") == F.col("n_days")).select(
        "event_type",
        (F.col("scale_sum").cast("double") / (F.col("n_train") - 7)).alias(
            "scale"
        ),
        (F.col("cae_naive").cast("double") / 7.0).alias("mae_naive"),
        (F.col("cae_snaive").cast("double") / 7.0).alias("mae_snaive"),
        (F.col("cae_drift") / 7.0).alias("mae_drift"),
        (F.col("csm_naive") / 7.0).alias("sm_naive"),
        (F.col("csm_snaive") / 7.0).alias("sm_snaive"),
        (F.col("csm_drift") / 7.0).alias("sm_drift"),
    )
    # explode an inline struct array, NOT a 3-way union: each union
    # branch would recompute the full lineage (6 fact scans observed —
    # the plan tripwire caught it); the explode keeps ONE lineage.
    rows = final.select(
        "event_type", "scale",
        F.explode(
            F.array(
                F.struct(
                    F.lit("naive").alias("method"),
                    F.col("mae_naive").alias("mae"),
                    F.col("sm_naive").alias("smape"),
                ),
                F.struct(
                    F.lit("snaive").alias("method"),
                    F.col("mae_snaive").alias("mae"),
                    F.col("sm_snaive").alias("smape"),
                ),
                F.struct(
                    F.lit("drift").alias("method"),
                    F.col("mae_drift").alias("mae"),
                    F.col("sm_drift").alias("smape"),
                ),
            )
        ).alias("mrow"),
    )
    return rows.select(
        "event_type",
        F.col("mrow.method").alias("method"),
        F.round(F.col("mrow.mae"), 6).alias("mae"),
        F.round(F.col("mrow.smape"), 6).alias("smape"),
        F.round(F.col("mrow.mae") / F.col("scale"), 6).alias("mase"),
    )


# z-normalized squared distance between two length-7 windows, from
# INTEGER moments: dp = dot product, sw/sww = window sum / sum-sq.
# d² = 2m(1 − (m·dp − swi·swj) / sqrt((m·swwi − swi²)(m·swwj − swj²)))
_MP_D2 = (
    "(14.0 * (1.0 - (CAST(7 * dp - swi * swj AS DOUBLE))"
    " / sqrt(CAST((7 * swwi - swi * swi) AS DOUBLE)"
    "        * CAST((7 * swwj - swj * swj) AS DOUBLE))))"
)


@query(
    "matrix_profile_daily",
    category="FC-matrixprofile",
    oracle=f"""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ), seq AS (
            SELECT event_type, x,
                   CAST(row_number() OVER (PARTITION BY event_type
                                           ORDER BY day) AS BIGINT) AS rn,
                   CAST(count(*) OVER (PARTITION BY event_type)
                        AS BIGINT) AS n
            FROM daily
        ), wins AS (
            SELECT event_type, rn AS i,
                   CAST(sum(x) OVER w7 AS BIGINT) AS sw,
                   CAST(sum(x * x) OVER w7 AS BIGINT) AS sww
            FROM seq
            WINDOW w7 AS (PARTITION BY event_type ORDER BY rn
                          ROWS BETWEEN CURRENT ROW AND 6 FOLLOWING)
            QUALIFY rn <= n - 6
        ), cand AS (
            SELECT a.event_type, a.i, b.i AS j,
                   a.sw AS swi, a.sww AS swwi,
                   b.sw AS swj, b.sww AS swwj
            FROM wins a JOIN wins b
              ON a.event_type = b.event_type AND abs(a.i - b.i) >= 4
        ), dots AS (
            SELECT c.event_type, c.i, c.j, c.swi, c.swwi, c.swj, c.swwj,
                   CAST(sum(sa.x * sb.x) AS BIGINT) AS dp
            FROM cand c
            CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS k) ks
            JOIN seq sa ON sa.event_type = c.event_type
                       AND sa.rn = c.i + ks.k
            JOIN seq sb ON sb.event_type = c.event_type
                       AND sb.rn = c.j + ks.k
            GROUP BY c.event_type, c.i, c.j, c.swi, c.swwi, c.swj, c.swwj
        ), scored AS (
            SELECT event_type, i, j,
                   CAST(round({_MP_D2}, 6) AS DOUBLE) AS d2,
                   row_number() OVER (
                       PARTITION BY event_type, i
                       ORDER BY CAST(round({_MP_D2}, 6) AS DOUBLE), j
                   ) AS rk
            FROM dots
        )
        SELECT event_type, i AS window_start, j AS motif_match,
               d2 AS znorm_dist_sq
        FROM scored WHERE rk = 1
        ORDER BY event_type, window_start
    """,
)
def matrix_profile_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matrix profile over each channel's daily-count series (window
    m = 7, trivial-match exclusion |i−j| ≥ 4): for every 7-day
    subsequence, the z-normalized squared distance to its nearest
    non-overlapping neighbor — low values are MOTIFS (repeated weekly
    shapes), high values are DISCORDS (the strongest anomaly
    primitive in the modern time-series toolkit, Keogh's matrix
    profile reduced to its exact O(n²·m) definition).

    Determinism: window moments and dot products are exact integer
    sums; d² is one shared-text double expression over them; the
    per-window argmin orders by (rounded d², j) so ties are pinned.

    Scale: pairs live at CALENDAR grain — (days−6)² per channel, a
    bounded frame after one rollup; each window carries its 7 values
    as an array so the dot product is JVM zip_with/aggregate inside
    the pair join — no join back to the daily frame. For year-long
    hourly series swap the pair join for the MASS/FFT recurrence —
    the contract (exact z-norm distance) stays the same.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    seq = daily.select(
        "event_type", "x",
        F.row_number().over(w).cast("long").alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("event_type"))
        .cast("long")
        .alias("n"),
    )
    # each window carries its 7 values as an ARRAY (collect_list over
    # the rows frame is frame-ordered), so the pair join computes the
    # dot product JVM-side via zip_with/aggregate — joining back to
    # the daily frame per (pair, k) would re-derive the rollup
    # lineage twice more (4 fact scans observed before this form)
    w7 = Window.partitionBy("event_type").orderBy("rn").rowsBetween(0, 6)
    wins = (
        seq.select(
            "event_type",
            F.col("rn").alias("i"),
            F.col("n"),
            F.sum("x").over(w7).cast("long").alias("sw"),
            F.sum(F.col("x") * F.col("x")).over(w7).cast("long").alias("sww"),
            F.collect_list("x").over(w7).alias("vec"),
        )
        .filter(F.col("i") <= F.col("n") - 6)
        .drop("n")
    )
    a = wins.alias("a")
    b = wins.alias("b")
    dots = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.abs(F.col("a.i") - F.col("b.i")) >= 4),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.i").alias("i"),
        F.col("b.i").alias("j"),
        F.col("a.sw").alias("swi"),
        F.col("a.sww").alias("swwi"),
        F.col("b.sw").alias("swj"),
        F.col("b.sww").alias("swwj"),
        F.expr(
            "aggregate(zip_with(a.vec, b.vec, (x, y) -> x * y),"
            " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        ).alias("dp"),
    )
    d2 = F.round(F.expr(_MP_D2), 6)
    w_rank = Window.partitionBy("event_type", "i").orderBy(
        d2.asc(), F.col("j").asc()
    )
    scored = dots.select(
        "event_type", "i", "j",
        d2.alias("d2"),
        F.row_number().over(w_rank).alias("rk"),
    )
    return (
        scored.filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("i").alias("window_start"),
            F.col("j").alias("motif_match"),
            F.col("d2").alias("znorm_dist_sq"),
        )
    )


@query(
    "conformal_interval_coverage",
    category="FC-conformal",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ), seq AS (
            SELECT event_type, x,
                   CAST(row_number() OVER (PARTITION BY event_type
                                           ORDER BY day) AS BIGINT) AS rn,
                   lag(x, 7) OVER (PARTITION BY event_type
                                   ORDER BY day) AS x_lag7,
                   CAST(count(*) OVER (PARTITION BY event_type)
                        AS BIGINT) AS n_days
            FROM daily
        ), resid AS (
            SELECT event_type, rn, n_days, n_days - 7 AS n_train,
                   abs(x - x_lag7) AS r
            FROM seq WHERE x_lag7 IS NOT NULL
        ), cal AS (
            SELECT event_type, r,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY r, rn) AS rk,
                   count(*) OVER (PARTITION BY event_type) AS n_cal
            FROM resid WHERE rn <= n_train
        ), qhat AS (
            SELECT event_type, n_cal,
                   CAST(max(CASE WHEN rk = CAST(ceil(0.9 * (n_cal + 1))
                                               AS BIGINT)
                                 THEN r END) AS BIGINT) AS q90
            FROM cal GROUP BY event_type, n_cal
        )
        SELECT t.event_type, q.n_cal, q.q90,
               CAST(count(*) AS BIGINT) AS n_test,
               CAST(sum(CASE WHEN t.r <= q.q90 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_covered,
               CAST(round(CAST(sum(CASE WHEN t.r <= q.q90 THEN 1 ELSE 0 END)
                               AS DOUBLE) / count(*), 6) AS DOUBLE)
                   AS coverage
        FROM resid t JOIN qhat q ON q.event_type = t.event_type
        WHERE t.rn > t.n_train
        GROUP BY t.event_type, q.n_cal, q.q90
        ORDER BY t.event_type
    """,
)
def conformal_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals around the seasonal-naive
    forecast: calibration residuals |x_t − x_{t−7}| on the training
    days give q̂ = the ⌈0.9(n+1)⌉-th order statistic, and the final
    7 days check EMPIRICAL COVERAGE of the distribution-free 90%
    interval — the finite-sample-valid uncertainty wrapper (Vovk;
    the method behind every modern "prediction interval without
    distributional assumptions").

    Determinism: residuals are exact integers; q̂ is picked by exact
    rank under an (r, rn) total order (no interpolation); coverage
    is one integer ratio.

    Scale: the same one-rollup + window shape as the backtest
    scorecard; the q̂ frame is k rows broadcast onto 7k test rows.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    seq = daily.select(
        "event_type", "x",
        F.row_number().over(w).cast("long").alias("rn"),
        F.lag("x", 7).over(w).alias("x_lag7"),
        F.count(F.lit(1))
        .over(Window.partitionBy("event_type"))
        .cast("long")
        .alias("n_days"),
    )
    resid = (
        seq.filter(F.col("x_lag7").isNotNull())
        .withColumn("n_train", F.col("n_days") - 7)
        .withColumn("r", F.abs(F.col("x") - F.col("x_lag7")))
    )
    cal = resid.filter(F.col("rn") <= F.col("n_train")).select(
        "event_type", "r",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("r", "rn"))
        .alias("rk"),
        F.count(F.lit(1))
        .over(Window.partitionBy("event_type"))
        .alias("n_cal"),
    )
    qhat = cal.groupBy("event_type", "n_cal").agg(
        F.max(
            F.when(
                F.col("rk")
                == F.ceil(0.9 * (F.col("n_cal") + 1)).cast("long"),
                F.col("r"),
            )
        ).cast("long").alias("q90")
    )
    test = resid.filter(F.col("rn") > F.col("n_train"))
    return (
        test.join(F.broadcast(qhat), "event_type")
        .groupBy("event_type", "n_cal", "q90")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(F.when(F.col("r") <= F.col("q90"), 1).otherwise(0))
            .cast("long").alias("n_covered"),
            F.round(
                F.sum(
                    F.when(F.col("r") <= F.col("q90"), 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("coverage"),
        )
    )


@query(
    "conformal_monitor_timeline",
    category="FC-conformal",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ), seq AS (
            SELECT event_type, x,
                   CAST(row_number() OVER (PARTITION BY event_type
                                           ORDER BY day) AS BIGINT) AS rn,
                   lag(x, 7) OVER (PARTITION BY event_type
                                   ORDER BY day) AS x_lag7
            FROM daily
        ), resid AS (
            SELECT event_type, rn, x, x_lag7 AS pred,
                   abs(x - x_lag7) AS r
            FROM seq WHERE x_lag7 IS NOT NULL
        ), pfx AS (
            SELECT t.event_type, t.rn, t.x, t.pred, t.r,
                   c.r AS cr, c.rn AS crn,
                   CAST(count(*) OVER (PARTITION BY t.event_type, t.rn)
                        AS BIGINT) AS n_cal,
                   row_number() OVER (PARTITION BY t.event_type, t.rn
                                      ORDER BY c.r, c.rn) AS rk
            FROM resid t JOIN resid c
              ON c.event_type = t.event_type AND c.rn < t.rn
        )
        SELECT event_type, rn, x, pred, r, n_cal,
               CAST(max(CASE WHEN rk = CAST(ceil(0.9 * (n_cal + 1))
                                            AS BIGINT)
                             THEN cr END) AS BIGINT) AS q90,
               r <= max(CASE WHEN rk = CAST(ceil(0.9 * (n_cal + 1))
                                            AS BIGINT)
                             THEN cr END) AS covered
        FROM pfx
        WHERE n_cal >= 9
        GROUP BY event_type, rn, x, pred, r, n_cal
        ORDER BY event_type, rn
    """,
)
def conformal_monitor_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE split-conformal monitor timeline — the batch twin of
    streaming/stateful.py::conformal_monitor_stream: for every day t
    the calibration set is ALL residuals |x − x_lag7| observed before
    t (expanding window, the adaptive-conformal deployment mode), and
    q̂_t is the ⌈0.9(n_cal+1)⌉-th order statistic of that prefix.
    Emits the per-day interval width and whether the day's own
    residual was covered — the timeline a drift monitor alerts on.
    Warmup rows with n_cal < 9 are withheld (the finite-sample rank
    ⌈0.9(n+1)⌉ only lands inside the sample from n = 9).

    Determinism: residuals are exact integers; each q̂ is picked by
    exact rank under the (r, rn) total order — the selected VALUE is
    tie-order invariant, which is what lets the streaming twin keep a
    plain sorted multiset. covered is an integer comparison.

    Scale: the prefix self-join is at CALENDAR GRAIN — the facts are
    rolled up to k·days rows first, so pair volume is Σ days²/2 per
    key (~2k rows per key-year), not events². The rollup itself is
    the only full-data shuffle.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    seq = daily.select(
        "event_type", "x",
        F.row_number().over(w).cast("long").alias("rn"),
        F.lag("x", 7).over(w).alias("x_lag7"),
    )
    # resid feeds BOTH sides of the prefix self-join — persist the
    # tiny calendar-grain frame so the daily rollup (the only
    # full-data pass) is derived once, not once per join side
    resid = (
        seq.filter(F.col("x_lag7").isNotNull())
        .select(
            "event_type", "rn", "x",
            F.col("x_lag7").alias("pred"),
            F.abs(F.col("x") - F.col("x_lag7")).alias("r"),
        )
        .persist()
    )
    t = resid.alias("t")
    c = resid.select(
        "event_type",
        F.col("rn").alias("crn"),
        F.col("r").alias("cr"),
    ).alias("c")
    pfx = (
        t.join(c, "event_type")
        .filter(F.col("crn") < F.col("rn"))
        .select(
            "event_type", "rn", "x", "pred", "r", "cr", "crn",
            F.count(F.lit(1))
            .over(Window.partitionBy("event_type", "rn"))
            .cast("long")
            .alias("n_cal"),
            F.row_number()
            .over(
                Window.partitionBy("event_type", "rn").orderBy("cr", "crn")
            )
            .alias("rk"),
        )
    )
    qsel = F.max(
        F.when(
            F.col("rk") == F.ceil(0.9 * (F.col("n_cal") + 1)).cast("long"),
            F.col("cr"),
        )
    )
    return (
        pfx.filter(F.col("n_cal") >= 9)
        .groupBy("event_type", "rn", "x", "pred", "r", "n_cal")
        .agg(
            qsel.cast("long").alias("q90"),
            (F.col("r") <= qsel).alias("covered"),
        )
    )


# Shared hourly-grid/window constants for the m=24 matrix-profile
# family. Builder grids, the MASS/STOMP UDFs, and both oracle texts
# all derive from these four values (ADVICE r5: they used to be
# duplicated as bare literals in three places that had to stay in
# sync by hand).
_MP24_M = 24       # subsequence window length (daily shape)
_MP24_EXCL = 12    # trivial-match exclusion |i-j| >= excl
_MP24_N = 240      # dense hourly grid length per channel
_MP24_NW = _MP24_N - _MP24_M + 1  # 217 windows

# m=24 twin of _MP_D2 for the hourly-grain profile (shared text: the
# Spark builder F.expr's this exact string; the oracle embeds it)
_MP24_D2 = (
    f"({2 * _MP24_M}.0 * (1.0 -"
    f" (CAST({_MP24_M} * dp - swi * swj AS DOUBLE))"
    f" / sqrt(CAST(({_MP24_M} * swwi - swi * swi) AS DOUBLE)"
    f"        * CAST(({_MP24_M} * swwj - swj * swj) AS DOUBLE))))"
)


@query(
    "matrix_profile_mass_gate",
    category="FC-matrixprofile",
    oracle=f"""
        WITH hourly AS (
            SELECT event_type,
                   CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hr,
                   CAST(count(*) AS BIGINT) AS x
            FROM events
            GROUP BY event_type, CAST(floor(epoch(ts)) AS BIGINT) // 3600
        ), bounds AS (
            SELECT event_type, min(hr) AS h0 FROM hourly GROUP BY event_type
        ), grid AS (
            SELECT b.event_type, CAST(ks.k + 1 AS BIGINT) AS rn,
                   b.h0 + ks.k AS hr
            FROM bounds b CROSS JOIN
                 (SELECT unnest(generate_series(0, {_MP24_N - 1})) AS k) ks
        ), series AS (
            SELECT g.event_type, g.rn, COALESCE(h.x, 0) AS x
            FROM grid g LEFT JOIN hourly h
              ON g.event_type = h.event_type AND g.hr = h.hr
        ), wins AS (
            SELECT event_type, rn AS i,
                   CAST(sum(x) OVER w24 AS BIGINT) AS sw,
                   CAST(sum(x * x) OVER w24 AS BIGINT) AS sww,
                   list(x) OVER w24 AS vec
            FROM series
            WINDOW w24 AS (PARTITION BY event_type ORDER BY rn
                           ROWS BETWEEN CURRENT ROW AND {_MP24_M - 1} FOLLOWING)
            QUALIFY rn <= {_MP24_NW} AND ({_MP24_M} * sww - sw * sw) > 0
        ), dots AS (
            -- windows carry their 24 values as a LIST (frame-ordered,
            -- the twin of the Spark side's collect_list over w24): the
            -- dot product is one list_zip/list_aggregate per pair; the
            -- first-draft per-k join back to series was ~400x slower
            -- (nested-loop-prone 5M-row join vs 210k in-row folds)
            SELECT a.event_type, a.i, b.i AS j,
                   a.sw AS swi, a.sww AS swwi,
                   b.sw AS swj, b.sww AS swwj,
                   CAST(list_aggregate(list_transform(
                            list_zip(a.vec, b.vec), p -> p[1] * p[2]),
                        'sum') AS BIGINT) AS dp
            FROM wins a JOIN wins b
              ON a.event_type = b.event_type AND abs(a.i - b.i) >= {_MP24_EXCL}
        ), scored AS (
            SELECT event_type, i, j,
                   CAST(round({_MP24_D2}, 6) AS DOUBLE) AS d2,
                   row_number() OVER (
                       PARTITION BY event_type, i
                       ORDER BY CAST(round({_MP24_D2}, 6) AS DOUBLE), j
                   ) AS rk
            FROM dots
        )
        SELECT event_type, i AS window_start, j AS motif_match,
               d2 AS znorm_dist_sq, TRUE AS mass_agrees
        FROM scored WHERE rk = 1
        ORDER BY event_type, window_start
    """,
)
def matrix_profile_mass_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matrix profile on a LONG series via MASS (Mueen's FFT-based
    similarity search), certified in-query against the exact
    quadratic form — the O(n log n)-per-window path the daily-grain
    profile's docstring promises for year-long hourly series. The
    series is each channel's hourly count on a DENSE 240-hour grid
    anchored at the channel's first hour (gap hours are true zeros),
    window m = 24 (daily shape), exclusion |i−j| ≥ 12, zero-variance
    windows dropped.

    Gate construction (the house self-certifying pattern, like
    ann_recall_gates): the EMITTED profile — nearest neighbor and
    rounded z-norm d² per window — comes from the exact-integer
    quadratic form (JVM zip_with dot products over array-carried
    windows, shared-text double formula), which the oracle replicates
    verbatim; the MASS path (one rfft of the padded series per
    channel, one rfft·multiply·irfft per query window, float
    mean/σ normalization) runs beside it in an Arrow-batched
    applyInPandas and must agree with the exact minimum to 1e-4 —
    ``mass_agrees`` hash-checks as constant TRUE. FFT error here is
    ~1e-9 absolute; 1e-4 leaves margin while failing loudly on any
    indexing/normalization bug.

    Scale: the quadratic certifier is the bounded part (217² pairs
    per channel on the pinned slice). When to ship which path is
    MEASURED, not assumed (SCALE.md §16):
    MASS's O(n log n)-per-window cost is independent of m, so it wins
    for LONG windows (≥7× faster at m=512) while the BLAS/zip_with
    quadratic form stays faster for short windows like this m=24 —
    and STOMP's incremental dot is the right third step for full
    profiles at massive n. All paths are embarrassingly parallel over
    channels (applyInPandas one shuffle); the dense grid +
    prefix-moment construction is a rollup + window, not a self-join.
    """
    import numpy as np
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        (F.unix_timestamp("ts").cast("long") / F.lit(3600))
        .cast("long")
        .alias("hr"),
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    bounds = hourly.groupBy("event_type").agg(F.min("hr").alias("h0"))
    grid = bounds.select(
        "event_type",
        "h0",
        F.explode(F.sequence(F.lit(0), F.lit(_MP24_N - 1))).alias("k"),
    ).select(
        "event_type",
        (F.col("k") + 1).cast("long").alias("rn"),
        (F.col("h0") + F.col("k")).alias("hr"),
    )
    # series feeds the JVM window pass AND the MASS UDF — persist so
    # both consumers read the cached 240×channels frame, not the scan
    series = (
        grid.join(hourly, ["event_type", "hr"], "left")
        .select(
            "event_type", "rn", F.coalesce(F.col("x"), F.lit(0)).alias("x")
        )
        .persist()
    )
    w24 = Window.partitionBy("event_type").orderBy("rn").rowsBetween(0, _MP24_M - 1)
    wins = (
        series.select(
            "event_type",
            F.col("rn").alias("i"),
            F.sum("x").over(w24).cast("long").alias("sw"),
            F.sum(F.col("x") * F.col("x")).over(w24).cast("long").alias("sww"),
            F.collect_list("x").over(w24).alias("vec"),
        )
        .filter(
            (F.col("i") <= _MP24_NW)
            & (_MP24_M * F.col("sww") - F.col("sw") * F.col("sw") > 0)
        )
    )
    a = wins.alias("a")
    b = wins.alias("b")
    dots = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.abs(F.col("a.i") - F.col("b.i")) >= _MP24_EXCL),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.i").alias("i"),
        F.col("b.i").alias("j"),
        F.col("a.sw").alias("swi"),
        F.col("a.sww").alias("swwi"),
        F.col("b.sw").alias("swj"),
        F.col("b.sww").alias("swwj"),
        F.expr(
            "aggregate(zip_with(a.vec, b.vec, (x, y) -> x * y),"
            " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        ).alias("dp"),
    )
    d2_raw = F.expr(_MP24_D2)
    w_rank = Window.partitionBy("event_type", "i").orderBy(
        F.round(d2_raw, 6).asc(), F.col("j").asc()
    )
    quad = (
        dots.select(
            "event_type", "i", "j",
            d2_raw.alias("d2_raw"),
            F.round(d2_raw, 6).alias("d2"),
            F.row_number().over(w_rank).alias("rk"),
        )
        .filter(F.col("rk") == 1)
        .drop("rk")
    )

    def mass(pdf: pd.DataFrame) -> pd.DataFrame:
        m, excl = _MP24_M, _MP24_EXCL
        pdf = pdf.sort_values("rn")
        # the builder's dense grid delivers exactly N rows per group;
        # fail loudly if that contract ever breaks (ADVICE r5)
        n = len(pdf)
        assert n == _MP24_N, f"dense grid gave {n} rows, want {_MP24_N}"
        x = pdf["x"].to_numpy(dtype="float64")
        et = pdf["event_type"].iloc[0]
        nw = n - m + 1
        L = 2 * n  # >= n + m - 1: linear convolution, no wraparound
        xf = np.fft.rfft(x, L)
        c1 = np.concatenate([[0.0], np.cumsum(x)])
        c2 = np.concatenate([[0.0], np.cumsum(x * x)])
        sw = c1[m : nw + m] - c1[:nw]
        sww = c2[m : nw + m] - c2[:nw]
        var24 = m * sww - sw * sw  # exact integers in float64
        valid = var24 > 0.5
        js = np.arange(nw)
        rows = []
        for i in range(nw):
            if not valid[i]:
                continue
            qf = np.fft.rfft(x[i : i + m][::-1], L)
            dp = np.fft.irfft(xf * qf, L)[m - 1 : m - 1 + nw]
            with np.errstate(divide="ignore", invalid="ignore"):
                d2 = 2.0 * m * (
                    1.0 - (m * dp - sw[i] * sw) / np.sqrt(var24[i] * var24)
                )
            mask = valid & (np.abs(js - i) >= excl)
            if not mask.any():
                continue
            rows.append(
                (et, i + 1, float(np.where(mask, d2, np.inf).min()))
            )
        return pd.DataFrame(rows, columns=["event_type", "i", "mass_d2"])

    mass_profile = series.groupBy("event_type").applyInPandas(
        mass, "event_type string, i long, mass_d2 double"
    )
    return (
        quad.join(mass_profile, ["event_type", "i"])
        .select(
            "event_type",
            F.col("i").alias("window_start"),
            F.col("j").alias("motif_match"),
            F.col("d2").alias("znorm_dist_sq"),
            (F.abs(F.col("d2_raw") - F.col("mass_d2")) <= 1e-4).alias(
                "mass_agrees"
            ),
        )
    )


def _dtw_banded_dp(xa, xb, band: int = 7):
    """Sakoe-Chiba banded DTW on integer series: exact int64 min/+
    DP. Returns the DTW distance as int, or None when the end cell
    is unreachable within the band (|len(xa)-len(xb)| > band) —
    callers must treat None as 'no distance', never as the 'big'
    sentinel (ADVICE r5 medium: the sentinel used to leak out as a
    ~2.3e18 garbage distance)."""
    import numpy as np

    xa = np.asarray(xa, dtype="int64")
    xb = np.asarray(xb, dtype="int64")
    n, m = len(xa), len(xb)
    big = np.iinfo("int64").max // 4  # inf that cannot overflow
    D = np.full((n + 1, m + 1), big, dtype="int64")
    D[0, 0] = 0
    for i in range(1, n + 1):
        lo, hi = max(1, i - band), min(m, i + band)
        for j in range(lo, hi + 1):
            c = abs(int(xa[i - 1]) - int(xb[j - 1]))
            D[i, j] = c + min(D[i - 1, j], D[i, j - 1], D[i - 1, j - 1])
    return None if D[n, m] >= big else int(D[n, m])


@query(
    "dtw_banded_channel_pairs",
    category="FC-dtw",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ), seq AS (
            SELECT event_type, x,
                   CAST(row_number() OVER (PARTITION BY event_type
                                           ORDER BY day) AS BIGINT) AS rn
            FROM daily QUALIFY rn <= 28
        ), lens AS (
            SELECT event_type, CAST(max(rn) AS BIGINT) AS n
            FROM seq GROUP BY event_type
        ), pairs AS (
            SELECT a.event_type AS ca, b.event_type AS cb,
                   a.n AS na, b.n AS nb
            FROM lens a JOIN lens b ON a.event_type < b.event_type
            -- pairs whose length gap exceeds the band have an
            -- unreachable end cell (|na-nb| > 7): exclude them so both
            -- engines agree the pair carries no DTW distance
            WHERE abs(a.n - b.n) <= 7
        ), cells AS (
            -- anti-diagonal DP: the working set carries diagonal d
            -- (cur=1) plus d-1 (cur=0); a cell on d+1 takes
            -- cost + min over its in-band predecessors ((1,0)/(0,1)
            -- from d, (1,1) from d-1); out-of-band/missing
            -- predecessors are simply absent from the min
            WITH RECURSIVE dp AS (
                SELECT p.ca, p.cb, 2 AS d, 1 AS i, 1 AS j,
                       CAST(abs(sa.x - sb.x) AS BIGINT) AS val,
                       1 AS cur, p.na, p.nb
                FROM pairs p
                JOIN seq sa ON sa.event_type = p.ca AND sa.rn = 1
                JOIN seq sb ON sb.event_type = p.cb AND sb.rn = 1
                UNION ALL
                SELECT * FROM (
                    WITH w AS (SELECT * FROM dp)
                    SELECT n.ca, n.cb, n.d, n.i, n.j, n.val,
                           1 AS cur, n.na, n.nb
                    FROM (
                        SELECT g.ca, g.cb, g.d, g.i, g.j,
                               CAST(abs(sa.x - sb.x) AS BIGINT)
                                   + min(g.prev) AS val,
                               g.na, g.nb
                        FROM (
                            SELECT w.ca, w.cb, w.d + 1 AS d,
                                   w.i + c0.di AS i, w.j + c0.dj AS j,
                                   w.val AS prev, w.na, w.nb
                            FROM w
                            CROSS JOIN (VALUES (1, 0), (0, 1), (1, 1))
                                 AS c0(di, dj)
                            WHERE ((w.cur = 1 AND c0.di + c0.dj = 1)
                                OR (w.cur = 0 AND c0.di = 1 AND c0.dj = 1))
                              AND w.i + c0.di <= w.na
                              AND w.j + c0.dj <= w.nb
                              AND abs((w.i + c0.di) - (w.j + c0.dj)) <= 7
                        ) g
                        JOIN seq sa ON sa.event_type = g.ca AND sa.rn = g.i
                        JOIN seq sb ON sb.event_type = g.cb AND sb.rn = g.j
                        GROUP BY g.ca, g.cb, g.d, g.i, g.j, g.na, g.nb,
                                 sa.x, sb.x
                    ) n
                    UNION ALL
                    SELECT w.ca, w.cb, w.d + 1 AS d, w.i, w.j, w.val,
                           0 AS cur, w.na, w.nb
                    FROM w WHERE w.cur = 1 AND w.d < w.na + w.nb
                )
            )
            SELECT * FROM dp
        )
        SELECT ca AS channel_a, cb AS channel_b, na AS len_a, nb AS len_b,
               val AS dtw_distance
        FROM cells
        WHERE cur = 1 AND i = na AND j = nb
        ORDER BY channel_a, channel_b
    """,
)
def dtw_banded_channel_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded Dynamic Time Warping distance between every pair of
    channels' daily-count series (first 28 days, Sakoe-Chiba band
    w = 7): the ELASTIC time-series distance — alignment may stretch
    or compress time within the band — that Euclidean/z-norm
    distances (the matrix-profile family) cannot express. The
    classic clustering/similarity primitive for shape-matching
    series with phase drift.

    Determinism is total: costs are |x_i − y_j| on integer counts
    and the DP is min/+ over integers — the distance is one exact
    BIGINT on both engines. The oracle replicates the DP as a
    recursive CTE marching anti-diagonals (band-pruned, missing
    predecessors excluded from the min), verified cell-for-cell
    against an independent quadratic reference.

    Scale: the fact table collapses to |channels|×28 rows in one
    rollup; each pair carries its two series as ARRAYS into an
    Arrow-batched pandas UDF computing the O(n·w) banded DP — pairs
    are embarrassingly parallel, state is one DP frontier per pair,
    and nothing ever joins back to the facts. For k channels the
    pair frame is k(k−1)/2 rows; at large k, block with the same
    LSH/bucketing used by the dedup family before pairing.
    """
    import pandas as pd
    from pyspark.sql.types import LongType

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    seq = daily.select(
        "event_type", "x", F.row_number().over(w).cast("long").alias("rn")
    ).filter(F.col("rn") <= 28)
    arrs = seq.groupBy("event_type").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("rn"), F.col("x")))
            ),
            lambda s: s["x"],
        ).alias("vals"),
        F.max("rn").cast("long").alias("n"),
    )
    a = arrs.select(
        F.col("event_type").alias("channel_a"),
        F.col("vals").alias("va"),
        F.col("n").alias("len_a"),
    )
    b = arrs.select(
        F.col("event_type").alias("channel_b"),
        F.col("vals").alias("vb"),
        F.col("n").alias("len_b"),
    )
    pairs = a.join(
        F.broadcast(b), F.col("channel_a") < F.col("channel_b")
    ).filter(
        # |len_a - len_b| > band => D[n,m] is outside the Sakoe-Chiba
        # band and unreachable: drop the pair (mirrors the oracle's
        # pairs-CTE WHERE; ADVICE r5 medium fix)
        F.abs(F.col("len_a") - F.col("len_b")) <= 7
    )

    @F.pandas_udf(LongType())
    def dtw_band(va: pd.Series, vb: pd.Series) -> pd.Series:
        out = [
            _dtw_banded_dp(xa, xb, band=7) for xa, xb in zip(va, vb)
        ]
        return pd.Series(out, dtype="Int64")

    return (
        pairs.select(
            "channel_a", "channel_b", "len_a", "len_b",
            dtw_band(F.col("va"), F.col("vb")).alias("dtw_distance"),
        )
    )


# ---- Holt-Winters additive (m=7) — engine-shared fold texts.
# Smoothing constants are DYADIC (0.5, 0.25): every fold operation is
# +,−,× by exactly-representable doubles, so the carried state is
# bit-identical across engines with NO per-step requantization (the
# HMM fold needs round6 because of ln/exp; this one provably doesn't
# — the NEXT.md 'folds with only +,·,/ are bit-exact' house lesson).
_HW_ALPHA, _HW_BETA, _HW_GAMMA = "0.5", "0.25", "0.25"


def _hw_lnew(x: str, s_old: str, l: str, b: str) -> str:
    return (
        f"({_HW_ALPHA} * (CAST({x} AS DOUBLE) - {s_old})"
        f" + (1.0 - {_HW_ALPHA}) * ({l} + {b}))"
    )


def _hw_bnew(l_new: str, l: str, b: str) -> str:
    return (
        f"({_HW_BETA} * ({l_new} - {l}) + (1.0 - {_HW_BETA}) * {b})"
    )


def _hw_snew(x: str, l_new: str, s_old: str) -> str:
    return (
        f"({_HW_GAMMA} * (CAST({x} AS DOUBLE) - {l_new})"
        f" + (1.0 - {_HW_GAMMA}) * {s_old})"
    )


@query(
    "holt_winters_additive_fit",
    category="FC-holtwinters",
    oracle=f"""
        WITH RECURSIVE daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ), seq AS (
            SELECT event_type, day, x,
                   CAST(row_number() OVER (PARTITION BY event_type
                                           ORDER BY day) AS BIGINT) AS rn,
                   CAST(count(*) OVER (PARTITION BY event_type)
                        AS BIGINT) AS n
            FROM daily
        ), eligible AS (
            SELECT * FROM seq WHERE n >= 15
        ), init AS (
            SELECT event_type,
                   CAST(sum(CASE WHEN rn <= 7 THEN x END) AS BIGINT) AS s1,
                   CAST(sum(CASE WHEN rn BETWEEN 8 AND 14 THEN x END)
                        AS BIGINT) AS s2
            FROM eligible GROUP BY event_type
        ), seeds AS (
            SELECT i.event_type,
                   CAST(s1 AS DOUBLE) / 7.0 AS l0,
                   (CAST(s2 AS DOUBLE) / 7.0 - CAST(s1 AS DOUBLE) / 7.0)
                       / 7.0 AS b0,
                   r.ring0
            FROM init i JOIN (
                SELECT e.event_type,
                       list(CAST(e.x AS DOUBLE)
                            - CAST(i2.s1 AS DOUBLE) / 7.0
                            ORDER BY e.rn) AS ring0
                FROM eligible e JOIN init i2
                  ON i2.event_type = e.event_type
                WHERE e.rn <= 7
                GROUP BY e.event_type
            ) r ON r.event_type = i.event_type
        ), fold AS (
            SELECT event_type, CAST(7 AS BIGINT) AS rn,
                   CAST(NULL AS DATE) AS day, CAST(NULL AS BIGINT) AS x,
                   CAST(NULL AS DOUBLE) AS f, CAST(NULL AS DOUBLE) AS s_old,
                   l0 AS l, b0 AS b, ring0 AS ring
            FROM seeds
            UNION ALL
            SELECT s.event_type, s.rn, s.day, s.x,
                   (r.l + r.b + r.ring[CAST((s.rn - 1) % 7 + 1 AS INT)]) AS f,
                   r.ring[CAST((s.rn - 1) % 7 + 1 AS INT)] AS s_old,
                   {_hw_lnew("s.x", "r.ring[CAST((s.rn - 1) % 7 + 1 AS INT)]", "r.l", "r.b")} AS l,
                   {_hw_bnew(_hw_lnew("s.x", "r.ring[CAST((s.rn - 1) % 7 + 1 AS INT)]", "r.l", "r.b"), "r.l", "r.b")} AS b,
                   r.ring[1:CAST((s.rn - 1) % 7 AS INT)]
                       || [{_hw_snew("s.x", _hw_lnew("s.x", "r.ring[CAST((s.rn - 1) % 7 + 1 AS INT)]", "r.l", "r.b"), "r.ring[CAST((s.rn - 1) % 7 + 1 AS INT)]")}]
                       || r.ring[CAST((s.rn - 1) % 7 + 2 AS INT):7] AS ring
            FROM fold r JOIN eligible s
              ON s.event_type = r.event_type AND s.rn = r.rn + 1
        )
        SELECT event_type, day, x,
               CAST(round(f, 6) AS DOUBLE) AS forecast,
               CAST(round(x - f, 6) AS DOUBLE) AS resid,
               CAST(round(l, 6) AS DOUBLE) AS level,
               CAST(round(b, 6) AS DOUBLE) AS trend,
               CAST(round(s_old, 6) AS DOUBLE) AS seasonal
        FROM fold WHERE rn >= 8
        ORDER BY event_type, day
    """,
)
def holt_winters_additive_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE triple exponential smoothing (m = 7,
    α = 0.5, β = γ = 0.25) fitted over each channel's daily counts —
    level + trend + weekly seasonal ring, the classic seasonal
    forecaster the backtest scorecard's baselines bracket. Emits the
    one-step-ahead fitted forecast, residual, and the smoothed
    state per day from t = m+1 (textbook init: level = week-1 mean,
    trend = (week-2 mean − week-1 mean)/m, seasonal ring =
    week-1 deviations).

    Determinism: the smoothing constants are DYADIC, so the fold is
    exclusively +,−,× on exactly-representable doubles — bit-exact
    across engines with no per-step requantization (contrast the
    HMM fold's round6: that one needs it because of ln/exp). The
    recursive-CTE oracle carries (level, trend, ring) per step and
    must agree to the last bit before the final round6.

    Scale: one rollup to |channels|×|days|; one JVM fold per channel
    (aggregate over the array-packed series, whole-stage codegen);
    seeds are two integer sums per channel. Millions of keys = the
    same groupBy+fold, state is 9 doubles per key.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    packed = (
        daily.groupBy("event_type")
        .agg(
            F.array_sort(F.collect_list(F.struct("day", "x"))).alias("series")
        )
        .filter(F.size("series") >= 15)
    )
    # seeds from the packed array — no second scan of the facts
    seeded = packed.select(
        "event_type", "series",
        F.expr(
            "aggregate(slice(series, 1, 7), CAST(0 AS BIGINT),"
            " (a, z) -> a + z.x)"
        ).alias("s1"),
        F.expr(
            "aggregate(slice(series, 8, 7), CAST(0 AS BIGINT),"
            " (a, z) -> a + z.x)"
        ).alias("s2"),
    ).select(
        "event_type", "series",
        F.expr("CAST(s1 AS DOUBLE) / 7.0").alias("l0"),
        F.expr(
            "(CAST(s2 AS DOUBLE) / 7.0 - CAST(s1 AS DOUBLE) / 7.0) / 7.0"
        ).alias("b0"),
        F.expr(
            "transform(slice(series, 1, 7),"
            " z -> CAST(z.x AS DOUBLE) - CAST(s1 AS DOUBLE) / 7.0)"
        ).alias("ring0"),
    )
    # fold state = array of emitted steps, each carrying (l, b, ring);
    # previous state = last element (or the seeds on the first step)
    prev_l = "CASE WHEN size(acc) = 0 THEN l0 ELSE element_at(acc, -1).l END"
    prev_b = "CASE WHEN size(acc) = 0 THEN b0 ELSE element_at(acc, -1).b END"
    prev_ring = (
        "CASE WHEN size(acc) = 0 THEN ring0 ELSE element_at(acc, -1).ring END"
    )
    p = "(CAST(size(acc) % 7 AS INT) + 1)"  # rn = 8 + size(acc)
    s_old = f"element_at({prev_ring}, {p})"
    l_new = _hw_lnew("z.x", s_old, prev_l, prev_b)
    b_new = _hw_bnew(l_new, prev_l, prev_b)
    s_new = _hw_snew("z.x", l_new, s_old)
    ring_new = (
        f"concat(slice({prev_ring}, 1, {p} - 1), array({s_new}),"
        f" slice({prev_ring}, {p} + 1, 7 - {p}))"
    )
    folded = seeded.select(
        "event_type",
        F.expr(
            f"""
            aggregate(
                slice(series, 8, size(series) - 7),
                CAST(array() AS ARRAY<STRUCT<day DATE, x BIGINT,
                     f DOUBLE, s_old DOUBLE, l DOUBLE, b DOUBLE,
                     ring ARRAY<DOUBLE>>>),
                (acc, z) -> array_append(acc, struct(
                    z.day AS day, z.x AS x,
                    ({prev_l} + {prev_b} + {s_old}) AS f,
                    {s_old} AS s_old,
                    {l_new} AS l,
                    {b_new} AS b,
                    {ring_new} AS ring))
            )
            """
        ).alias("walked"),
    )
    return (
        folded.select("event_type", F.explode("walked").alias("w"))
        .select(
            "event_type",
            F.col("w.day").alias("day"),
            F.col("w.x").alias("x"),
            F.round("w.f", 6).alias("forecast"),
            F.round(F.col("w.x") - F.col("w.f"), 6).alias("resid"),
            F.round("w.l", 6).alias("level"),
            F.round("w.b", 6).alias("trend"),
            F.round("w.s_old", 6).alias("seasonal"),
        )
    )


@query(
    "nw_alignment_channel_shapes",
    category="FC-alignment",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ), seq AS (
            SELECT event_type, x,
                   CAST(row_number() OVER (PARTITION BY event_type
                                           ORDER BY day) AS BIGINT) AS rn
            FROM daily QUALIFY rn <= 28
        ), sym AS MATERIALIZED (
            SELECT event_type, rn,
                   ((CAST(row_number() OVER (PARTITION BY event_type
                                             ORDER BY x, rn)
                          AS BIGINT) - 1) * 3) // 28 AS lv
            FROM seq
        ), lens AS (
            SELECT event_type, CAST(max(rn) AS BIGINT) AS n
            FROM sym GROUP BY event_type
        ), pairs AS (
            SELECT a.event_type AS ca, b.event_type AS cb,
                   a.n AS na, b.n AS nb
            FROM lens a JOIN lens b ON a.event_type < b.event_type
        ), cells AS (
            -- same anti-diagonal recursive-DP shape as the DTW
            -- oracle, max-recurrence with edge gaps: cell (0,0)
            -- seeds; gap moves (+1,0)/(0,+1) cost -2 from diagonal
            -- d-1, match/mismatch (+1,+1) +2/-1 from d-2; border
            -- cells (i,0)/(0,j) arise naturally from gap chains
            WITH RECURSIVE dp AS (
                SELECT p.ca, p.cb, 0 AS d, 0 AS i, 0 AS j,
                       CAST(0 AS BIGINT) AS val, 1 AS cur, p.na, p.nb
                FROM pairs p
                UNION ALL
                SELECT * FROM (
                    WITH w AS (SELECT * FROM dp)
                    SELECT n.ca, n.cb, n.d, n.i, n.j, n.val,
                           1 AS cur, n.na, n.nb
                    FROM (
                        SELECT g.ca, g.cb, g.d, g.i, g.j,
                               max(g.prev + CASE
                                   WHEN g.di + g.dj = 1 THEN -2
                                   WHEN sa.lv = sb.lv THEN 2
                                   ELSE -1 END) AS val,
                               g.na, g.nb
                        FROM (
                            SELECT w.ca, w.cb, w.d + 1 AS d,
                                   w.i + c0.di AS i, w.j + c0.dj AS j,
                                   w.val AS prev, c0.di, c0.dj,
                                   w.na, w.nb
                            FROM w
                            CROSS JOIN (VALUES (1, 0), (0, 1), (1, 1))
                                 AS c0(di, dj)
                            WHERE ((w.cur = 1 AND c0.di + c0.dj = 1)
                                OR (w.cur = 0 AND c0.di = 1
                                    AND c0.dj = 1))
                              AND w.i + c0.di <= w.na
                              AND w.j + c0.dj <= w.nb
                        ) g
                        LEFT JOIN sym sa ON sa.event_type = g.ca
                                        AND sa.rn = g.i
                        LEFT JOIN sym sb ON sb.event_type = g.cb
                                        AND sb.rn = g.j
                        GROUP BY g.ca, g.cb, g.d, g.i, g.j, g.na, g.nb,
                                 sa.lv, sb.lv
                    ) n
                    UNION ALL
                    SELECT w.ca, w.cb, w.d + 1, w.i, w.j, w.val,
                           0, w.na, w.nb
                    FROM w WHERE w.cur = 1 AND w.d < w.na + w.nb
                )
            )
            SELECT * FROM dp
        )
        SELECT ca AS channel_a, cb AS channel_b, val AS nw_score,
               CAST(round(val * 1.0 / (2 * least(na, nb)), 6) AS DOUBLE)
                   AS norm_sim
        FROM cells WHERE cur = 1 AND i = na AND j = nb
        ORDER BY channel_a, channel_b
    """,
)
def nw_alignment_channel_shapes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Needleman-Wunsch GLOBAL alignment between channel activity
    shapes: each channel's first 28 daily counts are quantized to
    terciles BY EXACT RANK (level = ((rank−1)·3) DIV 28 — integer
    thresholds, no float quantiles), and every channel pair is
    aligned with match +2 / mismatch −1 / gap −2 — the
    edit-distance-family complement of DTW (DTW stretches time but
    must consume every point; alignment may DELETE days on either
    side at a cost, the right model for shapes with missing or
    inserted regimes). Score and length-normalized similarity per
    pair.

    Determinism is total: symbols come from integer rank arithmetic,
    the DP is max/+ over integers. The oracle reuses the DTW
    recursive-CTE anti-diagonal pattern (max instead of min, edge
    gap chains instead of a band), verified pair-for-pair against an
    independent quadratic reference.

    Scale: facts collapse to |channels|×28 symbols in one rollup +
    two windows; pairs carry symbol ARRAYS into one Arrow-batched
    pandas UDF running the O(n·m) DP — embarrassingly parallel over
    pairs, nothing rejoins the facts. At large channel counts, block
    pairs first (the dedup family's LSH buckets) exactly as for DTW.
    """
    from pyspark.sql.types import LongType

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    seq = daily.select(
        "event_type", "x", F.row_number().over(w).cast("long").alias("rn")
    ).filter(F.col("rn") <= 28)
    sym = seq.select(
        "event_type", "rn",
        F.expr(
            "((CAST(row_number() OVER (PARTITION BY event_type"
            " ORDER BY x, rn) AS BIGINT) - 1) * 3) div 28"
        ).alias("lv"),
    )
    arrs = sym.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("rn", "lv"))),
            lambda s: s["lv"],
        ).alias("syms"),
        F.max("rn").cast("long").alias("n"),
    )
    a = arrs.select(
        F.col("event_type").alias("channel_a"),
        F.col("syms").alias("sa"),
        F.col("n").alias("na"),
    )
    b = arrs.select(
        F.col("event_type").alias("channel_b"),
        F.col("syms").alias("sb"),
        F.col("n").alias("nb"),
    )
    pairs = a.join(F.broadcast(b), F.col("channel_a") < F.col("channel_b"))

    @F.pandas_udf(LongType())
    def nw_score(sa: pd.Series, sb: pd.Series) -> pd.Series:
        out = []
        for xa, xb in zip(sa, sb):
            n, m = len(xa), len(xb)
            prev = [-2 * j for j in range(m + 1)]
            for i in range(1, n + 1):
                cur = [-2 * i] + [0] * m
                ai = xa[i - 1]
                for j in range(1, m + 1):
                    cur[j] = max(
                        prev[j] - 2,
                        cur[j - 1] - 2,
                        prev[j - 1] + (2 if ai == xb[j - 1] else -1),
                    )
                prev = cur
            out.append(prev[m])
        return pd.Series(out, dtype="int64")

    scored = pairs.select(
        "channel_a", "channel_b", "na", "nb",
        nw_score(F.col("sa"), F.col("sb")).alias("nw_score"),
    )
    return (
        scored.select(
            "channel_a", "channel_b", "nw_score",
            F.round(
                F.col("nw_score")
                / (2.0 * F.least(F.col("na"), F.col("nb"))),
                6,
            ).alias("norm_sim"),
        )
    )


def _gotoh_affine_score(
    xa,
    xb,
    match: int = 2,
    mismatch: int = -1,
    gap_open: int = 3,
    gap_ext: int = 1,
) -> int:
    """Gotoh affine-gap global alignment score (canonical 3-matrix
    formulation: M ends in match/mismatch, Ix in a gap consuming a
    symbol of `xa`, Iy in a gap consuming a symbol of `xb`; Ix opens
    only from M, extends only from Ix — and symmetrically for Iy).
    A gap of length L costs gap_open + (L-1)*gap_ext. All-integer
    max/+ DP, two rolling rows per matrix: O(n·m) time, O(m) space."""
    n, m = len(xa), len(xb)
    NEG = -(10**9)  # -inf that survives repeated -gap_open drift
    Mp = [0] + [NEG] * m
    Ixp = [NEG] * (m + 1)
    Iyp = [NEG] * (m + 1)
    for j in range(1, m + 1):
        Iyp[j] = -(gap_open + (j - 1) * gap_ext)
    for i in range(1, n + 1):
        Mc = [NEG] * (m + 1)
        Ixc = [NEG] * (m + 1)
        Iyc = [NEG] * (m + 1)
        Ixc[0] = -(gap_open + (i - 1) * gap_ext)
        ai = xa[i - 1]
        for j in range(1, m + 1):
            s = match if ai == xb[j - 1] else mismatch
            Mc[j] = s + max(Mp[j - 1], Ixp[j - 1], Iyp[j - 1])
            Ixc[j] = max(Mp[j] - gap_open, Ixp[j] - gap_ext)
            Iyc[j] = max(Mc[j - 1] - gap_open, Iyc[j - 1] - gap_ext)
        Mp, Ixp, Iyp = Mc, Ixc, Iyc
    return max(Mp[m], Ixp[m], Iyp[m])


@query(
    "gotoh_affine_alignment_shapes",
    category="FC-alignment",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ), seq AS (
            SELECT event_type, x,
                   CAST(row_number() OVER (PARTITION BY event_type
                                           ORDER BY day) AS BIGINT) AS rn
            FROM daily QUALIFY rn <= 28
        ), sym AS MATERIALIZED (
            SELECT event_type, rn,
                   ((CAST(row_number() OVER (PARTITION BY event_type
                                             ORDER BY x, rn)
                          AS BIGINT) - 1) * 3) // 28 AS lv
            FROM seq
        ), lens AS (
            SELECT event_type, CAST(max(rn) AS BIGINT) AS n
            FROM sym GROUP BY event_type
        ), pairs AS (
            SELECT a.event_type AS ca, b.event_type AS cb,
                   a.n AS na, b.n AS nb
            FROM lens a JOIN lens b ON a.event_type < b.event_type
        ), cells AS (
            -- the NW anti-diagonal recursive-DP shape widened to
            -- Gotoh's THREE values per cell: mv (ends match/mismatch),
            -- ixv (gap consuming a row of A), iyv (gap consuming a row
            -- of B). Moves: (1,1) from diagonal d-1 feeds mv;
            -- (1,0)/(0,1) from diagonal d feed ixv/iyv with
            -- open-from-M (-3) vs extend-within (-1). Missing move
            -- kinds coalesce to the -100000 sentinel; border gap
            -- chains arise naturally from (0,0).
            WITH RECURSIVE dp AS (
                SELECT p.ca, p.cb, 0 AS d, 0 AS i, 0 AS j,
                       CAST(0 AS BIGINT) AS mv,
                       CAST(-100000 AS BIGINT) AS ixv,
                       CAST(-100000 AS BIGINT) AS iyv,
                       1 AS cur, p.na, p.nb
                FROM pairs p
                UNION ALL
                SELECT * FROM (
                    WITH w AS (SELECT * FROM dp)
                    SELECT n.ca, n.cb, n.d, n.i, n.j,
                           n.mv, n.ixv, n.iyv, 1 AS cur, n.na, n.nb
                    FROM (
                        SELECT g.ca, g.cb, g.d, g.i, g.j,
                               COALESCE(max(CASE
                                   WHEN g.di = 1 AND g.dj = 1 THEN
                                       (CASE WHEN sa.lv = sb.lv
                                             THEN 2 ELSE -1 END)
                                       + greatest(g.pm, g.pix, g.piy)
                                   END), -100000) AS mv,
                               COALESCE(max(CASE
                                   WHEN g.di = 1 AND g.dj = 0 THEN
                                       greatest(g.pm - 3, g.pix - 1)
                                   END), -100000) AS ixv,
                               COALESCE(max(CASE
                                   WHEN g.di = 0 AND g.dj = 1 THEN
                                       greatest(g.pm - 3, g.piy - 1)
                                   END), -100000) AS iyv,
                               g.na, g.nb
                        FROM (
                            SELECT w.ca, w.cb, w.d + 1 AS d,
                                   w.i + c0.di AS i, w.j + c0.dj AS j,
                                   w.mv AS pm, w.ixv AS pix,
                                   w.iyv AS piy, c0.di, c0.dj,
                                   w.na, w.nb
                            FROM w
                            CROSS JOIN (VALUES (1, 0), (0, 1), (1, 1))
                                 AS c0(di, dj)
                            WHERE ((w.cur = 1 AND c0.di + c0.dj = 1)
                                OR (w.cur = 0 AND c0.di = 1
                                    AND c0.dj = 1))
                              AND w.i + c0.di <= w.na
                              AND w.j + c0.dj <= w.nb
                        ) g
                        LEFT JOIN sym sa ON sa.event_type = g.ca
                                        AND sa.rn = g.i
                        LEFT JOIN sym sb ON sb.event_type = g.cb
                                        AND sb.rn = g.j
                        GROUP BY g.ca, g.cb, g.d, g.i, g.j, g.na, g.nb,
                                 sa.lv, sb.lv
                    ) n
                    UNION ALL
                    SELECT w.ca, w.cb, w.d + 1, w.i, w.j,
                           w.mv, w.ixv, w.iyv, 0, w.na, w.nb
                    FROM w WHERE w.cur = 1 AND w.d < w.na + w.nb
                )
            )
            SELECT * FROM dp
        )
        SELECT ca AS channel_a, cb AS channel_b,
               greatest(mv, ixv, iyv) AS gotoh_score,
               CAST(round(greatest(mv, ixv, iyv) * 1.0
                          / (2 * least(na, nb)), 6) AS DOUBLE)
                   AS norm_sim
        FROM cells WHERE cur = 1 AND i = na AND j = nb
        ORDER BY channel_a, channel_b
    """,
)
def gotoh_affine_alignment_shapes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gotoh AFFINE-gap global alignment between channel activity
    shapes — the 3-matrix (M/Ix/Iy) extension of the linear-gap
    Needleman-Wunsch query: opening a gap costs −3, each further
    symbol only −1, so one long deletion (a channel pausing for a
    stretch of days) is charged once for opening plus cheaply per
    day, instead of NW's linear −2·L. This is the biologically- and
    operationally-standard gap model (one outage ≠ L independent
    outages). Same rank-tercile symbols as the NW query (match +2 /
    mismatch −1), canonical Gotoh transitions (Ix opens only from M,
    extends only within Ix; symmetrically Iy).

    Determinism is total: integer rank symbols, all-integer max/+
    over three matrices. The oracle widens the house anti-diagonal
    recursive-CTE DP to carry THREE values per cell, with missing
    move kinds coalesced to a −100000 sentinel; the Python helper is
    verified against an exhaustive alignment enumeration on tiny
    sequences (tests/test_operators.py).

    Scale: identical shape to NW/DTW — one rollup to |channels|×28
    symbols, arrays carried into a broadcast pair frame, one
    Arrow-batched pandas UDF running the O(n·m) rolling-row DP;
    embarrassingly parallel over pairs, nothing rejoins the facts;
    LSH-block pairs first at large channel counts.
    """
    from pyspark.sql.types import LongType

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    seq = daily.select(
        "event_type", "x", F.row_number().over(w).cast("long").alias("rn")
    ).filter(F.col("rn") <= 28)
    sym = seq.select(
        "event_type", "rn",
        F.expr(
            "((CAST(row_number() OVER (PARTITION BY event_type"
            " ORDER BY x, rn) AS BIGINT) - 1) * 3) div 28"
        ).alias("lv"),
    )
    arrs = sym.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("rn", "lv"))),
            lambda s: s["lv"],
        ).alias("syms"),
        F.max("rn").cast("long").alias("n"),
    )
    a = arrs.select(
        F.col("event_type").alias("channel_a"),
        F.col("syms").alias("sa"),
        F.col("n").alias("na"),
    )
    b = arrs.select(
        F.col("event_type").alias("channel_b"),
        F.col("syms").alias("sb"),
        F.col("n").alias("nb"),
    )
    pairs = a.join(F.broadcast(b), F.col("channel_a") < F.col("channel_b"))

    @F.pandas_udf(LongType())
    def gotoh_score(sa: pd.Series, sb: pd.Series) -> pd.Series:
        out = [
            _gotoh_affine_score(list(xa), list(xb))
            for xa, xb in zip(sa, sb)
        ]
        return pd.Series(out, dtype="int64")

    scored = pairs.select(
        "channel_a", "channel_b", "na", "nb",
        gotoh_score(F.col("sa"), F.col("sb")).alias("gotoh_score"),
    )
    return (
        scored.select(
            "channel_a", "channel_b", "gotoh_score",
            F.round(
                F.col("gotoh_score")
                / (2.0 * F.least(F.col("na"), F.col("nb"))),
                6,
            ).alias("norm_sim"),
        )
    )


@query(
    "matrix_profile_stomp_gate",
    category="FC-matrixprofile",
    oracle=f"""
        WITH hourly AS (
            SELECT event_type,
                   CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hr,
                   CAST(count(*) AS BIGINT) AS x
            FROM events
            GROUP BY event_type, CAST(floor(epoch(ts)) AS BIGINT) // 3600
        ), bounds AS (
            SELECT event_type, min(hr) AS h0 FROM hourly GROUP BY event_type
        ), grid AS (
            SELECT b.event_type, CAST(ks.k + 1 AS BIGINT) AS rn,
                   b.h0 + ks.k AS hr
            FROM bounds b CROSS JOIN
                 (SELECT unnest(generate_series(0, {_MP24_N - 1})) AS k) ks
        ), series AS (
            SELECT g.event_type, g.rn, COALESCE(h.x, 0) AS x
            FROM grid g LEFT JOIN hourly h
              ON g.event_type = h.event_type AND g.hr = h.hr
        ), wins AS (
            SELECT event_type, rn AS i,
                   CAST(sum(x) OVER w24 AS BIGINT) AS sw,
                   CAST(sum(x * x) OVER w24 AS BIGINT) AS sww,
                   list(x) OVER w24 AS vec
            FROM series
            WINDOW w24 AS (PARTITION BY event_type ORDER BY rn
                           ROWS BETWEEN CURRENT ROW AND {_MP24_M - 1} FOLLOWING)
            QUALIFY rn <= {_MP24_NW} AND ({_MP24_M} * sww - sw * sw) > 0
        ), dots AS (
            SELECT a.event_type, a.i, b.i AS j,
                   a.sw AS swi, a.sww AS swwi,
                   b.sw AS swj, b.sww AS swwj,
                   CAST(list_aggregate(list_transform(
                            list_zip(a.vec, b.vec), p -> p[1] * p[2]),
                        'sum') AS BIGINT) AS dp
            FROM wins a JOIN wins b
              ON a.event_type = b.event_type AND abs(a.i - b.i) >= {_MP24_EXCL}
        ), scored AS (
            SELECT event_type, i, j,
                   CAST(round({_MP24_D2}, 6) AS DOUBLE) AS d2,
                   row_number() OVER (
                       PARTITION BY event_type, i
                       ORDER BY CAST(round({_MP24_D2}, 6) AS DOUBLE), j
                   ) AS rk
            FROM dots
        )
        SELECT event_type, i AS window_start, j AS motif_match,
               d2 AS znorm_dist_sq, TRUE AS stomp_agrees
        FROM scored WHERE rk = 1
        ORDER BY event_type, window_start
    """,
)
def matrix_profile_stomp_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matrix profile via STOMP — the O(1)-per-cell incremental-dot
    recurrence dp(i,j) = dp(i−1,j−1) − x_{i−1}x_{j−1} +
    x_{i+m−1}x_{j+m−1} — certified in-query against the exact
    quadratic form, completing the decision rule SCALE.md §16
    measured: zip_with/BLAS for short windows, MASS for long
    windows, STOMP for FULL profiles at massive n (its total cost is
    O(n²) independent of both m and log n).

    Unlike the MASS gate's float-FFT path (1e-4 tolerance), STOMP's
    dots are INTEGER adds/subtracts of integer products — exact —
    and the d² formula is evaluated in the same IEEE operation order
    as the shared _MP24_D2 text, so ``stomp_agrees`` demands
    raw-value agreement to 1e-9 (vs MASS's 1e-4): any indexing or
    recurrence bug trips it by orders of magnitude more, while no
    rounding-procedure emulation is involved (round-half-up
    emulations of Spark's BigDecimal HALF_UP can disagree on
    near-tie values — ADVICE r5). Same dense 240-hour grid, m = 24,
    exclusion 12, zero-variance windows dropped; emitted values come
    from the quadratic certifier the oracle replicates.

    Scale: STOMP is inherently sequential in i per series but O(n)
    per row with 3 integer arrays of state — per key it is the same
    embarrassingly-parallel applyInPandas shape as MASS; a
    million-key corpus runs a million independent recurrences.
    """
    import numpy as np

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        (F.unix_timestamp("ts").cast("long") / F.lit(3600))
        .cast("long")
        .alias("hr"),
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    bounds = hourly.groupBy("event_type").agg(F.min("hr").alias("h0"))
    grid = bounds.select(
        "event_type",
        "h0",
        F.explode(F.sequence(F.lit(0), F.lit(_MP24_N - 1))).alias("k"),
    ).select(
        "event_type",
        (F.col("k") + 1).cast("long").alias("rn"),
        (F.col("h0") + F.col("k")).alias("hr"),
    )
    series = (
        grid.join(hourly, ["event_type", "hr"], "left")
        .select(
            "event_type", "rn", F.coalesce(F.col("x"), F.lit(0)).alias("x")
        )
        .persist()  # feeds the JVM window pass AND the STOMP UDF
    )
    w24 = Window.partitionBy("event_type").orderBy("rn").rowsBetween(0, _MP24_M - 1)
    wins = series.select(
        "event_type",
        F.col("rn").alias("i"),
        F.sum("x").over(w24).cast("long").alias("sw"),
        F.sum(F.col("x") * F.col("x")).over(w24).cast("long").alias("sww"),
        F.collect_list("x").over(w24).alias("vec"),
    ).filter(
        (F.col("i") <= _MP24_NW)
        & (_MP24_M * F.col("sww") - F.col("sw") * F.col("sw") > 0)
    )
    a = wins.alias("a")
    b = wins.alias("b")
    dots = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.abs(F.col("a.i") - F.col("b.i")) >= _MP24_EXCL),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.i").alias("i"),
        F.col("b.i").alias("j"),
        F.col("a.sw").alias("swi"),
        F.col("a.sww").alias("swwi"),
        F.col("b.sw").alias("swj"),
        F.col("b.sww").alias("swwj"),
        F.expr(
            "aggregate(zip_with(a.vec, b.vec, (x, y) -> x * y),"
            " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        ).alias("dp"),
    )
    d2_raw = F.expr(_MP24_D2)
    w_rank = Window.partitionBy("event_type", "i").orderBy(
        F.round(d2_raw, 6).asc(), F.col("j").asc()
    )
    quad = (
        dots.select(
            "event_type", "i", "j",
            d2_raw.alias("d2_raw"),
            F.round(d2_raw, 6).alias("d2"),
            F.row_number().over(w_rank).alias("rk"),
        )
        .filter(F.col("rk") == 1)
        .drop("rk")
    )

    def stomp(pdf):
        import pandas as pd

        m, excl = _MP24_M, _MP24_EXCL
        pdf = pdf.sort_values("rn")
        n = len(pdf)
        assert n == _MP24_N, f"dense grid gave {n} rows, want {_MP24_N}"
        x = pdf["x"].to_numpy(dtype="int64")
        et = pdf["event_type"].iloc[0]
        nw = n - m + 1
        c1 = np.concatenate([[0], np.cumsum(x)])
        c2 = np.concatenate([[0], np.cumsum(x * x)])
        sw = c1[m : nw + m] - c1[:nw]
        sww = c2[m : nw + m] - c2[:nw]
        var24 = m * sww - sw * sw
        valid = var24 > 0
        js = np.arange(nw)
        win = np.lib.stride_tricks.sliding_window_view(x, m)
        dp = win @ win[0]  # exact int64 row 0
        rows = []
        for i in range(nw):
            if i > 0:
                # STOMP recurrence — integer, exact
                nxt = np.empty(nw, dtype="int64")
                nxt[1:] = (
                    dp[:-1]
                    - x[i - 1] * x[0 : nw - 1]
                    + x[i + m - 1] * x[m : m + nw - 1]
                )
                nxt[0] = int(win[i] @ win[0])
                dp = nxt
            if not valid[i]:
                continue
            num = (m * dp - sw[i] * sw).astype("float64")
            den = np.sqrt(
                var24[i].astype("float64") * var24.astype("float64")
            )
            with np.errstate(divide="ignore", invalid="ignore"):
                d2 = 2.0 * m * (1.0 - num / den)
            mask = valid & (np.abs(js - i) >= excl)
            if not mask.any():
                continue
            # raw (unrounded) minimum: the gate compares it to the
            # quadratic path's raw d2 with a tight tolerance — the
            # previous floor(x*1e6+0.5) emulation of Spark's
            # BigDecimal HALF_UP could disagree on near-tie values
            # and made the equality gate latently flaky (ADVICE r5)
            mn = float(np.where(mask, d2, np.inf).min())
            rows.append((et, i + 1, mn))
        return pd.DataFrame(
            rows, columns=["event_type", "i", "stomp_d2"]
        )

    stomp_profile = series.groupBy("event_type").applyInPandas(
        stomp, "event_type string, i long, stomp_d2 double"
    )
    return (
        quad.join(stomp_profile, ["event_type", "i"])
        .select(
            "event_type",
            F.col("i").alias("window_start"),
            F.col("j").alias("motif_match"),
            F.col("d2").alias("znorm_dist_sq"),
            # raw-vs-raw with 1e-9 tolerance: both paths evaluate the
            # same IEEE operation order on exact integer moments, so
            # any real indexing/recurrence bug trips this by >> 1e-9,
            # while rounding-procedure mismatches can't (ADVICE r5)
            (F.abs(F.col("d2_raw") - F.col("stomp_d2")) <= 1e-9).alias(
                "stomp_agrees"
            ),
        )
    )


def _smith_waterman_score(xa, xb, match: int = 2, mismatch: int = -1,
                          gap: int = -2) -> int:
    """Smith-Waterman LOCAL alignment score (linear gaps): the NW
    recurrence with a floor at 0 (an alignment may start anywhere) and
    the answer = the maximum over ALL cells (it may end anywhere).
    All-integer max/+ DP, one rolling row."""
    n, m = len(xa), len(xb)
    prev = [0] * (m + 1)
    best = 0
    for i in range(1, n + 1):
        cur = [0] * (m + 1)
        ai = xa[i - 1]
        for j in range(1, m + 1):
            s = match if ai == xb[j - 1] else mismatch
            cur[j] = max(
                0, prev[j] + gap, cur[j - 1] + gap, prev[j - 1] + s
            )
            if cur[j] > best:
                best = cur[j]
        prev = cur
    return best


# Shared oracle DP for the Smith-Waterman family (score census +
# traceback): rank-tercile symbols per channel, then the anti-diagonal
# recursive-CTE local-alignment DP with the 0 floor.
_SW_DP_CTE = """daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ), seq AS (
            SELECT event_type, x,
                   CAST(row_number() OVER (PARTITION BY event_type
                                           ORDER BY day) AS BIGINT) AS rn
            FROM daily QUALIFY rn <= 28
        ), sym AS MATERIALIZED (
            SELECT event_type, rn,
                   ((CAST(row_number() OVER (PARTITION BY event_type
                                             ORDER BY x, rn)
                          AS BIGINT) - 1) * 3) // 28 AS lv
            FROM seq
        ), lens AS (
            SELECT event_type, CAST(max(rn) AS BIGINT) AS n
            FROM sym GROUP BY event_type
        ), pairs AS (
            SELECT a.event_type AS ca, b.event_type AS cb,
                   a.n AS na, b.n AS nb
            FROM lens a JOIN lens b ON a.event_type < b.event_type
        ), cells AS MATERIALIZED (
            -- the NW anti-diagonal recursive-DP shape with the local-
            -- alignment floor at 0. Border cells are never
            -- materialized: every border value is 0, so a border
            -- predecessor contributes either gap-from-0 = -2 (always
            -- absorbed by the floor) or diag-from-0 = s(i,j) — the
            -- standalone CASE term below, applicable exactly when
            -- i = 1 OR j = 1. Seed = cell (1,1).
            WITH RECURSIVE dp AS (
                SELECT p.ca, p.cb, 2 AS d, 1 AS i, 1 AS j,
                       greatest(CAST(0 AS BIGINT),
                                CASE WHEN sa.lv = sb.lv THEN 2
                                     ELSE -1 END) AS val,
                       1 AS cur, p.na, p.nb
                FROM pairs p
                JOIN sym sa ON sa.event_type = p.ca AND sa.rn = 1
                JOIN sym sb ON sb.event_type = p.cb AND sb.rn = 1
                UNION ALL
                SELECT * FROM (
                    WITH w AS (SELECT * FROM dp)
                    SELECT n.ca, n.cb, n.d, n.i, n.j, n.val,
                           1 AS cur, n.na, n.nb
                    FROM (
                        SELECT g.ca, g.cb, g.d, g.i, g.j,
                               greatest(
                                   CAST(0 AS BIGINT),
                                   CASE WHEN g.i = 1 OR g.j = 1 THEN
                                       (CASE WHEN sa.lv = sb.lv THEN 2
                                             ELSE -1 END)
                                   ELSE CAST(-1000 AS BIGINT) END,
                                   max(g.prev + CASE
                                       WHEN g.di + g.dj = 1 THEN -2
                                       WHEN sa.lv = sb.lv THEN 2
                                       ELSE -1 END)) AS val,
                               g.na, g.nb
                        FROM (
                            SELECT w.ca, w.cb, w.d + 1 AS d,
                                   w.i + c0.di AS i, w.j + c0.dj AS j,
                                   w.val AS prev, c0.di, c0.dj,
                                   w.na, w.nb
                            FROM w
                            CROSS JOIN (VALUES (1, 0), (0, 1), (1, 1))
                                 AS c0(di, dj)
                            WHERE ((w.cur = 1 AND c0.di + c0.dj = 1)
                                OR (w.cur = 0 AND c0.di = 1
                                    AND c0.dj = 1))
                              AND w.i + c0.di <= w.na
                              AND w.j + c0.dj <= w.nb
                        ) g
                        JOIN sym sa ON sa.event_type = g.ca
                                   AND sa.rn = g.i
                        JOIN sym sb ON sb.event_type = g.cb
                                   AND sb.rn = g.j
                        GROUP BY g.ca, g.cb, g.d, g.i, g.j, g.na, g.nb,
                                 sa.lv, sb.lv
                    ) n
                    UNION ALL
                    SELECT w.ca, w.cb, w.d + 1, w.i, w.j, w.val,
                           0, w.na, w.nb
                    FROM w WHERE w.cur = 1 AND w.d < w.na + w.nb
                )
            )
            SELECT * FROM dp
        )"""


@query(
    "smith_waterman_local_shapes",
    category="FC-alignment",
    oracle=f"""
        WITH {_SW_DP_CTE}
        SELECT ca AS channel_a, cb AS channel_b,
               CAST(max(val) AS BIGINT) AS sw_score,
               CAST(round(max(val) * 1.0 / (2 * least(na, nb)), 6)
                    AS DOUBLE) AS norm_local_sim
        FROM cells
        GROUP BY ca, cb, na, nb
        ORDER BY channel_a, channel_b
    """,
)
def smith_waterman_local_shapes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Smith-Waterman LOCAL alignment between channel activity shapes
    — completes the alignment family (NW global linear, Gotoh global
    affine, SW local): the recurrence floors at 0 so an alignment may
    START anywhere, and the score is the max over ALL cells so it may
    END anywhere — the right question when two channels share one
    strong common episode inside otherwise-unrelated histories (global
    scores punish the unrelated flanks; local finds the episode).
    Same rank-tercile symbols, match +2 / mismatch −1 / gap −2.

    Determinism is total (integer rank symbols, integer max/+ DP with
    a 0 floor). The oracle reuses the anti-diagonal recursive-CTE DP
    with greatest(0, move-max) per cell — border cells are never
    materialized because a zero border contributes only gap-from-0
    (absorbed by the floor) or diag-from-0 = s(i,j), folded in as a
    standalone term on the i=1/j=1 frontier; the answer aggregates
    max(val) over the whole table — no end-cell special-casing. The Python DP is
    verified against a brute-force all-substring-pairs NW maximizer
    on tiny inputs (tests/test_operators.py).

    Scale: identical to NW/Gotoh — one rollup, broadcast pair frame,
    one Arrow-batched rolling-row DP per pair.
    """
    from pyspark.sql.types import LongType

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    seq = daily.select(
        "event_type", "x", F.row_number().over(w).cast("long").alias("rn")
    ).filter(F.col("rn") <= 28)
    sym = seq.select(
        "event_type", "rn",
        F.expr(
            "((CAST(row_number() OVER (PARTITION BY event_type"
            " ORDER BY x, rn) AS BIGINT) - 1) * 3) div 28"
        ).alias("lv"),
    )
    arrs = sym.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("rn", "lv"))),
            lambda s: s["lv"],
        ).alias("syms"),
        F.max("rn").cast("long").alias("n"),
    )
    a = arrs.select(
        F.col("event_type").alias("channel_a"),
        F.col("syms").alias("sa"),
        F.col("n").alias("na"),
    )
    b = arrs.select(
        F.col("event_type").alias("channel_b"),
        F.col("syms").alias("sb"),
        F.col("n").alias("nb"),
    )
    pairs = a.join(F.broadcast(b), F.col("channel_a") < F.col("channel_b"))

    @F.pandas_udf(LongType())
    def sw_score(sa: pd.Series, sb: pd.Series) -> pd.Series:
        out = [
            _smith_waterman_score(list(xa), list(xb))
            for xa, xb in zip(sa, sb)
        ]
        return pd.Series(out, dtype="int64")

    scored = pairs.select(
        "channel_a", "channel_b", "na", "nb",
        # single UDF invocation: referencing the UDF twice in one
        # select plans two ArrowEvalPython nodes (today's DTW lesson)
        sw_score(F.col("sa"), F.col("sb")).alias("sw_score"),
    )
    return (
        scored.select(
            "channel_a", "channel_b", "sw_score",
            F.round(
                F.col("sw_score")
                / (2.0 * F.least(F.col("na"), F.col("nb"))),
                6,
            ).alias("norm_local_sim"),
        )
    )


@query(
    "smith_waterman_traceback_alignment",
    category="FC-alignment",
    oracle=f"""
        WITH {_SW_DP_CTE}, cellsu AS MATERIALIZED (
            SELECT ca, cb, i, j, CAST(max(val) AS BIGINT) AS val
            FROM cells GROUP BY ca, cb, i, j
        ), ends AS (
            SELECT ca, cb, i, j, val,
                   row_number() OVER (PARTITION BY ca, cb
                                      ORDER BY val DESC, i, j) AS rk
            FROM cellsu
        ), walk AS (
            WITH RECURSIVE tb AS (
                SELECT ca, cb, val AS sw_score, i, j, val,
                       i AS a_end, j AS b_end,
                       CAST('' AS VARCHAR) AS aa,
                       CAST('' AS VARCHAR) AS ab
                FROM ends WHERE rk = 1 AND val > 0
                UNION ALL
                SELECT q.ca, q.cb, q.sw_score,
                       CASE WHEN q.m = 'L' THEN q.i ELSE q.i - 1 END,
                       CASE WHEN q.m = 'U' THEN q.j ELSE q.j - 1 END,
                       CASE WHEN q.m = 'D' THEN q.dv
                            WHEN q.m = 'U' THEN q.uv
                            ELSE q.lv2 END,
                       q.a_end, q.b_end,
                       (CASE WHEN q.m = 'L' THEN '-' ELSE q.ach END)
                           || q.aa,
                       (CASE WHEN q.m = 'U' THEN '-' ELSE q.bch END)
                           || q.ab
                FROM (
                    SELECT t.ca, t.cb, t.sw_score, t.i, t.j, t.val,
                           t.a_end, t.b_end, t.aa, t.ab,
                           CAST(la.lv AS VARCHAR) AS ach,
                           CAST(lb.lv AS VARCHAR) AS bch,
                           coalesce(cd.val, 0) AS dv,
                           cu.val AS uv, cl.val AS lv2,
                           CASE WHEN t.val = coalesce(cd.val, 0)
                                     + (CASE WHEN la.lv = lb.lv THEN 2
                                             ELSE -1 END) THEN 'D'
                                WHEN t.i > 1 AND t.val = cu.val - 2
                                THEN 'U'
                                ELSE 'L' END AS m
                    FROM tb t
                    JOIN sym la ON la.event_type = t.ca
                               AND la.rn = t.i
                    JOIN sym lb ON lb.event_type = t.cb
                               AND lb.rn = t.j
                    LEFT JOIN cellsu cd ON cd.ca = t.ca
                        AND cd.cb = t.cb AND cd.i = t.i - 1
                        AND cd.j = t.j - 1
                    LEFT JOIN cellsu cu ON cu.ca = t.ca
                        AND cu.cb = t.cb AND cu.i = t.i - 1
                        AND cu.j = t.j
                    LEFT JOIN cellsu cl ON cl.ca = t.ca
                        AND cl.cb = t.cb AND cl.i = t.i
                        AND cl.j = t.j - 1
                    WHERE t.val > 0
                ) q
            ) SELECT * FROM tb
        )
        SELECT ca AS channel_a, cb AS channel_b, sw_score,
               CAST(i + 1 AS BIGINT) AS a_start,
               CAST(a_end AS BIGINT) AS a_end,
               CAST(j + 1 AS BIGINT) AS b_start,
               CAST(b_end AS BIGINT) AS b_end,
               aa AS aligned_a, ab AS aligned_b,
               CAST(length(aa) AS BIGINT) AS align_len
        FROM walk WHERE val = 0
        ORDER BY channel_a, channel_b
    """,
)
def smith_waterman_traceback_alignment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Smith-Waterman with the ALIGNMENT ITSELF emitted, not just the
    score: the aligned symbol strings (gaps as '-') and the 1-based
    [start, end] bounds of the matched episode in BOTH channels —
    what an analyst actually reads off a local alignment ("these 9
    days in click line up with those 9 days in purchase").

    Traceback is where alignment determinism usually dies, so the
    contract is explicit and shared by both engines: the end cell is
    the max-value cell with ties to the smallest (i, j); at each cell
    the move priority is diag, then up, then left, accepting a move
    iff the cell value equals predecessor + that move's contribution
    (borders count as 0-valued predecessors); the walk stops on
    reaching a 0 cell. The oracle replays the identical walk as a
    second recursive CTE over the deduped DP table — every emitted
    character is hash-compared, so ANY divergence in tie-breaking
    shows up as a red, not a silently different-but-equal-scoring
    alignment.

    Scale: identical to smith_waterman_local_shapes — one daily
    rollup, broadcast pair frame, one Arrow-batched DP per pair; the
    traceback adds O(n·m) memory per pair inside the UDF (28×28
    here; sequences are bounded windows by construction) and O(n+m)
    walk steps. Output is one row per channel pair.
    """
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    seq = daily.select(
        "event_type", "x", F.row_number().over(w).cast("long").alias("rn")
    ).filter(F.col("rn") <= 28)
    sym = seq.select(
        "event_type", "rn",
        F.expr(
            "((CAST(row_number() OVER (PARTITION BY event_type"
            " ORDER BY x, rn) AS BIGINT) - 1) * 3) div 28"
        ).alias("lv"),
    )
    arrs = sym.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("rn", "lv"))),
            lambda s: s["lv"],
        ).alias("syms"),
    )
    a = arrs.select(
        F.col("event_type").alias("channel_a"), F.col("syms").alias("sa")
    )
    b = arrs.select(
        F.col("event_type").alias("channel_b"), F.col("syms").alias("sb")
    )
    # contract: a score-0 pair has NO local alignment — emit nothing,
    # matching the oracle's `rk = 1 AND val > 0` seed guard. Score 0
    # <=> the two symbol alphabets are DISJOINT (any shared symbol
    # admits a +2 single-match alignment), so the pruning predicate
    # is arrays_overlap on the INPUTS — it runs before the UDF, which
    # both skips the DP for dead pairs and keeps the plan at exactly
    # one ArrowEvalPython (a post-UDF filter on the struct field
    # pushes down and re-plans the UDF twice — the r5 DTW lesson).
    pairs = a.join(
        F.broadcast(b), F.col("channel_a") < F.col("channel_b")
    ).filter(F.arrays_overlap("sa", "sb"))

    ret = StructType([
        StructField("sw_score", LongType()),
        StructField("a_start", LongType()),
        StructField("a_end", LongType()),
        StructField("b_start", LongType()),
        StructField("b_end", LongType()),
        StructField("aligned_a", StringType()),
        StructField("aligned_b", StringType()),
    ])

    @F.pandas_udf(ret)
    def sw_tb(sa: pd.Series, sb: pd.Series) -> pd.DataFrame:
        rows = [
            _smith_waterman_traceback(list(xa), list(xb))
            for xa, xb in zip(sa, sb)
        ]
        return pd.DataFrame(
            rows,
            columns=[
                "sw_score", "a_start", "a_end", "b_start", "b_end",
                "aligned_a", "aligned_b",
            ],
        )

    res = pairs.select(
        "channel_a", "channel_b",
        sw_tb(F.col("sa"), F.col("sb")).alias("r"),
    )
    return res.select(
        "channel_a", "channel_b",
        F.col("r.sw_score").alias("sw_score"),
        F.col("r.a_start").alias("a_start"),
        F.col("r.a_end").alias("a_end"),
        F.col("r.b_start").alias("b_start"),
        F.col("r.b_end").alias("b_end"),
        F.col("r.aligned_a").alias("aligned_a"),
        F.col("r.aligned_b").alias("aligned_b"),
        F.length("r.aligned_a").cast("long").alias("align_len"),
    )


def _smith_waterman_traceback(xa, xb, match: int = 2, mismatch: int = -1,
                              gap: int = -2):
    """Smith-Waterman with TRACEBACK: full DP matrix, end cell = max
    value with ties broken to the smallest (i, j), then a pinned-
    priority walk (diag, then up, then left; stop at a 0 cell) —
    the priority order IS the determinism contract the oracle's
    recursive-CTE walk mirrors move for move. Returns (score,
    a_start, a_end, b_start, b_end, aligned_a, aligned_b), 1-based
    inclusive bounds, '-' for gaps."""
    n, m = len(xa), len(xb)
    dp = [[0] * (m + 1) for _ in range(n + 1)]
    best, bi, bj = 0, 0, 0
    for i in range(1, n + 1):
        for j in range(1, m + 1):
            s = match if xa[i - 1] == xb[j - 1] else mismatch
            v = max(0, dp[i - 1][j - 1] + s, dp[i - 1][j] + gap,
                    dp[i][j - 1] + gap)
            dp[i][j] = v
            if v > best:  # strict: first (min i, then min j) max wins
                best, bi, bj = v, i, j
    if best == 0:
        return 0, 0, 0, 0, 0, "", ""
    i, j, aa, ab = bi, bj, [], []
    while dp[i][j] > 0:
        v = dp[i][j]
        s = match if xa[i - 1] == xb[j - 1] else mismatch
        d = dp[i - 1][j - 1] if (i > 1 and j > 1) else 0
        if v == d + s:
            aa.append(str(xa[i - 1]))
            ab.append(str(xb[j - 1]))
            i -= 1
            j -= 1
        elif i > 1 and v == dp[i - 1][j] + gap:
            aa.append(str(xa[i - 1]))
            ab.append("-")
            i -= 1
        else:
            aa.append("-")
            ab.append(str(xb[j - 1]))
            j -= 1
    return (best, i + 1, bi, j + 1, bj,
            "".join(reversed(aa)), "".join(reversed(ab)))


def _gotoh_local_score(xa, xb, match: int = 2, mismatch: int = -1,
                       gap_open: int = 3, gap_ext: int = 1) -> int:
    """LOCAL affine-gap alignment score (Gotoh x Smith-Waterman): the
    3-matrix Gotoh recurrence with M floored at 0 (an alignment may
    start anywhere) and the answer = max of M over ALL cells (it may
    end anywhere; ending in a gap state is never optimal because
    trimming the trailing gap raises the score). Borders: M = 0
    (empty local alignment), Ix/Iy = -inf. All-integer max/+ DP,
    rolling rows: O(n*m) time, O(m) space."""
    n, m = len(xa), len(xb)
    NEG = -(10**9)
    Mp = [0] * (m + 1)
    Ixp = [NEG] * (m + 1)
    Iyp = [NEG] * (m + 1)
    best = 0
    for i in range(1, n + 1):
        Mc = [0] * (m + 1)
        Ixc = [NEG] * (m + 1)
        Iyc = [NEG] * (m + 1)
        ai = xa[i - 1]
        for j in range(1, m + 1):
            s = match if ai == xb[j - 1] else mismatch
            Mc[j] = max(0, s + max(Mp[j - 1], Ixp[j - 1], Iyp[j - 1]))
            Ixc[j] = max(Mp[j] - gap_open, Ixp[j] - gap_ext)
            Iyc[j] = max(Mc[j - 1] - gap_open, Iyc[j - 1] - gap_ext)
            if Mc[j] > best:
                best = Mc[j]
        Mp, Ixp, Iyp = Mc, Ixc, Iyc
    return best


@query(
    "gotoh_local_alignment_shapes",
    category="FC-alignment",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ), seq AS (
            SELECT event_type, x,
                   CAST(row_number() OVER (PARTITION BY event_type
                                           ORDER BY day) AS BIGINT) AS rn
            FROM daily QUALIFY rn <= 28
        ), sym AS MATERIALIZED (
            SELECT event_type, rn,
                   ((CAST(row_number() OVER (PARTITION BY event_type
                                             ORDER BY x, rn)
                          AS BIGINT) - 1) * 3) // 28 AS lv
            FROM seq
        ), lens AS (
            SELECT event_type, CAST(max(rn) AS BIGINT) AS n
            FROM sym GROUP BY event_type
        ), pairs AS (
            SELECT a.event_type AS ca, b.event_type AS cb,
                   a.n AS na, b.n AS nb
            FROM lens a JOIN lens b ON a.event_type < b.event_type
        ), cells AS (
            -- the Gotoh 3-value anti-diagonal recursive DP with the
            -- LOCAL floor: mv = greatest(0, diag-contribution), so a
            -- cell with no diagonal move (a border) carries mv = 0 =
            -- the empty local alignment, and every interior cell may
            -- restart. ixv/iyv keep the global-Gotoh open/extend
            -- transitions (they go negative and are dominated).
            WITH RECURSIVE dp AS (
                SELECT p.ca, p.cb, 0 AS d, 0 AS i, 0 AS j,
                       CAST(0 AS BIGINT) AS mv,
                       CAST(-100000 AS BIGINT) AS ixv,
                       CAST(-100000 AS BIGINT) AS iyv,
                       1 AS cur, p.na, p.nb
                FROM pairs p
                UNION ALL
                SELECT * FROM (
                    WITH w AS (SELECT * FROM dp)
                    SELECT n.ca, n.cb, n.d, n.i, n.j,
                           n.mv, n.ixv, n.iyv, 1 AS cur, n.na, n.nb
                    FROM (
                        SELECT g.ca, g.cb, g.d, g.i, g.j,
                               greatest(CAST(0 AS BIGINT),
                               COALESCE(max(CASE
                                   WHEN g.di = 1 AND g.dj = 1 THEN
                                       (CASE WHEN sa.lv = sb.lv
                                             THEN 2 ELSE -1 END)
                                       + greatest(g.pm, g.pix, g.piy)
                                   END), -100000)) AS mv,
                               COALESCE(max(CASE
                                   WHEN g.di = 1 AND g.dj = 0 THEN
                                       greatest(g.pm - 3, g.pix - 1)
                                   END), -100000) AS ixv,
                               COALESCE(max(CASE
                                   WHEN g.di = 0 AND g.dj = 1 THEN
                                       greatest(g.pm - 3, g.piy - 1)
                                   END), -100000) AS iyv,
                               g.na, g.nb
                        FROM (
                            SELECT w.ca, w.cb, w.d + 1 AS d,
                                   w.i + c0.di AS i, w.j + c0.dj AS j,
                                   w.mv AS pm, w.ixv AS pix,
                                   w.iyv AS piy, c0.di, c0.dj,
                                   w.na, w.nb
                            FROM w
                            CROSS JOIN (VALUES (1, 0), (0, 1), (1, 1))
                                 AS c0(di, dj)
                            WHERE ((w.cur = 1 AND c0.di + c0.dj = 1)
                                OR (w.cur = 0 AND c0.di = 1
                                    AND c0.dj = 1))
                              AND w.i + c0.di <= w.na
                              AND w.j + c0.dj <= w.nb
                        ) g
                        LEFT JOIN sym sa ON sa.event_type = g.ca
                                        AND sa.rn = g.i
                        LEFT JOIN sym sb ON sb.event_type = g.cb
                                        AND sb.rn = g.j
                        GROUP BY g.ca, g.cb, g.d, g.i, g.j, g.na, g.nb,
                                 sa.lv, sb.lv
                    ) n
                    UNION ALL
                    SELECT w.ca, w.cb, w.d + 1, w.i, w.j,
                           w.mv, w.ixv, w.iyv, 0, w.na, w.nb
                    FROM w WHERE w.cur = 1 AND w.d < w.na + w.nb
                )
            )
            SELECT * FROM dp
        )
        SELECT ca AS channel_a, cb AS channel_b,
               CAST(max(mv) AS BIGINT) AS gotoh_local_score,
               CAST(round(max(mv) * 1.0 / (2 * least(na, nb)), 6)
                    AS DOUBLE) AS norm_local_sim
        FROM cells
        GROUP BY ca, cb, na, nb
        ORDER BY channel_a, channel_b
    """,
)
def gotoh_local_alignment_shapes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LOCAL AFFINE-gap alignment between channel activity shapes —
    the last unclaimed cell of the alignment matrix (NW global
    linear / Gotoh global affine / SW local linear / THIS local
    affine): find the best common episode anywhere inside two
    channels' histories while charging a pause once for opening plus
    cheaply per day (affine), instead of SW's linear per-day gap.
    Same rank-tercile symbols, match +2 / mismatch -1, gap open -3 /
    extend -1.

    Recurrence: Gotoh's three matrices with M floored at 0 and the
    answer = max of M over all cells; borders are M = 0, Ix/Iy =
    -inf. The oracle is the global-Gotoh anti-diagonal recursive CTE
    with mv wrapped in greatest(0, ...) — a border cell (no diagonal
    move) coalesces to the sentinel and floors to exactly the empty
    local alignment — and the final aggregate takes max(mv) over the
    whole table, no end-cell special-casing (the SW oracle's trick on
    the Gotoh oracle's 3-value carry). The Python DP is verified
    against max-over-all-substring-pairs of the enumeration-verified
    global Gotoh score (tests/test_operators.py).

    Scale: identical to NW/Gotoh/SW — one rollup to |channels|x28
    symbols, broadcast pair frame, one Arrow-batched O(n*m)
    rolling-row DP per pair; LSH-block pairs first at large channel
    counts.
    """
    from pyspark.sql.types import LongType

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    seq = daily.select(
        "event_type", "x", F.row_number().over(w).cast("long").alias("rn")
    ).filter(F.col("rn") <= 28)
    sym = seq.select(
        "event_type", "rn",
        F.expr(
            "((CAST(row_number() OVER (PARTITION BY event_type"
            " ORDER BY x, rn) AS BIGINT) - 1) * 3) div 28"
        ).alias("lv"),
    )
    arrs = sym.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("rn", "lv"))),
            lambda s: s["lv"],
        ).alias("syms"),
        F.max("rn").cast("long").alias("n"),
    )
    a = arrs.select(
        F.col("event_type").alias("channel_a"),
        F.col("syms").alias("sa"),
        F.col("n").alias("na"),
    )
    b = arrs.select(
        F.col("event_type").alias("channel_b"),
        F.col("syms").alias("sb"),
        F.col("n").alias("nb"),
    )
    pairs = a.join(F.broadcast(b), F.col("channel_a") < F.col("channel_b"))

    @F.pandas_udf(LongType())
    def gl_score(sa: pd.Series, sb: pd.Series) -> pd.Series:
        out = [
            _gotoh_local_score(list(xa), list(xb))
            for xa, xb in zip(sa, sb)
        ]
        return pd.Series(out, dtype="int64")

    scored = pairs.select(
        "channel_a", "channel_b", "na", "nb",
        # single UDF reference (the pandas-UDF-in-filter house rule)
        gl_score(F.col("sa"), F.col("sb")).alias("gotoh_local_score"),
    )
    return (
        scored.select(
            "channel_a", "channel_b", "gotoh_local_score",
            F.round(
                F.col("gotoh_local_score")
                / (2.0 * F.least(F.col("na"), F.col("nb"))),
                6,
            ).alias("norm_local_sim"),
        )
    )


@query(
    "pinball_loss_quantile_eval",
    category="FC-pinball",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS cents
            FROM events WHERE value IS NOT NULL
            GROUP BY event_type, CAST(ts AS DATE)
        ), win AS (
            SELECT event_type, day, cents,
                   list_sort(list(cents) OVER (
                       PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
                       AS trail
            FROM daily
        ), fc AS (
            SELECT event_type, day, cents,
                   trail[CAST(ceil(0.8 * len(trail)) AS INTEGER)] AS q
            FROM win WHERE len(trail) = 7
        ), scored AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_days,
                   CAST(sum(CASE WHEN cents >= q
                                 THEN 4 * (cents - q)
                                 ELSE 1 * (q - cents) END)
                        AS BIGINT) AS pinball5_cents,
                   CAST(sum(CASE WHEN cents <= q THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_covered
            FROM fc GROUP BY event_type
        )
        SELECT event_type, n_days, pinball5_cents,
               CAST(round(pinball5_cents / 5.0 / n_days / 100.0, 6)
                    AS DOUBLE) AS mean_pinball,
               CAST(round(n_covered * 1.0 / n_days, 6) AS DOUBLE)
                   AS coverage
        FROM scored ORDER BY event_type
    """,
)
def pinball_loss_quantile_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PINBALL (quantile) LOSS evaluation of a rolling τ=0.8 daily-
    revenue quantile forecast — the proper scoring rule for quantile
    forecasts (newsvendor stock levels, SLO latency budgets, P90
    capacity plans): per channel and day, forecast q = the type-1
    0.8-quantile of the trailing 7 daily totals (the 6th of the 7
    sorted values — a DISCRETE order statistic, so both engines pick
    the identical integer; no interpolation arithmetic to drift),
    then L_τ(y, q) = τ(y−q) for under-forecasts and (1−τ)(q−y) for
    over-forecasts. With τ = 0.8 = 4/5 the loss scales by 5 into an
    exact BIGINT (4(y−q) | 1(q−y) cents), hash-checked raw; the
    report adds mean pinball in currency units and the empirical
    COVERAGE P(y ≤ q), whose distance from τ is the calibration
    readout.

    Scale: one day-grain keyed rollup; the trailing-7 collect and the
    order statistic run under a window PARTITIONED BY CHANNEL over
    the calendar frame (bounded per the audit convention); the loss
    is one combinable aggregate. Output: one row per channel.
    """
    daily = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
            .cast("long").alias("cents")
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-7, -1)
    )
    win = daily.select(
        "event_type", "day", "cents",
        F.array_sort(F.collect_list("cents").over(w)).alias("trail"),
    )
    fc = win.filter(F.size("trail") == 7).select(
        "event_type", "cents",
        F.element_at(
            "trail", F.ceil(0.8 * F.size("trail")).cast("int")
        ).alias("q"),
    )
    scored = fc.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(
            F.when(
                F.col("cents") >= F.col("q"),
                4 * (F.col("cents") - F.col("q")),
            ).otherwise(F.col("q") - F.col("cents"))
        ).cast("long").alias("pinball5_cents"),
        F.sum(
            F.when(F.col("cents") <= F.col("q"), 1).otherwise(0)
        ).cast("long").alias("n_covered"),
    )
    return scored.select(
        "event_type", "n_days", "pinball5_cents",
        F.round(
            F.col("pinball5_cents") / 5.0 / F.col("n_days") / 100.0, 6
        ).alias("mean_pinball"),
        F.round(F.col("n_covered") / F.col("n_days"), 6).alias("coverage"),
    )
