"""Extension-surface queries: UDTF chunking (§2.10) and correlated
subqueries (§4.1 decorrelation — EXISTS → semi join, scalar subquery →
join-aggregate, both rewritten by Catalyst for free).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, register_views
from ..functions.chunking import ChunkText, chunk_text_columnar
from ..functions.json_shape import json_key_set
from ..functions.net import cidr_match
from ..registry import query

_CHUNK = 32

_CHUNK_ORACLE = f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    n AS (SELECT doc_id, toks,
                 CAST(ceil(len(toks)/{_CHUNK}.0) AS INT) AS nchunks FROM t),
    i AS (SELECT unnest(generate_series(0, 100000)) AS i)
    SELECT doc_id, i.i AS chunk_no,
           array_to_string(toks[(i.i*{_CHUNK}+1):(i.i*{_CHUNK}+{_CHUNK})], ' ') AS chunk
    FROM n JOIN i ON i.i < n.nchunks
"""


@query("udtf_chunk_text", category="2.10-UDTF", oracle=_CHUNK_ORACLE)
def udtf_chunk_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking via Python UDTF (one doc → N token chunks).

    The UDTF is the §2.10 table-function extension point (Logstash
    ``split`` generalized); the same semantics exist columnar in
    ``chunk_text_columnar`` — see ``chunk_text_columnar_parity`` for
    the JVM-side version this would use at 100 TB.
    """
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("_docs_for_chunk")
    spark.udtf.register("chunk_text_udtf", ChunkText)
    return spark.sql(
        f"""
        SELECT d.doc_id, c.chunk_no, c.chunk
        FROM _docs_for_chunk d,
             LATERAL chunk_text_udtf(d.text, {_CHUNK}) c
        """
    )


@query("chunk_text_columnar_parity", category="2.10-UDTF", oracle=_CHUNK_ORACLE)
def chunk_text_columnar_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar chunking (posexplode of slice indices) — identical
    output to the UDTF, fully whole-stage-codegen, the scale path."""
    docs = load_table(spark, sf_dir, "documents")
    return chunk_text_columnar(docs, "text", _CHUNK, ["doc_id"])


@query(
    "subquery_exists_high_value",
    category="4.1-decorrelation",
    oracle="""
        SELECT c_custkey, c_name, c_acctbal AS acctbal
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 200000)
          AND NOT EXISTS (SELECT 1 FROM orders o2
                          WHERE o2.o_custkey = c.c_custkey
                            AND o2.o_orderstatus = 'F'
                            AND o2.o_totalprice < 50000)
    """,
)
def subquery_exists_high_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS — Catalyst's
    RewritePredicateSubquery turns these into left-semi + left-anti
    joins; no per-row re-execution (the naive interpretation would be
    O(n·m) at 100 TB)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_custkey, c_name, c_acctbal AS acctbal
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 200000)
          AND NOT EXISTS (SELECT 1 FROM orders o2
                          WHERE o2.o_custkey = c.c_custkey
                            AND o2.o_orderstatus = 'F'
                            AND o2.o_totalprice < 50000)
        """
    )


@query(
    "json_variant_extract",
    category="2.8-JSON",
    oracle="""
        SELECT CAST(json_extract(props, '$.k') AS INT) % 10 AS k_bucket,
               count(*) AS n,
               sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) / 10000.0 AS sv
        FROM events
        GROUP BY k_bucket
    """,
)
def json_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VariantType path for dynamic JSON payloads:
    ``parse_json`` once → binary variant → typed ``variant_get``
    extraction. At scale variant decode beats repeated
    ``get_json_object`` string re-parsing when several fields are
    pulled from one payload (single parse, many typed reads)."""
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.variant_get(v, "$.k", "int")
    return (
        ev.select((k % 10).alias("k_bucket"), "value")
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long")) / 10000.0).alias("sv"),
        )
    )


@query(
    "cidr_match_events",
    category="P-net",
    oracle="""
        WITH ip AS (
            SELECT event_id,
                   167772160                     -- 10.0.0.0
                   + (user_id % 128) * 65536
                   + (event_id % 256) * 256
                   + ((user_id * 7 + event_id) % 256) AS ipnum
            FROM events
        )
        SELECT event_id,
               CASE WHEN (ipnum & 4292870144) = 169869312 THEN '10.32.0.0/11'
                    WHEN (ipnum & 4290772992) = 167772160 THEN '10.0.0.0/10'
                    WHEN (ipnum & 4278190080) = 167772160 THEN '10.0.0.0/8'
               END AS net
        FROM ip
    """,
)
def cidr_match_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logstash ``cidr`` filter: label each event's (synthesized) source
    IP with its first matching network. Pure codegen arithmetic — no
    UDF; masks/nets fold to literals at plan time."""
    ev = load_table(spark, sf_dir, "events")
    ip = F.concat_ws(
        ".",
        F.lit("10"),
        (F.col("user_id") % 128).cast("string"),
        (F.col("event_id") % 256).cast("string"),
        ((F.col("user_id") * 7 + F.col("event_id")) % 256).cast("string"),
    )
    return ev.select(
        "event_id",
        cidr_match(ip, ["10.32.0.0/11", "10.0.0.0/10", "10.0.0.0/8"]).alias("net"),
    )


@query(
    "subquery_scalar_above_avg",
    category="4.1-decorrelation",
    oracle="""
        SELECT p_partkey, p_name, p_retailprice AS price
        FROM part
        WHERE p_retailprice > 1.5 * (SELECT avg(p_retailprice) FROM part)
    """,
)
def subquery_scalar_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery — planned once as a separate
    subquery stage whose single-row result feeds the filter (no
    re-scan per row); at scale this is scan + broadcast-of-one-value."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT p_partkey, p_name, p_retailprice AS price
        FROM part
        WHERE p_retailprice > 1.5 * (SELECT avg(p_retailprice) FROM part)
        """
    )


@query(
    "rollup_cascade_1h_1d",
    category="T1-cascade",
    oracle="""
        WITH t1 AS (
            SELECT time_bucket(INTERVAL '1 hour', ts) AS h,
                   event_type,
                   count(*) AS n_events,
                   sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS sum_scaled,
                   min(value) AS min_value,
                   max(value) AS max_value
            FROM events
            GROUP BY h, event_type
        ), t2 AS (
            SELECT time_bucket(INTERVAL '1 day', h) AS window_start,
                   event_type,
                   CAST(sum(n_events) AS BIGINT) AS n_events,
                   sum(sum_scaled) AS sum_scaled,
                   min(min_value)  AS min_value,
                   max(max_value)  AS max_value
            FROM t1
            GROUP BY window_start, event_type
        )
        SELECT window_start, event_type, n_events,
               sum_scaled / 10000.0 AS sum_value,
               min_value, max_value,
               (sum_scaled / 10000.0) / n_events AS avg_value
        FROM t2
    """,
)
def rollup_cascade_1h_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch analog of the cascading continuous aggregate
    (streaming/rollup.py): 1h partials re-aggregated to 1d, avg derived
    from partials at read time — proving the tier math is lossless.

    The SAME builders run the streaming tiers (golden test
    tests/test_rollup.py); at scale tier N+1 reads tier N's parquet
    (MBs of partials), never the raw events.
    """
    from ..streaming.rollup import rollup_coarsen, rollup_partials, with_derived_stats

    ev = load_table(spark, sf_dir, "events")
    t1 = rollup_partials(ev, "ts", "1 hour", ["event_type"], exact_decimals=4)
    t2 = rollup_coarsen(t1, "1 day", ["event_type"])
    return with_derived_stats(t2, exact_decimals=4).select(
        "window_start",
        "event_type",
        "n_events",
        "sum_value",
        "min_value",
        "max_value",
        "avg_value",
    )


@query(
    "geoip_range_enrich",
    category="J-geoip",
    oracle="""
        WITH ip AS (
            SELECT event_id,
                   167772160 + (event_id * 9973) % 1048576 AS ip_num
            FROM events
        ), ranges AS (
            SELECT 167772160 + i * 65536       AS lo,
                   167772160 + (i + 1) * 65536 - 1 AS hi,
                   'region_' || lpad(CAST(i AS VARCHAR), 2, '0') AS region
            FROM range(0, 16) t(i)
        )
        SELECT ip.event_id, ip.ip_num, r.region
        FROM ip JOIN ranges r ON ip.ip_num BETWEEN r.lo AND r.hi
    """,
)
def geoip_range_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoIP-style enrichment: map an IPv4 (as uint32) onto a range
    table (lo, hi, region) — the Logstash ``geoip`` join shape, with
    a deterministic synthetic /16 range dim standing in for the
    MaxMind database.

    The range dim is tiny → broadcast nested-loop with a BETWEEN
    predicate, evaluated without shuffling the fact side. At real
    GeoIP scale (~millions of ranges) the production form buckets
    both sides by ip >> 16 first, turning it into an equi-join with
    per-bucket range filter (same pattern as join_range_*).
    """
    ev = load_table(spark, sf_dir, "events")
    ip = ev.select(
        "event_id",
        (F.lit(167772160) + (F.col("event_id") * 9973) % 1048576).alias("ip_num"),
    )
    ranges = spark.range(0, 16).select(
        (F.lit(167772160) + F.col("id") * 65536).alias("lo"),
        (F.lit(167772160) + (F.col("id") + 1) * 65536 - 1).alias("hi"),
        F.concat(F.lit("region_"), F.lpad(F.col("id").cast("string"), 2, "0")).alias(
            "region"
        ),
    )
    return ip.join(
        F.broadcast(ranges),
        (F.col("ip_num") >= F.col("lo")) & (F.col("ip_num") <= F.col("hi")),
    ).select("event_id", "ip_num", "region")


@query(
    "dq_checks_events",
    category="Q-dq",
    oracle="""
        SELECT 'not_null:props' AS rule,
               count(CASE WHEN props IS NULL THEN 1 END) AS n_violations,
               count(*) AS n_rows
        FROM events
        UNION ALL
        SELECT 'in_range:value',
               count(CASE WHEN value IS NULL OR value < 0 OR value >= 500 THEN 1 END),
               count(*)
        FROM events
        UNION ALL
        SELECT 'accepted_values:event_type',
               count(CASE WHEN event_type IS NULL OR event_type NOT IN
                     ('click','view','purchase','signup','error') THEN 1 END),
               count(*)
        FROM events
        UNION ALL
        SELECT 'unique:event_id',
               count(event_id) - count(DISTINCT event_id),
               count(*)
        FROM events
        UNION ALL
        SELECT 'foreign_key:user_id->c_custkey',
               (SELECT count(*) FROM events e
                WHERE e.user_id IS NOT NULL
                  AND e.user_id NOT IN (SELECT c_custkey FROM customer)),
               count(*)
        FROM events
    """,
)
def dq_checks_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate (operators/quality.py): five expectations over
    events — null check, range, accepted values, key uniqueness,
    referential integrity to customer — where all row-local rules plus
    uniqueness share ONE aggregate over ONE scan, and the FK check adds
    a single anti-join. The (rule, n_violations, n_rows) contract is
    what a pipeline gates on before promoting a batch/partition.
    """
    from ..operators.quality import (
        accepted_values,
        in_range,
        not_null,
        quality_report,
    )

    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    return quality_report(
        ev,
        row_rules=[
            not_null("props"),
            in_range("value", 0, 500),
            accepted_values(
                "event_type", ["click", "view", "purchase", "signup", "error"]
            ),
        ],
        unique_key="event_id",
        foreign_keys=[("user_id", cust, "c_custkey")],
    )


@query(
    "profile_columns_events",
    category="Q1-profile",
    oracle="""
        SELECT 'event_id' AS col_name,
               count(*) - count(event_id) AS n_nulls,
               count(DISTINCT event_id) AS n_distinct,
               CAST(min(event_id) AS DOUBLE) AS min_num,
               CAST(max(event_id) AS DOUBLE) AS max_num
        FROM events
        UNION ALL
        SELECT 'event_type', count(*) - count(event_type),
               count(DISTINCT event_type), NULL, NULL FROM events
        UNION ALL
        SELECT 'props', count(*) - count(props),
               count(DISTINCT props), NULL, NULL FROM events
        UNION ALL
        SELECT 'ts', count(*) - count(ts), count(DISTINCT ts),
               CAST(epoch_us(min(ts)) AS DOUBLE),
               CAST(epoch_us(max(ts)) AS DOUBLE) FROM events
        UNION ALL
        SELECT 'user_id', count(*) - count(user_id),
               count(DISTINCT user_id),
               CAST(min(user_id) AS DOUBLE),
               CAST(max(user_id) AS DOUBLE) FROM events
        UNION ALL
        SELECT 'value', count(*) - count(value),
               count(DISTINCT value),
               CAST(min(value) AS DOUBLE),
               CAST(max(value) AS DOUBLE) FROM events
        ORDER BY col_name
    """,
)
def profile_columns_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-table column profile (the Deequ/Glue-profiler shape that
    feeds schema-drift alerts): per column — null count, exact
    distinct count, numeric min/max (timestamps as epoch-µs) — as one
    tidy (col_name, n_nulls, n_distinct, min_num, max_num) frame.

    Scale: ONE scan. All metrics land in a single agg; the multi-
    column exact distincts make Catalyst Expand the input 6× into one
    shuffle — exact is the oracle-checkable contract here, and at
    100 TB the drop-in relaxation is `approx_count_distinct` per
    column, which removes the Expand entirely (HLL partials merge
    map-side; see A3). The wide 1-row aggregate is then unpivoted
    driver-free via `stack`. The oracle's 6-scan UNION ALL is the
    naive form, kept oracle-side only.
    """
    ev = load_table(spark, sf_dir, "events")
    total = F.count(F.lit(1))

    def metrics(c, num=None):
        return [
            (total - F.count(c)).alias(f"nn_{c}"),
            F.count_distinct(F.col(c)).alias(f"nd_{c}"),
            (num.min().cast("double") if num is not None else F.lit(None).cast("double")).alias(f"mn_{c}"),
            (num.max().cast("double") if num is not None else F.lit(None).cast("double")).alias(f"mx_{c}"),
        ]

    class _MinMax:
        """min/max expression pair builder for the numeric columns."""

        def __init__(self, expr):
            self.expr = expr

        def min(self):
            return self.expr(F.min)

        def max(self):
            return self.expr(F.max)

    num_cols = {
        "event_id": _MinMax(lambda agg: agg("event_id")),
        "user_id": _MinMax(lambda agg: agg("user_id")),
        "value": _MinMax(lambda agg: agg("value")),
        "ts": _MinMax(lambda agg: F.unix_micros(agg("ts"))),
    }
    cols = ["event_id", "event_type", "props", "ts", "user_id", "value"]
    aggs = []
    for c in cols:
        aggs.extend(metrics(c, num_cols.get(c)))
    wide = ev.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', nn_{c}, nd_{c}, mn_{c}, mx_{c}" for c in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS "
        "(col_name, n_nulls, n_distinct, min_num, max_num)"
    ).orderBy("col_name")


@query(
    "statsd_parse_agg",
    category="S6-statsd",
    oracle="""
        WITH synth AS (
            SELECT event_type AS metric,
                   round(value, 2) AS v,
                   CASE event_id % 3 WHEN 0 THEN 'c'
                                     WHEN 1 THEN 'g' ELSE 'ms' END AS mtype,
                   CASE WHEN event_id % 5 = 0 AND event_id % 3 = 0
                        THEN 0.5 ELSE 1.0 END AS rate
            FROM events
        )
        SELECT metric, mtype,
               count(*) AS n,
               CAST(sum(CAST(floor((CASE WHEN mtype = 'c' THEN v / rate ELSE v END)
                              * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_scaled_cents
        FROM synth
        GROUP BY metric, mtype
    """,
)
def statsd_parse_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statsd wire-format roundtrip under oracle check: lines are
    SYNTHESIZED from event fields (counter/gauge/timer cycling, @0.5
    sample rate on some counters), run through parse_statsd, and
    aggregated with counter values rescaled by 1/sample_rate — the
    oracle computes the same expectation straight from the source
    columns, so any parser regression (regex groups, rate default,
    scaling rule) breaks the hash. Parsing is pure codegen regex —
    scan-bandwidth-bound at ingest scale.
    """
    from ..sources.statsd import parse_statsd

    ev = load_table(spark, sf_dir, "events")
    line = F.concat(
        F.col("event_type"),
        F.lit(":"),
        F.round(F.col("value"), 2).cast("string"),
        F.lit("|"),
        F.when(F.col("event_id") % 3 == 0, "c")
        .when(F.col("event_id") % 3 == 1, "g")
        .otherwise("ms"),
        F.when(
            (F.col("event_id") % 5 == 0) & (F.col("event_id") % 3 == 0), "|@0.5"
        ).otherwise(""),
    )
    parsed = parse_statsd(ev.select(line.alias("value")), "value")
    return (
        parsed.groupBy(
            F.col("metric"), F.col("metric_type").alias("mtype")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("scaled_value") * 100 + F.lit(0.5)).cast("long")
            ).alias("sum_scaled_cents"),
        )
    )


@query(
    "lateral_topn_per_group",
    category="4.1-lateral",
    oracle="""
        SELECT t.event_type, l.event_id, l.ts
        FROM (SELECT DISTINCT event_type FROM events) t,
        LATERAL (
            SELECT event_id, ts FROM events e
            WHERE e.event_type = t.event_type
            ORDER BY e.ts DESC, e.event_id DESC
            LIMIT 3
        ) l
    """,
)
def lateral_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: 3 most recent events per type as a
    per-row dependent subquery. Catalyst decorrelates the
    DomainJoin into a windowed plan rather than executing the inner
    query once per outer row — the same result as window_top3_per_user
    expressed in the SQL dialect users of LATERAL-speaking engines
    bring with them.
    """
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("_lat_events")
    return spark.sql(
        """
        SELECT t.event_type, l.event_id, l.ts
        FROM (SELECT DISTINCT event_type FROM _lat_events) t,
        LATERAL (
            SELECT event_id, ts FROM _lat_events e
            WHERE e.event_type = t.event_type
            ORDER BY e.ts DESC, e.event_id DESC
            LIMIT 3
        ) l
        """
    )


@query(
    "not_in_null_semantics",
    category="4.2-notin",
    oracle="""
        SELECT
            (SELECT count(*) FROM customer
             WHERE c_custkey NOT IN (SELECT user_id FROM events))
                AS n_not_in_clean,
            (SELECT count(*) FROM customer
             WHERE c_custkey NOT IN (SELECT CASE WHEN user_id = 1 THEN NULL
                                                 ELSE user_id END
                                     FROM events))
                AS n_not_in_with_null,
            (SELECT count(*) FROM customer c
             WHERE NOT EXISTS (SELECT 1 FROM events e
                               WHERE e.user_id = c.c_custkey))
                AS n_not_exists
    """,
)
def not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NOT IN three-valued-logic trap, pinned: one NULL in the
    subquery makes every NOT IN row UNKNOWN → count 0, while NOT
    EXISTS (a null-safe anti-join) keeps working. Both engines agree
    on the ANSI behavior; the query exists so the surprising result is
    a documented contract, and as the reminder that anti-join (the
    plan NOT EXISTS produces) is the scalable form — NOT IN with a
    nullable column forces a null-aware anti-join, a much more
    expensive operator.
    """
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    ev.createOrReplaceTempView("_nn_events")
    cust.createOrReplaceTempView("_nn_customer")
    return spark.sql(
        """
        SELECT
            (SELECT count(*) FROM _nn_customer
             WHERE c_custkey NOT IN (SELECT user_id FROM _nn_events))
                AS n_not_in_clean,
            (SELECT count(*) FROM _nn_customer
             WHERE c_custkey NOT IN (SELECT CASE WHEN user_id = 1 THEN NULL
                                                 ELSE user_id END
                                     FROM _nn_events))
                AS n_not_in_with_null,
            (SELECT count(*) FROM _nn_customer c
             WHERE NOT EXISTS (SELECT 1 FROM _nn_events e
                               WHERE e.user_id = c.c_custkey))
                AS n_not_exists
        """
    )


@query(
    "json_schema_census",
    category="Q1-schema",
    oracle="""
        WITH keysets AS (
            SELECT CASE WHEN props IS NULL THEN '<null>'
                        ELSE coalesce(
                            array_to_string(list_sort(json_keys(props)), ','),
                            '<invalid>')
                   END AS key_set
            FROM events
        )
        SELECT key_set, count(*) AS n_rows
        FROM keysets
        GROUP BY key_set
        ORDER BY n_rows DESC, key_set
    """,
)
def json_schema_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured SCHEMA-DRIFT census: the sorted key set of each
    JSON payload, counted — the one-query answer to "what shapes are
    actually in this stream, and when did a producer add a field".
    New/renamed/dropped keys show up as a new key_set row; feeding
    deployments gate on this census not changing unexpectedly.

    Scale: key extraction is a codegen'd JVM JSON walk per row (no
    Python), census is one low-cardinality aggregate — same cost as a
    count by type. Malformed payloads census as '<invalid>' (PERMISSIVE
    NULL from json_object_keys), NULLs as '<null>'.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(json_key_set("props").alias("key_set"))
        .groupBy("key_set")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


@query(
    "key_skew_profile",
    category="Q2-skew",
    oracle="""
        WITH u AS (
            SELECT count(*) AS c FROM events GROUP BY user_id
        ), t AS (
            SELECT count(*) AS c FROM events GROUP BY event_type
        ), up AS (
            SELECT 'user_id' AS key_col,
                   CAST(count(*) AS BIGINT) AS n_keys,
                   round(max(c) * 1.0 / sum(c), 6) AS top1_share,
                   round(-sum((c * 1.0 / (SELECT sum(c) FROM u))
                              * ln(c * 1.0 / (SELECT sum(c) FROM u))), 6)
                       AS entropy
            FROM u
        ), tp AS (
            SELECT 'event_type',
                   CAST(count(*) AS BIGINT),
                   round(max(c) * 1.0 / sum(c), 6),
                   round(-sum((c * 1.0 / (SELECT sum(c) FROM t))
                              * ln(c * 1.0 / (SELECT sum(c) FROM t))), 6)
            FROM t
        )
        SELECT * FROM up UNION ALL SELECT * FROM tp
        ORDER BY key_col
    """,
)
def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key SKEW profiler: per candidate partition key — key
    cardinality, heaviest-key share, and Shannon entropy of the key
    distribution. This is the measurement that decides the join/agg
    strategy this repo's SCALE.md prescribes (top1_share ≫ 1/n_keys ⇒
    AQE skew split or salting; high entropy ⇒ plain hash partitioning
    is fine). Profiling before partitioning is how the 341 s fuzzy-
    join blocking regression was caught — this query productizes it.

    Scale: one count-per-key aggregate per candidate column (map-side
    combinable) and a tiny second-level fold; entropy needs the total,
    a 1-row broadcast. Never sorts, never windows over raw data.
    """
    ev = load_table(spark, sf_dir, "events")

    def profile(col: str):
        per_key = ev.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
        tot = per_key.agg(F.sum("c").alias("n"))
        p = F.col("c") / F.col("n")
        return (
            per_key.crossJoin(F.broadcast(tot))
            .agg(
                F.lit(col).alias("key_col"),
                F.count(F.lit(1)).cast("long").alias("n_keys"),
                F.round(F.max("c") / F.any_value("n"), 6).alias("top1_share"),
                F.round(-F.sum(p * F.log(p)), 6).alias("entropy"),
            )
        )

    return profile("user_id").unionAll(profile("event_type")).orderBy("key_col")


@query(
    "rapid_fire_duplicates",
    category="Q3-rapidfire",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type, ts, event_id,
                   epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us
            FROM events
            WINDOW w AS (PARTITION BY user_id, event_type
                         ORDER BY ts, event_id)
        )
        SELECT user_id, event_type,
               CAST(count(*) AS BIGINT) AS n_rapid,
               CAST(min(gap_us) AS BIGINT) AS min_gap_us
        FROM seq
        WHERE gap_us IS NOT NULL AND gap_us <= 1800000000
        GROUP BY user_id, event_type
        ORDER BY n_rapid DESC, user_id, event_type
        LIMIT 20
    """,
)
def rapid_fire_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rapid-fire duplicate audit: same (user, type) events closer
    than a threshold (30 min here — sized to the testdata's sparse
    per-key rate so the check exercises rows; production uses ~1 s) — the double-click / retry-storm / at-least-once-producer
    signature that exact dedup (different event_ids) cannot catch and
    throttling should. The census feeds either a dedup-window config
    (T5) or a client-side fix.

    Scale: one (user, type)-keyed lag window — same exchange class as
    sessionize; the census aggregates only the flagged rows.
    """
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    return (
        ev.select("user_id", "event_type", gap.alias("gap_us"))
        .filter(F.col("gap_us").isNotNull() & (F.col("gap_us") <= 1_800_000_000))
        .groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rapid"),
            F.min("gap_us").cast("long").alias("min_gap_us"),
        )
        .orderBy(F.col("n_rapid").desc(), "user_id", "event_type")
        .limit(20)
    )


@query(
    "pk_candidate_census",
    category="Q1-profile",
    oracle="""
        WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM events)
        SELECT c.combo, c.n_distinct, n.n_rows,
               c.n_distinct = n.n_rows AS is_unique,
               round(c.n_distinct * 1.0 / n.n_rows, 6) AS uniqueness
        FROM (
            SELECT 'event_id' AS combo,
                   CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct
            FROM events
            UNION ALL
            SELECT 'user_id', CAST(count(DISTINCT user_id) AS BIGINT)
            FROM events
            UNION ALL
            SELECT 'user_id+ts',
                   CAST(count(DISTINCT user_id || '|' || CAST(epoch_us(ts) AS VARCHAR))
                        AS BIGINT)
            FROM events
            UNION ALL
            SELECT 'event_type+ts',
                   CAST(count(DISTINCT event_type || '|' || CAST(epoch_us(ts) AS VARCHAR))
                        AS BIGINT)
            FROM events
        ) c, n
        ORDER BY c.combo
    """,
)
def pk_candidate_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key candidate detection (Q1 profiling breadth): for
    each candidate column combo, distinct-count vs row-count decides
    whether it is a valid key — the first question every ingestion
    pipeline asks of an unknown feed (and the input to choosing dedup
    and MERGE keys). Composite candidates hash through a '|'-joined
    string exactly as the dedup operators mint their keys.

    Scale: one scan, one multi-count-distinct aggregate (Catalyst
    expands to one Expand + two-phase agg — same shape as A2); the
    row count rides the same pass. At 100 TB swap the exact distincts
    for approx_count_distinct and gate with sketch_accuracy_gates.
    """
    ev = load_table(spark, sf_dir, "events")
    combo_ts = F.concat_ws(
        "|", F.col("user_id"), F.unix_micros("ts").cast("string")
    )
    combo_et = F.concat_ws(
        "|", F.col("event_type"), F.unix_micros("ts").cast("string")
    )
    agg = ev.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count_distinct("event_id").cast("long").alias("d_eid"),
        F.count_distinct("user_id").cast("long").alias("d_uid"),
        F.count_distinct(combo_ts).cast("long").alias("d_uts"),
        F.count_distinct(combo_et).cast("long").alias("d_ets"),
    )
    # explode the single agg row into 4 presentation rows — a 4-way
    # union of the agg frame would recompute it (4 scans); this keeps
    # ONE scan + one Expand-based multi-distinct aggregate
    kv = F.explode(
        F.array(
            F.struct(F.lit("event_id").alias("combo"), F.col("d_eid").alias("n_distinct")),
            F.struct(F.lit("event_type+ts").alias("combo"), F.col("d_ets").alias("n_distinct")),
            F.struct(F.lit("user_id").alias("combo"), F.col("d_uid").alias("n_distinct")),
            F.struct(F.lit("user_id+ts").alias("combo"), F.col("d_uts").alias("n_distinct")),
        )
    )
    return (
        agg.select(kv.alias("kv"), "n_rows")
        .select(
            F.col("kv.combo").alias("combo"),
            F.col("kv.n_distinct").alias("n_distinct"),
            "n_rows",
            (F.col("kv.n_distinct") == F.col("n_rows")).alias("is_unique"),
            F.round(F.col("kv.n_distinct") / F.col("n_rows"), 6).alias("uniqueness"),
        )
        .orderBy("combo")
    )


def _spatial_oracle() -> str:
    from ._shared import md5_uniform_sql

    lat_u = md5_uniform_sql("concat('clat|', cast(c_custkey as varchar))")
    lon_u = md5_uniform_sql("concat('clon|', cast(c_custkey as varchar))")
    lat = f"({lat_u} - 0.5) * 180.0"
    lon = f"({lon_u} - 0.5) * 360.0"
    return f"""
        WITH pts AS (
            SELECT c_custkey AS id, {lat} AS lat, {lon} AS lon
            FROM customer
        ), cells AS (
            SELECT id, lat, lon,
                   CAST(floor(lat) AS BIGINT) AS cy,
                   CAST(floor(lon) AS BIGINT) AS cx
            FROM pts
        ), probe AS (
            SELECT id, lat, lon, cy + dy AS ty, cx + dx AS tx
            FROM cells,
                 (SELECT unnest([-1, 0, 1]) AS dy) a,
                 (SELECT unnest([-1, 0, 1]) AS dx) b
        ), pairs AS (
            SELECT p.id AS id1, c.id AS id2,
                   p.lat AS lat1, p.lon AS lon1, c.lat AS lat2, c.lon AS lon2
            FROM probe p JOIN cells c ON p.ty = c.cy AND p.tx = c.cx
            WHERE p.id < c.id
              AND abs(p.lat - c.lat) <= 1.0
              AND abs(p.lon - c.lon) <= 1.0
        )
        SELECT id1, id2,
               round(2.0 * 6371.0088 * asin(least(1.0, sqrt(
                   sin(radians(lat2 - lat1) / 2) * sin(radians(lat2 - lat1) / 2)
                   + cos(radians(lat1)) * cos(radians(lat2))
                     * sin(radians(lon2 - lon1) / 2)
                     * sin(radians(lon2 - lon1) / 2)))), 4) AS dist_km
        FROM pairs
        ORDER BY id1, id2
    """


@query("spatial_grid_join_pairs", category="J12-spatial", oracle=_spatial_oracle())
def spatial_grid_join_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-blocked spatial self-join (J12, new family): all customer
    pairs within a 1°×1° degree box, found by bucketing points into
    1° grid cells and probing each point's 9-neighbor cells — the
    canonical spatial-join-at-scale shape (DJ/partition-based spatial
    join): candidate pairs exist only inside a cell equi join, never
    point×point. Each surviving pair is reported with its haversine
    distance. Coordinates are md5-minted per customer (the repo's
    deterministic mint), the box predicate is exact in degree space
    (no lon wraparound at ±180 — stated limitation of the degree box;
    production would wrap cx modulo 360).

    Pair uniqueness is structural: a point's HOME cell is unique, so
    probe(9 cells) >< home emits each (a < b) pair exactly once — no
    DISTINCT needed.

    Scale: explode ×9 on the probe side only; the join is an equi
    join on cell ids, so work is Σ(per-cell points²) bounded by
    density, and AQE skew-split handles hot cells (cities). The
    verify predicate and distance run as codegen trig post-join.

    Variant-of: ``geo_grid_neighbor_pairs`` — r7 twin expands neighbor cells probe-side.
    """
    from ..functions.sampling import md5_uniform

    cust = load_table(spark, sf_dir, "customer")
    lat = (md5_uniform("concat('clat|', cast(c_custkey as string))") - 0.5) * 180.0
    lon = (md5_uniform("concat('clon|', cast(c_custkey as string))") - 0.5) * 360.0
    pts = cust.select(
        F.col("c_custkey").alias("id"), lat.alias("lat"), lon.alias("lon"),
        F.floor(lat).cast("long").alias("cy"),
        F.floor(lon).cast("long").alias("cx"),
    )
    offsets = F.explode(
        F.array(*[
            F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"))
            for dy in (-1, 0, 1) for dx in (-1, 0, 1)
        ])
    )
    probe = pts.select(
        F.col("id").alias("id1"), F.col("lat").alias("lat1"),
        F.col("lon").alias("lon1"), "cy", "cx", offsets.alias("o")
    ).select(
        "id1", "lat1", "lon1",
        (F.col("cy") + F.col("o.dy")).alias("ty"),
        (F.col("cx") + F.col("o.dx")).alias("tx"),
    )
    home = pts.select(
        F.col("id").alias("id2"), F.col("lat").alias("lat2"),
        F.col("lon").alias("lon2"), "cy", "cx",
    )
    pairs = probe.join(
        home, (F.col("ty") == F.col("cy")) & (F.col("tx") == F.col("cx"))
    ).filter(
        (F.col("id1") < F.col("id2"))
        & (F.abs(F.col("lat1") - F.col("lat2")) <= 1.0)
        & (F.abs(F.col("lon1") - F.col("lon2")) <= 1.0)
    )
    dphi = F.radians(F.col("lat2") - F.col("lat1")) / 2
    dlmb = F.radians(F.col("lon2") - F.col("lon1")) / 2
    h = (
        F.sin(dphi) * F.sin(dphi)
        + F.cos(F.radians("lat1")) * F.cos(F.radians("lat2"))
        * F.sin(dlmb) * F.sin(dlmb)
    )
    dist = 2.0 * 6371.0088 * F.asin(F.least(F.lit(1.0), F.sqrt(h)))
    return pairs.select(
        "id1", "id2", F.round(dist, 4).alias("dist_km")
    )


_GH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _geohash_expr(div: str) -> str:
    """Geohash-6 (30 bits: 15 lon + 15 lat, lon leads) as pure integer
    arithmetic over pre-quantized cell indices ``lon_idx``/``lat_idx``
    — one shared expression text, parameterized only by the integer-
    division token (DuckDB ``//`` vs Spark ``div``), so bit
    interleaving cannot drift between engines."""
    terms = []
    for k in range(15):
        terms.append(f"((lon_idx {div} {1 << k}) % 2) * {1 << (2 * k + 1)}")
        terms.append(f"((lat_idx {div} {1 << k}) % 2) * {1 << (2 * k)}")
    combined = " + ".join(terms)
    chars = " || ".join(
        f"substr('{_GH32}', CAST((c {div} {32 ** (5 - j)}) % 32 AS INT) + 1, 1)"
        for j in range(6)
    )
    return f"SELECT *, ({chars}) AS gh6 FROM (SELECT *, ({combined}) AS c FROM pts_idx)"


def _geohash_oracle() -> str:
    from ._shared import md5_uniform_sql

    lat_u = md5_uniform_sql("concat('glat|', cast(c_custkey as varchar))")
    lon_u = md5_uniform_sql("concat('glon|', cast(c_custkey as varchar))")
    return f"""
        WITH raw AS (
            SELECT c_custkey AS id,
                   ({lat_u} - 0.5) * 180.0 AS lat,
                   ({lon_u} - 0.5) * 540.0 AS lon_raw
            FROM customer
        ), wrapped AS (
            SELECT id, lat,
                   lon_raw - 360.0 * floor((lon_raw + 180.0) / 360.0) AS lon,
                   CASE WHEN lon_raw < -180.0 OR lon_raw >= 180.0
                        THEN 1 ELSE 0 END AS was_wrapped
            FROM raw
        ), pts_idx AS (
            SELECT id, was_wrapped,
                   least(CAST(floor((lat + 90.0) / 180.0 * 32768.0) AS BIGINT),
                         32767) AS lat_idx,
                   least(CAST(floor((lon + 180.0) / 360.0 * 32768.0) AS BIGINT),
                         32767) AS lon_idx
            FROM wrapped
        ), hashed AS ({_geohash_expr('//')})
        SELECT gh6, count(*) AS n_points,
               CAST(sum(was_wrapped) AS BIGINT) AS n_wrapped
        FROM hashed
        GROUP BY gh6
        ORDER BY n_points DESC, gh6
        LIMIT 25
    """


@query("geohash_cell_census", category="J12-spatial", oracle=_geohash_oracle())
def geohash_cell_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash-6 cell census WITH longitude wraparound — the spatial
    bucketing companion to spatial_grid_join_pairs, which documents
    its no-wrap limitation; this query closes it. Points are md5-minted
    per customer with lon deliberately minted in (-270°, 270°) so a
    third of them cross the antimeridian and MUST be wrapped into
    [-180°, 180°) (lon − 360·floor((lon+180)/360)) before encoding —
    n_wrapped per cell is the hash-checked witness that wrapping
    actually happened. Encoding is the real geohash bit layout (30
    bits, lon leads, base32 "0123456789bcdefghjkmnpqrstuvwxyz"),
    computed as pure integer interleaving over quantized cell indices
    — one generated expression shared with the oracle modulo the
    integer-division token, so no per-row Python and no float in the
    bit path (the only floats are the quantizers, mirrored op-for-op).

    Scale: stateless map over the scan + ONE count shuffle on gh6;
    geohash prefixes are the standard spatial partitioning key at
    100 TB (co-locating neighbors for range/knn probes), which is why
    the cell id must be engine-reproducible down to the bit.
    """
    from ..functions.sampling import md5_uniform

    cust = load_table(spark, sf_dir, "customer")
    lat = (md5_uniform("concat('glat|', cast(c_custkey as string))") - 0.5) * 180.0
    lon_raw = (md5_uniform("concat('glon|', cast(c_custkey as string))") - 0.5) * 540.0
    raw = cust.select(
        F.col("c_custkey").alias("id"), lat.alias("lat"), lon_raw.alias("lon_raw")
    )
    lon = F.col("lon_raw") - 360.0 * F.floor((F.col("lon_raw") + 180.0) / 360.0)
    wrapped = raw.select(
        "id", "lat", lon.alias("lon"),
        F.when((F.col("lon_raw") < -180.0) | (F.col("lon_raw") >= 180.0), 1)
        .otherwise(0).alias("was_wrapped"),
    )
    pts_idx = wrapped.select(
        "id", "was_wrapped",
        F.least(
            F.floor((F.col("lat") + 90.0) / 180.0 * 32768.0).cast("long"),
            F.lit(32767),
        ).alias("lat_idx"),
        F.least(
            F.floor((F.col("lon") + 180.0) / 360.0 * 32768.0).cast("long"),
            F.lit(32767),
        ).alias("lon_idx"),
    )
    pts_idx.createOrReplaceTempView("pts_idx")
    hashed = spark.sql(_geohash_expr("div"))
    return (
        hashed.groupBy("gh6")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum("was_wrapped").cast("long").alias("n_wrapped"),
        )
        .orderBy(F.col("n_points").desc(), "gh6")
        .limit(25)
    )


def _knn_wrap_oracle() -> str:
    from ._shared import md5_uniform_sql

    lat_u = md5_uniform_sql("concat('glat|', cast(c_custkey as varchar))")
    lon_u = md5_uniform_sql("concat('glon|', cast(c_custkey as varchar))")
    return f"""
        WITH raw AS (
            SELECT c_custkey AS id,
                   ({lat_u} - 0.5) * 180.0 AS lat,
                   ({lon_u} - 0.5) * 540.0 AS lon_raw
            FROM customer
        ), pts AS (
            SELECT id, lat,
                   lon_raw - 360.0 * floor((lon_raw + 180.0) / 360.0) AS lon
            FROM raw
        ), cells AS (
            SELECT id, lat, lon,
                   CAST(floor(lat / 10.0) AS BIGINT) AS cy,
                   CAST(floor(lon / 10.0) AS BIGINT) AS cx
            FROM pts
        ), q AS (
            SELECT * FROM cells
            WHERE abs(lon) >= 170.0
            ORDER BY id LIMIT 1
        ), probe AS (
            SELECT q.id AS qid, q.lat AS qlat, q.lon AS qlon,
                   q.cy + dy.d AS ty,
                   ((q.cx + dx.d + 18) % 36 + 36) % 36 - 18 AS tx
            FROM q,
                 (SELECT unnest([-1, 0, 1]) AS d) dy,
                 (SELECT unnest([-1, 0, 1]) AS d) dx
        ), cand AS (
            SELECT p.qid, c.id, c.lat, c.lon, p.qlat, p.qlon
            FROM probe p JOIN cells c ON p.ty = c.cy AND p.tx = c.cx
            WHERE c.id <> p.qid
        )
        SELECT id AS cand_id,
               round(2.0 * 6371.0088 * asin(least(1.0, sqrt(
                   sin(radians(lat - qlat) / 2) * sin(radians(lat - qlat) / 2)
                   + cos(radians(qlat)) * cos(radians(lat))
                     * sin(radians(lon - qlon) / 2)
                     * sin(radians(lon - qlon) / 2)))), 4) AS dist_km,
               CASE WHEN lon >= 0 THEN 'E' ELSE 'W' END AS lon_side
        FROM cand
        ORDER BY dist_km, cand_id
        LIMIT 5
    """


@query("spatial_knn_wrapped_probe", category="J12-spatial", oracle=_knn_wrap_oracle())
def spatial_knn_wrapped_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-probed kNN AT THE ANTIMERIDIAN — the failure case
    spatial_grid_join_pairs documents and geohash_cell_census's
    wraparound fixes, completed into a query: the query point is the
    first customer within 10° of ±180° (deterministic argmin pick),
    its 3×3 neighborhood of 10° cells is probed with the cell COLUMN
    wrapped modulo 36 (((cx+dx+18) mod 36 + 36) mod 36 − 18 — the
    cells at cx=17 and cx=−18 are adjacent), and candidates re-rank
    by exact haversine. No distance correction is needed: haversine's
    sin(Δλ/2)² is 360°-periodic, so only CANDIDATE GENERATION breaks
    at the seam — precisely what the wrap repairs. The lon_side
    column witnesses that the top-5 straddles E and W longitudes.

    Shares the glat/glon md5 mint with geohash_cell_census — one
    point cloud, two spatial index queries.

    Scale: the probe side is 9 rows broadcast against the cell-keyed
    point table (equi join on (cy, cx)); candidates are one
    neighborhood's points, re-ranked by a heap. Ring expansion (probe
    5×5 if < k found) is the documented production extension.
    """
    from ..functions.sampling import md5_uniform

    cust = load_table(spark, sf_dir, "customer")
    lat = (md5_uniform("concat('glat|', cast(c_custkey as string))") - 0.5) * 180.0
    lon_raw = (md5_uniform("concat('glon|', cast(c_custkey as string))") - 0.5) * 540.0
    lon = F.col("lon_raw") - 360.0 * F.floor((F.col("lon_raw") + 180.0) / 360.0)
    cells = (
        cust.select(
            F.col("c_custkey").alias("id"), lat.alias("lat"), lon_raw.alias("lon_raw")
        )
        .select("id", "lat", lon.alias("lon"))
        .select(
            "id", "lat", "lon",
            F.floor(F.col("lat") / 10.0).cast("long").alias("cy"),
            F.floor(F.col("lon") / 10.0).cast("long").alias("cx"),
        )
    )
    qpt = (
        cells.filter(F.abs(F.col("lon")) >= 170.0)
        .orderBy("id")
        .limit(1)
        .select(
            F.col("id").alias("qid"), F.col("lat").alias("qlat"),
            F.col("lon").alias("qlon"), F.col("cy").alias("qcy"),
            F.col("cx").alias("qcx"),
        )
    )
    offsets = F.explode(
        F.array(*[
            F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"))
            for dy in (-1, 0, 1) for dx in (-1, 0, 1)
        ])
    )
    probe = qpt.select("qid", "qlat", "qlon", "qcy", "qcx", offsets.alias("o")).select(
        "qid", "qlat", "qlon",
        (F.col("qcy") + F.col("o.dy")).alias("ty"),
        (((F.col("qcx") + F.col("o.dx") + 18) % 36 + 36) % 36 - 18).alias("tx"),
    )
    cand = cells.join(
        F.broadcast(probe),
        (F.col("ty") == F.col("cy")) & (F.col("tx") == F.col("cx")),
    ).filter(F.col("id") != F.col("qid"))
    dphi = F.radians(F.col("lat") - F.col("qlat")) / 2
    dlmb = F.radians(F.col("lon") - F.col("qlon")) / 2
    h = (
        F.sin(dphi) * F.sin(dphi)
        + F.cos(F.radians("qlat")) * F.cos(F.radians("lat"))
        * F.sin(dlmb) * F.sin(dlmb)
    )
    dist = 2.0 * 6371.0088 * F.asin(F.least(F.lit(1.0), F.sqrt(h)))
    return (
        cand.select(
            F.col("id").alias("cand_id"),
            F.round(dist, 4).alias("dist_km"),
            F.when(F.col("lon") >= 0, F.lit("E")).otherwise(F.lit("W")).alias("lon_side"),
        )
        .orderBy("dist_km", "cand_id")
        .limit(5)
    )


def _knn_ring_oracle() -> str:
    from ._shared import md5_uniform_sql

    lat_u = md5_uniform_sql("concat('glat|', cast(c_custkey as varchar))")
    lon_u = md5_uniform_sql("concat('glon|', cast(c_custkey as varchar))")
    return f"""
        WITH raw AS (
            SELECT c_custkey AS id,
                   ({lat_u} - 0.5) * 180.0 AS lat,
                   ({lon_u} - 0.5) * 540.0 AS lon_raw
            FROM customer
        ), cells AS (
            SELECT id, lat,
                   lon_raw - 360.0 * floor((lon_raw + 180.0) / 360.0) AS lon,
                   CAST(floor(lat / 5.0) AS BIGINT) AS cy,
                   CAST(floor((lon_raw - 360.0 * floor((lon_raw + 180.0)
                        / 360.0)) / 5.0) AS BIGINT) AS cx
            FROM raw
        ), q AS (
            SELECT * FROM cells ORDER BY id LIMIT 1
        ), probe AS (
            SELECT q.id AS qid, q.lat AS qlat, q.lon AS qlon,
                   q.cy + dy.d AS ty,
                   ((q.cx + dx.d + 36) % 72 + 72) % 72 - 36 AS tx,
                   greatest(abs(dy.d), abs(dx.d)) AS ring
            FROM q,
                 (SELECT unnest([-2, -1, 0, 1, 2]) AS d) dy,
                 (SELECT unnest([-2, -1, 0, 1, 2]) AS d) dx
        ), cand AS (
            SELECT p.qid, p.qlat, p.qlon, p.ring, c.id, c.lat, c.lon
            FROM probe p JOIN cells c ON p.ty = c.cy AND p.tx = c.cx
            WHERE c.id <> p.qid
        ), cut AS (
            SELECT CASE WHEN count(*) FILTER (WHERE ring <= 1) >= 10
                        THEN 1 ELSE 2 END AS rings_used
            FROM cand
        )
        SELECT id AS cand_id,
               round(2.0 * 6371.0088 * asin(least(1.0, sqrt(
                   sin(radians(lat - qlat) / 2) * sin(radians(lat - qlat) / 2)
                   + cos(radians(qlat)) * cos(radians(lat))
                     * sin(radians(lon - qlon) / 2)
                     * sin(radians(lon - qlon) / 2)))), 4) AS dist_km,
               CAST(ring AS BIGINT) AS ring,
               CAST(cut.rings_used AS BIGINT) AS rings_used
        FROM cand CROSS JOIN cut
        WHERE ring <= cut.rings_used
        ORDER BY dist_km, cand_id
        LIMIT 10
    """


@query("spatial_knn_ring_expansion", category="J12-spatial", oracle=_knn_ring_oracle())
def spatial_knn_ring_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid kNN with RING EXPANSION — the production extension
    spatial_knn_wrapped_probe's docstring promises: when the 3×3
    neighborhood holds fewer than k candidates, the probe widens to
    5×5. Done as ONE data-dependent pass, not driver-side control
    flow: all 25 offset cells are probed with their Chebyshev ring
    (home=0, 3×3 ring ≤1, 5×5 ring ≤2), the ring-≤1 candidate count
    becomes a 1-row broadcast scalar, and a CASE on it decides
    rings_used (1 if ≥k, else 2); only candidates at ring ≤
    rings_used survive the exact-haversine top-k re-rank. The
    per-candidate ring and the rings_used witness are hash-checked,
    so the oracle verifies the expansion DECISION, not just the
    distances. Cells are 5° (sparse at test SFs — the expansion
    genuinely fires), with the same modulo-72 antimeridian column
    wrap as the 3×3 probe.

    Scale: a 25-row broadcast probe against the cell-keyed point
    table; the expansion decision is a 1-row aggregate broadcast back
    — exactly how a distributed spatial index avoids a second scan:
    speculatively fetch the outer ring, gate it behind the inner
    count. At 100 TB the cell key is the partition key and the probe
    touches ≤25 partitions.
    """
    from ..functions.sampling import md5_uniform

    cust = load_table(spark, sf_dir, "customer")
    lat = (md5_uniform("concat('glat|', cast(c_custkey as string))") - 0.5) * 180.0
    lon_raw = (md5_uniform("concat('glon|', cast(c_custkey as string))") - 0.5) * 540.0
    lon = F.col("lon_raw") - 360.0 * F.floor((F.col("lon_raw") + 180.0) / 360.0)
    cells = (
        cust.select(
            F.col("c_custkey").alias("id"), lat.alias("lat"),
            lon_raw.alias("lon_raw"),
        )
        .select("id", "lat", lon.alias("lon"))
        .select(
            "id", "lat", "lon",
            F.floor(F.col("lat") / 5.0).cast("long").alias("cy"),
            F.floor(F.col("lon") / 5.0).cast("long").alias("cx"),
        )
    )
    qpt = cells.orderBy("id").limit(1).select(
        F.col("id").alias("qid"), F.col("lat").alias("qlat"),
        F.col("lon").alias("qlon"), F.col("cy").alias("qcy"),
        F.col("cx").alias("qcx"),
    )
    offsets = F.explode(
        F.array(*[
            F.struct(
                F.lit(dy).alias("dy"), F.lit(dx).alias("dx"),
                F.lit(max(abs(dy), abs(dx))).alias("ring"),
            )
            for dy in (-2, -1, 0, 1, 2) for dx in (-2, -1, 0, 1, 2)
        ])
    )
    probe = qpt.select("qid", "qlat", "qlon", "qcy", "qcx", offsets.alias("o")).select(
        "qid", "qlat", "qlon",
        (F.col("qcy") + F.col("o.dy")).alias("ty"),
        (((F.col("qcx") + F.col("o.dx") + 36) % 72 + 72) % 72 - 36).alias("tx"),
        F.col("o.ring").alias("ring"),
    )
    cand = cells.join(
        F.broadcast(probe),
        (F.col("ty") == F.col("cy")) & (F.col("tx") == F.col("cx")),
    ).filter(F.col("id") != F.col("qid")).persist()
    cut = cand.agg(
        F.when(
            F.sum(F.when(F.col("ring") <= 1, 1).otherwise(0)) >= 10, F.lit(1)
        ).otherwise(F.lit(2)).cast("long").alias("rings_used")
    )
    dphi = F.radians(F.col("lat") - F.col("qlat")) / 2
    dlmb = F.radians(F.col("lon") - F.col("qlon")) / 2
    h = (
        F.sin(dphi) * F.sin(dphi)
        + F.cos(F.radians("qlat")) * F.cos(F.radians("lat"))
        * F.sin(dlmb) * F.sin(dlmb)
    )
    dist = 2.0 * 6371.0088 * F.asin(F.least(F.lit(1.0), F.sqrt(h)))
    return (
        cand.crossJoin(F.broadcast(cut))
        .filter(F.col("ring") <= F.col("rings_used"))
        .select(
            F.col("id").alias("cand_id"),
            F.round(dist, 4).alias("dist_km"),
            F.col("ring").cast("long").alias("ring"),
            "rings_used",
        )
        .orderBy("dist_km", "cand_id")
        .limit(10)
    )


def _zkey_expr(div: str) -> str:
    """8-bit×8-bit Morton (Z-order) interleave over lat_idx/lon_idx —
    same generated-integer-arithmetic trick as _geohash_expr."""
    terms = []
    for k in range(8):
        terms.append(f"((lon_idx {div} {1 << k}) % 2) * {1 << (2 * k)}")
        terms.append(f"((lat_idx {div} {1 << k}) % 2) * {1 << (2 * k + 1)}")
    return "(" + " + ".join(terms) + ")"


def _hilbert_ctes(base: str, div: str, xor) -> str:
    """The unrolled Hilbert xy2d loop (8 levels, 256×256 grid) as a
    chain of CTEs: per level s, quadrant digit d += s²·((3·rx) XOR
    ry), then the reflect+swap rotation. ONE generated text shared by
    both engines, parameterized by the integer-division token and the
    XOR syntax (`xor` is a callable (a, b) -> sql) — the curve cannot
    drift between Spark and the oracle. ``base`` must provide
    (id, lat_idx, lon_idx)."""
    parts = [
        f"""h0 AS (
            SELECT id, lat_idx, lon_idx,
                   lon_idx AS x, lat_idx AS y,
                   CAST(0 AS BIGINT) AS d,
                   {_zkey_expr(div)} AS zkey
            FROM {base}
        )"""
    ]
    prev = "h0"
    for i in range(8):
        s = 128 >> i
        nxt = f"h{i + 1}"
        parts.append(f"""{nxt}a AS (
            SELECT id, lat_idx, lon_idx, x, y, d, zkey,
                   CASE WHEN (x % {2 * s}) {div} {s} = 1 THEN 1 ELSE 0 END AS rx,
                   CASE WHEN (y % {2 * s}) {div} {s} = 1 THEN 1 ELSE 0 END AS ry
            FROM {prev}
        ), {nxt} AS (
            SELECT id, lat_idx, lon_idx,
                   CASE WHEN ry = 0
                        THEN CASE WHEN rx = 1 THEN 255 - y ELSE y END
                        ELSE x END AS x,
                   CASE WHEN ry = 0
                        THEN CASE WHEN rx = 1 THEN 255 - x ELSE x END
                        ELSE y END AS y,
                   d + {s * s} * {xor("3 * rx", "ry")} AS d,
                   zkey
            FROM {nxt}a
        )""")
        prev = nxt
    return ",\n        ".join(parts)


def _hilbert_base_oracle() -> str:
    from ._shared import md5_uniform_sql

    lat_u = md5_uniform_sql("concat('glat|', cast(c_custkey as varchar))")
    lon_u = md5_uniform_sql("concat('glon|', cast(c_custkey as varchar))")
    return f"""raw AS (
            SELECT c_custkey AS id,
                   ({lat_u} - 0.5) * 180.0 AS lat,
                   ({lon_u} - 0.5) * 540.0 AS lon_raw
            FROM customer
        ), pts_hb AS (
            SELECT id,
                   least(CAST(floor((lat + 90.0) / 180.0 * 256.0) AS BIGINT),
                         255) AS lat_idx,
                   least(CAST(floor(((lon_raw - 360.0 * floor((lon_raw + 180.0)
                         / 360.0)) + 180.0) / 360.0 * 256.0) AS BIGINT),
                         255) AS lon_idx
            FROM raw
        )"""


def _hilbert_census_oracle() -> str:
    ctes = _hilbert_ctes("pts_hb", "//", lambda a, b: f"xor({a}, {b})")
    return f"""
        WITH {_hilbert_base_oracle()},
        {ctes}
        SELECT CAST(d // 256 AS BIGINT) AS hbucket,
               count(*) AS n_points,
               CAST(min(d) AS BIGINT) AS min_key,
               CAST(max(d) AS BIGINT) AS max_key
        FROM h8
        GROUP BY hbucket
        ORDER BY n_points DESC, hbucket
        LIMIT 25
    """


def _hilbert_spark_keys(spark: SparkSession, sf_dir: str, view: str):
    """Shared Spark side: mint the point cloud (same glat/glon md5
    cloud as the geohash family), quantize to the 256² grid, register
    ``view`` and run the generated Hilbert+Z-order key SQL."""
    from ..functions.sampling import md5_uniform

    cust = load_table(spark, sf_dir, "customer")
    lat = (md5_uniform("concat('glat|', cast(c_custkey as string))") - 0.5) * 180.0
    lon_raw = (md5_uniform("concat('glon|', cast(c_custkey as string))") - 0.5) * 540.0
    lon = F.col("lon_raw") - 360.0 * F.floor((F.col("lon_raw") + 180.0) / 360.0)
    pts = (
        cust.select(
            F.col("c_custkey").alias("id"), lat.alias("lat"),
            lon_raw.alias("lon_raw"),
        )
        .select("id", "lat", lon.alias("lon"))
        .select(
            "id",
            F.least(
                F.floor((F.col("lat") + 90.0) / 180.0 * 256.0).cast("long"),
                F.lit(255),
            ).alias("lat_idx"),
            F.least(
                F.floor((F.col("lon") + 180.0) / 360.0 * 256.0).cast("long"),
                F.lit(255),
            ).alias("lon_idx"),
        )
    )
    pts.createOrReplaceTempView(view)
    ctes = _hilbert_ctes(view, "div", lambda a, b: f"(({a}) ^ ({b}))")
    return spark.sql(
        f"WITH {ctes} SELECT id, lat_idx, lon_idx, d AS hkey, zkey FROM h8"
    )


@query("hilbert_cell_census", category="J13-layout", oracle=_hilbert_census_oracle())
def hilbert_cell_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering keys — the data-LAYOUT companion to
    geohash_cell_census (Z-order/Morton): the xy2d quadrant-rotation
    loop unrolled to 8 levels over the 256×256 grid as ONE generated
    CTE chain shared with the oracle (parameterized only by the
    int-div and XOR tokens), so the curve's bit path cannot drift
    between engines. The census buckets the keyspace into 256
    contiguous Hilbert ranges — exactly how a table clustered on this
    key splits into files — and pins each bucket's occupancy and
    min/max key.

    Scale: the key is pure per-row integer arithmetic (codegen'd, no
    UDF); the census is one count shuffle. Hilbert keys are what
    Delta/Iceberg-style OPTIMIZE ZORDER aspires to: better locality
    than Morton at the same cost — certified by
    layout_locality_hilbert_vs_zorder.
    """
    keys = _hilbert_spark_keys(spark, sf_dir, "pts_hb_census")
    return (
        keys.groupBy((F.col("hkey") / 256).cast("long").alias("hbucket"))
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.min("hkey").cast("long").alias("min_key"),
            F.max("hkey").cast("long").alias("max_key"),
        )
        .orderBy(F.col("n_points").desc(), "hbucket")
        .limit(25)
    )


def _locality_oracle() -> str:
    ctes = _hilbert_ctes("pts_hb", "//", lambda a, b: f"xor({a}, {b})")
    return f"""
        WITH {_hilbert_base_oracle()},
        {ctes},
        keys AS (SELECT id, lat_idx, lon_idx, d AS hkey, zkey FROM h8),
        rh AS (
            SELECT *, row_number() OVER (ORDER BY hkey, id) AS r FROM keys
        ), rz AS (
            SELECT *, row_number() OVER (ORDER BY zkey, id) AS r FROM keys
        ), ph AS (
            SELECT CAST(sum(abs(b.lon_idx - a.lon_idx)
                            + abs(b.lat_idx - a.lat_idx)) AS BIGINT) AS s,
                   count(*) AS c
            FROM rh a JOIN rh b ON b.r = a.r + 1
        ), pz AS (
            SELECT CAST(sum(abs(b.lon_idx - a.lon_idx)
                            + abs(b.lat_idx - a.lat_idx)) AS BIGINT) AS s,
                   count(*) AS c
            FROM rz a JOIN rz b ON b.r = a.r + 1
        )
        SELECT CAST((SELECT count(*) FROM keys) AS BIGINT) AS n_points,
               round(CAST(ph.s AS DOUBLE) / ph.c, 6) AS avg_step_hilbert,
               round(CAST(pz.s AS DOUBLE) / pz.c, 6) AS avg_step_zorder,
               CAST(ph.s AS DOUBLE) / ph.c < CAST(pz.s AS DOUBLE) / pz.c
                   AS hilbert_wins
        FROM ph, pz
    """


@query(
    "layout_locality_hilbert_vs_zorder",
    category="J13-layout",
    oracle=_locality_oracle(),
)
def layout_locality_hilbert_vs_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The locality SHOOTOUT that justifies the Hilbert key: lay the
    same point cloud out in Hilbert order and in Z-order, measure the
    mean Manhattan distance between grid cells of CONSECUTIVE rows in
    each layout (the thing that decides how many file zone-maps a
    spatial range probe must touch), and emit both averages plus the
    verdict — computed from data on BOTH engines, so the comparison
    itself is hash-checked, not asserted. Z-order's quadrant seams
    produce its famous long jumps; Hilbert's rotation removes them.

    Scale: ranks come from operators/ranking.py::exact_global_rank
    (percentile-bucketed row_number + prefix offsets — NO
    single-partition global sort; the oracle's plain row_number is
    the semantic spec only); consecutive pairs are a rank → rank+1
    self equi-join; both averages are exact integer sums divided
    once.
    """
    from ..operators.ranking import exact_global_rank

    keys = _hilbert_spark_keys(spark, sf_dir, "pts_hb_loc").persist()

    def avg_step(key_col: str):
        ranked, total = exact_global_rank(
            keys, [key_col, "id"], rank_col="r", with_total=True
        )
        a = ranked.select(
            F.col("r").alias("ra"), F.col("lon_idx").alias("xa"),
            F.col("lat_idx").alias("ya"),
        )
        b = ranked.select(
            (F.col("r") - 1).alias("ra"), F.col("lon_idx").alias("xb"),
            F.col("lat_idx").alias("yb"),
        )
        agg = a.join(b, "ra").agg(
            F.sum(
                F.abs(F.col("xb") - F.col("xa")) + F.abs(F.col("yb") - F.col("ya"))
            ).cast("long").alias("s"),
            F.count(F.lit(1)).alias("c"),
        )
        return agg, total

    ph, n_total = avg_step("hkey")
    pz, _ = avg_step("zkey")
    h = ph.select(
        (F.col("s").cast("double") / F.col("c")).alias("ah")
    )
    z = pz.select(
        (F.col("s").cast("double") / F.col("c")).alias("az")
    )
    return (
        h.crossJoin(F.broadcast(z))
        .select(
            F.lit(n_total).cast("long").alias("n_points"),
            F.round("ah", 6).alias("avg_step_hilbert"),
            F.round("az", 6).alias("avg_step_zorder"),
            (F.col("ah") < F.col("az")).alias("hilbert_wins"),
        )
    )


@query(
    "slo_burn_rate_alerts",
    category="Q2-slo",
    oracle="""
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS h,
                   CAST(count(*) AS BIGINT) AS total,
                   CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                        AS BIGINT) AS errs
            FROM events GROUP BY h
        ), windowed AS (
            SELECT h, total, errs,
                   sum(errs)  OVER w6 AS errs6,
                   sum(total) OVER w6 AS total6
            FROM hourly
            WINDOW w6 AS (ORDER BY h ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
        ), rates AS (
            SELECT h,
                   CAST(errs AS DOUBLE) / total AS rate1,
                   CAST(errs6 AS DOUBLE) / total6 AS rate6
            FROM windowed
        )
        SELECT count(*) AS n_hours,
               CAST(sum(CASE WHEN rate1 > 14.4 * 0.01 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_fast_burn_1h,
               CAST(sum(CASE WHEN rate1 > 14.4 * 0.01
                              AND rate6 > 6.0 * 0.01
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_page_alerts,
               round(max(rate6), 6) AS worst_rate_6h
        FROM rates
    """,
)
def slo_burn_rate_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiwindow multi-burn-rate SLO alerting (the Google-SRE
    page rule): with a 1% error SLO, page only when BOTH the 1-hour
    burn rate exceeds 14.4× AND the 6-hour exceeds 6× — the fast
    window gives detection speed, the slow window suppresses blips.
    Census of hours in each alert state plus the worst 6 h rate.

    Float discipline: window aggregates carry INTEGER error/total
    sums (exact); each rate is one IEEE division of identical
    integers, so the threshold comparisons cannot drift (the repo
    rule: never window-average floats when you can window-sum ints).

    Scale: one hour-grain combinable aggregate over the scan; the
    burn windows run on the hour frame (720 rows/month) — bounded
    metadata, the same shape Prometheus recording rules materialize.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).cast("long").alias("total"),
        F.sum((F.col("event_type") == "error").cast("int"))
        .cast("long").alias("errs"),
    )
    w6 = Window.orderBy("h").rowsBetween(-5, 0)  # hour-grain frame, bounded
    rates = hourly.select(
        "h",
        (F.col("errs").cast("double") / F.col("total")).alias("rate1"),
        (
            F.sum("errs").over(w6).cast("double") / F.sum("total").over(w6)
        ).alias("rate6"),
    )
    return rates.agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum((F.col("rate1") > 14.4 * 0.01).cast("int"))
        .cast("long").alias("n_fast_burn_1h"),
        F.sum(
            ((F.col("rate1") > 14.4 * 0.01) & (F.col("rate6") > 6.0 * 0.01))
            .cast("int")
        ).cast("long").alias("n_page_alerts"),
        F.round(F.max("rate6"), 6).alias("worst_rate_6h"),
    )


@query(
    "functional_dependency_census",
    category="Q1-fdcensus",
    oracle="""
        WITH cand AS (
            SELECT 'o_orderkey->o_custkey' AS fd,
                   CAST(count(*) AS BIGINT) AS n_lhs,
                   CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_violating_lhs,
                   CAST(max(nd) AS BIGINT) AS max_rhs_per_lhs
            FROM (SELECT o_orderkey, count(DISTINCT o_custkey) AS nd
                  FROM orders GROUP BY o_orderkey)
            UNION ALL
            SELECT 'o_custkey->o_orderpriority',
                   CAST(count(*) AS BIGINT),
                   CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(max(nd) AS BIGINT)
            FROM (SELECT o_custkey, count(DISTINCT o_orderpriority) AS nd
                  FROM orders GROUP BY o_custkey)
            UNION ALL
            SELECT 'orderdate->orderstatus',
                   CAST(count(*) AS BIGINT),
                   CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(max(nd) AS BIGINT)
            FROM (SELECT CAST(o_orderdate AS DATE) AS d,
                         count(DISTINCT o_orderstatus) AS nd
                  FROM orders GROUP BY CAST(o_orderdate AS DATE))
        )
        SELECT fd, n_lhs, n_violating_lhs, max_rhs_per_lhs,
               (n_violating_lhs = 0) AS holds
        FROM cand ORDER BY fd
    """,
)
def functional_dependency_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery census (Q1 profiling depth):
    for candidate A→B dependencies, count left-hand values with more
    than one distinct right-hand value — zero violations means the FD
    holds and B can be normalized out / trusted as an attribute of A;
    the profiling question behind dedup-key and dimension-model
    choices (pk_candidate_census asks "is A unique", this asks "does
    A determine B").

    Determinism: distinct counts and violation flags are exact
    integers.

    Scale: one groupBy+distinct per candidate — each a two-phase
    aggregate on A; the three candidates here are a UNION of
    dimension-sized results (each branch scans only its two columns).
    """
    orders = load_table(spark, sf_dir, "orders")

    def fd(name, lhs, rhs):
        per = orders.groupBy(lhs).agg(
            F.countDistinct(rhs).alias("nd")
        )
        return per.agg(
            F.lit(name).alias("fd"),
            F.count(F.lit(1)).cast("long").alias("n_lhs"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
            .cast("long").alias("n_violating_lhs"),
            F.max("nd").cast("long").alias("max_rhs_per_lhs"),
        )

    rows = (
        fd("o_orderkey->o_custkey", F.col("o_orderkey"), "o_custkey")
        .unionAll(
            fd(
                "o_custkey->o_orderpriority",
                F.col("o_custkey"),
                "o_orderpriority",
            )
        )
        .unionAll(
            fd(
                "orderdate->orderstatus",
                F.to_date("o_orderdate"),
                "o_orderstatus",
            )
        )
    )
    return rows.select(
        "fd", "n_lhs", "n_violating_lhs", "max_rhs_per_lhs",
        (F.col("n_violating_lhs") == 0).alias("holds"),
    ).orderBy("fd")


@query(
    "last_digit_uniformity",
    category="Q1-lastdigit",
    oracle="""
        WITH digits AS (
            SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) % 10 AS d
            FROM events WHERE value IS NOT NULL
        ), census AS (
            SELECT d, CAST(count(*) AS BIGINT) AS n FROM digits GROUP BY d
        ), tot AS (
            SELECT CAST(sum(n) AS BIGINT) AS total,
                   CAST(sum(n * n) AS BIGINT) AS sum_sq
            FROM census
        )
        SELECT c.d AS last_digit, c.n,
               CAST(round(CAST(c.n AS DOUBLE) / t.total, 6) AS DOUBLE)
                   AS share,
               CAST(round(CAST(100 * t.sum_sq - 10 * t.total * t.total
                               AS DOUBLE) / (10 * t.total), 6) AS DOUBLE)
                   AS chi2_uniform,
               (CAST(100 * t.sum_sq - 10 * t.total * t.total AS DOUBLE)
                / (10 * t.total) > 16.918978) AS reject_uniform_5pct
        FROM census c CROSS JOIN tot t
        ORDER BY c.d
    """,
)
def last_digit_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-digit uniformity test on the cent column — the forensic
    complement of benford_digit_profile: genuine measured amounts
    have UNIFORM last digits, while invented ones cluster on 0/5, so
    χ² against uniform(10) flags fabrication. The identity
    χ² = (100Σn² − 10N²)/(10N) keeps the statistic one division of
    exact integers; the 5% decision compares to χ²₉ = 16.918978.

    Scale: one map-side digit census to 10 rows plus a 1-row total.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    census = ev.select(
        (F.floor(F.col("value") * 100 + 0.5).cast("long") % 10).alias("d")
    ).groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = census.agg(
        F.sum("n").cast("long").alias("total"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("sum_sq"),
    )
    chi2 = (
        (100 * F.col("sum_sq") - 10 * F.col("total") * F.col("total"))
        .cast("double")
        / (10 * F.col("total"))
    )
    return (
        census.crossJoin(F.broadcast(tot))
        .select(
            F.col("d").alias("last_digit"),
            "n",
            F.round(F.col("n").cast("double") / F.col("total"), 6).alias(
                "share"
            ),
            F.round(chi2, 6).alias("chi2_uniform"),
            (chi2 > 16.918978).alias("reject_uniform_5pct"),
        )
    )


@query(
    "apdex_score_daily",
    category="OPS-apdex",
    oracle="""
        WITH scored AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cs
            FROM events WHERE value IS NOT NULL
        )
        SELECT day,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN cs <= 10000 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_satisfied,
               CAST(sum(CASE WHEN cs > 10000 AND cs <= 40000
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_tolerating,
               CAST(round((CAST(sum(CASE WHEN cs <= 10000 THEN 1 ELSE 0 END)
                                AS DOUBLE)
                           + 0.5 * sum(CASE WHEN cs > 10000 AND cs <= 40000
                                            THEN 1 ELSE 0 END))
                          / count(*), 6) AS DOUBLE) AS apdex
        FROM scored GROUP BY day ORDER BY day
    """,
)
def apdex_score_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily Apdex score (the industry UX index): with target
    T = 100 s on the value-as-duration column, satisfied = ≤ T,
    tolerating = ≤ 4T, Apdex = (satisfied + tolerating/2)/total —
    the one-number latency summary every APM product reports, exact
    from integer centisecond buckets.

    Scale: one map-side conditional census per day; no joins.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    scored = ev.select(
        F.to_date("ts").alias("day"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cs"),
    )
    sat = F.sum(F.when(F.col("cs") <= 10000, 1).otherwise(0))
    tol = F.sum(
        F.when((F.col("cs") > 10000) & (F.col("cs") <= 40000), 1).otherwise(0)
    )
    return (
        scored.groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            sat.cast("long").alias("n_satisfied"),
            tol.cast("long").alias("n_tolerating"),
            F.round(
                (sat.cast("double") + 0.5 * tol) / F.count(F.lit(1)), 6
            ).alias("apdex"),
        )
    )
