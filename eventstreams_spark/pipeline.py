"""Declarative event pipeline: the Logstash-flow surface, Spark-first.

The reference domain composes flows as source → instruction chain →
sink over semi-structured events (SURVEY §0.3/§3). Here a pipeline is
a *config* (plain dict, JSON/YAML-friendly) compiled into a composition
of plan-builder functions ``DataFrame -> DataFrame`` — so the entire
chain is ONE Catalyst plan: filters push down through every step,
projections prune unused fields, and adjacent mutates collapse
(`CollapseProject`/`CombineFilters` make step composition free,
SURVEY §4.1). No per-event interpretation, no Python in the row path.

The same compiled transform applies to a batch DataFrame or a
streaming DataFrame unchanged — Structured Streaming reuses the
builders (SURVEY §3.3).

Example::

    pipe = Pipeline.from_config({
        "steps": [
            {"type": "grok", "source": "line",
             "pattern": "%{IP:client} %{WORD:method} %{NUMBER:bytes}"},
            {"type": "mutate", "convert": {"bytes": "long"}},
            {"type": "filter", "expr": "method = 'GET'"},
            {"type": "fingerprint", "fields": ["client"], "target": "fp"},
        ]
    })
    out = pipe.apply(df)
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.grok import grok_parse

Transform = Callable[[DataFrame], DataFrame]

#: Column carrying the dead-letter tag (Logstash DLQ). NULL = healthy
#: row; non-NULL = first failure reason seen along the chain.
DLQ_COL = "_dlq_reason"


def _tag_dlq(df: DataFrame, cond, reason) -> DataFrame:
    """Mark rows matching ``cond`` as dead letters (first reason wins)."""
    existing = F.col(DLQ_COL) if DLQ_COL in df.columns else F.lit(None).cast("string")
    return df.withColumn(DLQ_COL, F.coalesce(existing, F.when(cond, reason)))


def split_dead_letters(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(healthy, dead) frames from a chain run with dead_letter steps.

    Both are filters over the SAME lineage, so each output is one
    Catalyst plan and each re-reads and re-parses the source. Measured
    on the 60k-line, 1 %-dead weblog ingest (grok → date → translate →
    deadletter, 2 task threads, 4-core box): the DLQ query alone takes
    1.30 s and the healthy one 2.05 s; as the two concurrent queries
    of ``cmd_run`` they take 2.92 s. One foreachBatch query that
    persists each micro-batch and writes both took 2.53 s, but its
    writes are at-least-once on batch retry where the file sink's log
    is exactly-once (SCALE.md §28).
    """
    if DLQ_COL not in df.columns:
        return df, df.limit(0)
    return (
        df.filter(F.col(DLQ_COL).isNull()).drop(DLQ_COL),
        df.filter(F.col(DLQ_COL).isNotNull()),
    )


_STEP_FACTORIES: dict[str, Callable[..., Transform]] = {}


def step(name: str) -> Callable[[Callable[..., Transform]], Callable[..., Transform]]:
    """Register a pipeline step factory under its config ``type`` name."""

    def deco(fn: Callable[..., Transform]) -> Callable[..., Transform]:
        if name in _STEP_FACTORIES:
            raise ValueError(f"duplicate step type: {name!r}")
        _STEP_FACTORIES[name] = fn
        return fn

    return deco


def step_types() -> list[str]:
    return sorted(_STEP_FACTORIES)


# ------------------------------------------------------------------ steps
# Each factory validates config eagerly (fail at compile, not mid-job)
# and returns a closure that only uses JVM-side Column expressions.


@step("mutate")
def _mutate(
    add: dict[str, str] | None = None,
    rename: dict[str, str] | None = None,
    copy: dict[str, str] | None = None,
    convert: dict[str, str] | None = None,
    remove: list[str] | None = None,
) -> Transform:
    """Logstash ``mutate``: add_field (SQL expr), rename, copy, convert,
    remove_field — in that order, matching Logstash's documented
    mutate ordering."""

    def t(df: DataFrame) -> DataFrame:
        for col, expr in (add or {}).items():
            df = df.withColumn(col, F.expr(expr))
        for old, new in (rename or {}).items():
            df = df.withColumnRenamed(old, new)
        for src, dst in (copy or {}).items():
            df = df.withColumn(dst, F.col(src))
        for col, typ in (convert or {}).items():
            df = df.withColumn(col, F.col(col).try_cast(typ))
        if remove:
            df = df.drop(*remove)
        return df

    return t


@step("filter")
def _filter(expr: str) -> Transform:
    """Keep events matching a SQL boolean expression (Logstash `if`)."""
    return lambda df: df.filter(F.expr(expr))


@step("sql")
def _sql(query: str) -> Transform:
    """Run an arbitrary SQL statement over the current frame, which is
    visible as ``__THIS__`` (the SQLTransformer convention). The full
    Spark SQL surface — window functions, lateral views, aggregates —
    becomes a pipeline step while remaining one Catalyst plan."""
    if "__THIS__" not in query:
        raise ValueError("sql step query must reference __THIS__")

    def t(df: DataFrame) -> DataFrame:
        import uuid

        name = f"_pipe_sql_{uuid.uuid4().hex[:12]}"
        df.createOrReplaceTempView(name)
        return df.sparkSession.sql(query.replace("__THIS__", name))

    return t


@step("drop")
def _drop(expr: str) -> Transform:
    """Drop events matching the condition (Logstash ``drop`` filter)."""
    return lambda df: df.filter(~F.expr(expr))


@step("prune")
def _prune(keep: list[str]) -> Transform:
    """Keep only the named fields (Logstash ``prune`` whitelist)."""
    return lambda df: df.select(*keep)


@step("grok")
def _grok(source: str, pattern: str, remove_source: bool = False) -> Transform:
    """Grok-extract named fields from a string column (P9).

    The parsed array is its own column, so the plan matches the regex
    once per row however many fields read it (a filter on a field is
    pushed below and re-matches once)."""
    tmp = "_grok_fields"

    def t(df: DataFrame) -> DataFrame:
        parts, fields = grok_parse(source, pattern)
        df = df.withColumn(tmp, parts)
        df = df.withColumns({f: F.col(tmp)[i] for i, f in enumerate(fields)}).drop(tmp)
        return df.drop(source) if remove_source else df

    return t


@step("dissect")
def _dissect(source: str, fields: list[str], delimiter: str = " ") -> Transform:
    """Positional split (Logstash ``dissect``): cheaper than grok when
    the layout is fixed — one `split` feeds every field (P10)."""

    def t(df: DataFrame) -> DataFrame:
        parts = F.split(F.col(source), delimiter)
        for i, fname in enumerate(fields):
            if fname:  # empty name = skip position, like dissect's ?skip
                df = df.withColumn(fname, F.element_at(parts, i + 1))
        return df

    return t


@step("date")
def _date(
    source: str,
    formats: list[str],
    target: str = "@timestamp",
    dead_letter: bool = False,
) -> Transform:
    """Multi-format timestamp parse: first format that matches wins
    (Logstash ``date`` filter semantics) via try_to_timestamp+coalesce.
    ``dead_letter=True`` tags rows no format could parse (Logstash
    ``_dateparsefailure`` → DLQ)."""
    if not formats:
        raise ValueError("date step needs at least one format")

    def t(df: DataFrame) -> DataFrame:
        attempts = [
            F.try_to_timestamp(F.col(source), F.lit(fmt)) for fmt in formats
        ]
        df = df.withColumn(target, F.coalesce(*attempts))
        if dead_letter:
            failed = F.col(source).isNotNull() & F.col(target).isNull()
            df = _tag_dlq(df, failed, F.lit(f"date_parse_error:{source}"))
        return df

    return t


@step("deadletter")
def _deadletter(when: str, reason: str = "rejected") -> Transform:
    """Tag rows matching a SQL predicate as dead letters (generic
    validation gate; route with ``split_dead_letters``)."""
    return lambda df: _tag_dlq(df, F.expr(when), F.lit(reason))


@step("redact")
def _redact(fields: list[str], patterns: dict[str, str] | None = None) -> Transform:
    """Scrub PII in-place: replace every regex match with ``<TAG>``.
    Default patterns cover emails and IPv4s (Logstash ``mutate gsub``
    in its anonymize role); pass ``{"TAG": regex}`` to extend."""
    pats = patterns or {
        "EMAIL": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
        "IP": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    }

    def t(df: DataFrame) -> DataFrame:
        for f_ in fields:
            col = F.col(f_)
            for tag, rx in pats.items():
                col = F.regexp_replace(col, rx, f"<{tag}>")
            df = df.withColumn(f_, col)
        return df

    return t


@step("json")
def _json(
    source: str,
    schema: str,
    target: str | None = None,
    dead_letter: bool = False,
) -> Transform:
    """Parse a JSON string column with an explicit DDL schema. With no
    target, fields are flattened to top level (Logstash ``json``).

    With ``dead_letter=True``, rows whose payload fails to parse are
    tagged in ``_dlq_reason`` instead of silently yielding nulls —
    route them with :func:`split_dead_letters` (the Logstash DLQ).
    """

    def t(df: DataFrame) -> DataFrame:
        parsed = F.from_json(F.col(source), schema)
        if dead_letter:
            # from_json PERMISSIVE yields a struct of NULLs on bad input
            # (never a NULL struct), so malformedness is detected with
            # try_parse_json: NULL variant <=> not valid JSON at all.
            failed = F.col(source).isNotNull() & F.try_parse_json(
                F.col(source)
            ).isNull()
            df = _tag_dlq(df, failed, F.lit(f"json_parse_error:{source}"))
        if target:
            return df.withColumn(target, parsed)
        df = df.withColumn("_parsed", parsed)
        for fname in df.select("_parsed.*").columns:
            df = df.withColumn(fname, F.col(f"_parsed.{fname}"))
        return df.drop("_parsed")

    return t


@step("xml")
def _xml(source: str, schema: str, target: str | None = None) -> Transform:
    """Parse an XML string column with an explicit DDL schema (Logstash
    ``xml`` filter) via Spark 4 native ``from_xml``. With no target,
    fields flatten to top level like the json step."""

    def t(df: DataFrame) -> DataFrame:
        parsed = F.from_xml(F.col(source), schema)
        if target:
            return df.withColumn(target, parsed)
        df = df.withColumn("_parsed", parsed)
        for fname in df.select("_parsed.*").columns:
            df = df.withColumn(fname, F.col(f"_parsed.{fname}"))
        return df.drop("_parsed")

    return t


@step("urldecode")
def _urldecode(fields: list[str]) -> Transform:
    """Percent-decode URL-encoded fields in place (Logstash
    ``urldecode``); invalid sequences yield NULL via try_url_decode."""

    def t(df: DataFrame) -> DataFrame:
        for f_ in fields:
            df = df.withColumn(f_, F.try_url_decode(F.col(f_)))
        return df

    return t


@step("kv")
def _kv(
    source: str,
    target: str = "kv",
    field_split: str = " ",
    value_split: str = "=",
) -> Transform:
    """Key-value extraction into a map column (Logstash ``kv``)."""
    return lambda df: df.withColumn(
        target, F.str_to_map(F.col(source), F.lit(field_split), F.lit(value_split))
    )


@step("translate")
def _translate(
    source: str,
    mapping: dict[str, str],
    target: str | None = None,
    default: str | None = None,
) -> Transform:
    """Dictionary lookup (Logstash ``translate``): a literal map for
    small dicts — for large dims use an explicit broadcast join step
    upstream (J1); a map literal ships inside the plan itself."""
    items: list = []
    for k, v in mapping.items():
        items += [F.lit(k), F.lit(v)]
    m = F.create_map(*items)

    def t(df: DataFrame) -> DataFrame:
        looked = m[F.col(source)]
        if default is not None:
            looked = F.coalesce(looked, F.lit(default))
        return df.withColumn(target or source, looked)

    return t


@step("fingerprint")
def _fingerprint(
    fields: list[str], target: str = "fingerprint", method: str = "md5"
) -> Transform:
    """Stable event fingerprint over selected fields (P12). xxhash64 is
    the cheap in-engine choice; md5/sha256 are portable."""
    if method not in ("md5", "sha256", "xxhash64"):
        raise ValueError(f"unsupported fingerprint method: {method}")

    def t(df: DataFrame) -> DataFrame:
        joined = F.concat_ws("|", *[F.col(f).cast("string") for f in fields])
        if method == "md5":
            out = F.md5(joined.cast("binary"))
        elif method == "sha256":
            out = F.sha2(joined.cast("binary"), 256)
        else:
            out = F.xxhash64(joined)
        return df.withColumn(target, out)

    return t


@step("clone")
def _clone(tags: list[str], tag_field: str = "clone_tag") -> Transform:
    """Fan an event out once per tag (Logstash ``clone``): union of
    tagged copies — one scan feeding N branches (P8)."""
    if not tags:
        raise ValueError("clone step needs at least one tag")

    def t(df: DataFrame) -> DataFrame:
        out = None
        for tag in tags:
            branch = df.withColumn(tag_field, F.lit(tag))
            out = branch if out is None else out.unionAll(branch)
        return out

    return t


@step("sample")
def _sample(fraction: float, seed: int = 42) -> Transform:
    """Seeded Bernoulli sampling (Logstash drop-percentage analog)."""
    return lambda df: df.sample(fraction=fraction, seed=seed)


@step("split")
def _split(source: str, target: str, keep_source: bool = False) -> Transform:
    """One event per array element (Logstash ``split``)."""

    def t(df: DataFrame) -> DataFrame:
        df = df.withColumn(target, F.explode(F.col(source)))
        return df if keep_source else df.drop(source)

    return t


@step("throttle")
def _throttle(key: str, order: str, period: str = "1 hour", limit: int = 1) -> Transform:
    """At most ``limit`` events per key per time bucket (Logstash
    ``throttle``, batch analog P13). Streaming uses the stateful
    variant in streaming/stateful.py."""
    from pyspark.sql import Window

    def t(df: DataFrame) -> DataFrame:
        bucket = F.date_trunc(_PERIOD_TRUNC[period], F.col(order))
        w = Window.partitionBy(F.col(key), bucket).orderBy(order)
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= limit)
            .drop("_rn")
        )

    return t


_PERIOD_TRUNC = {"1 second": "second", "1 minute": "minute", "1 hour": "hour", "1 day": "day"}


@step("multiline")
def _multiline(
    source: str,
    order: str,
    pattern: str,
    group_by: list[str],
    negate: bool = False,
    what: str = "previous",
    separator: str = " ",
) -> Transform:
    """Logstash ``multiline`` codec, batch form: lines matching
    ``pattern`` (inverted by ``negate``) are continuations glued onto
    the previous (``what="previous"``) or next (``what="next"``)
    event. ``group_by`` (the per-source key — file, host, pod) is
    REQUIRED: it is what keeps reassembly a partitioned sessionize
    (one shuffle) instead of a single-task global sort."""
    if what not in ("previous", "next"):
        raise ValueError(f"multiline: what must be 'previous'/'next', got {what!r}")
    if not group_by:
        raise ValueError("multiline: group_by (per-source key) is required")

    def t(df: DataFrame) -> DataFrame:
        from .operators.multiline import multiline_reassemble

        return multiline_reassemble(
            df,
            line_col=source,
            order_col=order,
            pattern=pattern,
            group_cols=group_by or [],
            negate=negate,
            what=what,
            sep=separator,
        )

    return t


@step("sessionize")
def _sessionize(
    key: str,
    ts: str,
    gap_minutes: float = 30.0,
    target: str = "session_id",
) -> Transform:
    """Assign a gap-based session id per key (the sessionize family's
    W8 rule as a pipeline step): a new session opens when the gap to
    the key's previous event exceeds ``gap_minutes``. ``target`` is
    ``key#opening_epoch_seconds`` — deterministic, meaningful (the
    session's start time), and stable across reruns, unlike a dense
    counter. Batch form (windows over the key partition — ONE shuffle
    on the key, same plan as sessionize_gap30m_batch); the streaming
    twins are session_window aggregation (T3) and the stateful
    operators in streaming/stateful.py.

    Rows with NULL ``ts`` (e.g. date-parse dead letters still riding
    the frame under tag-don't-drop) get a NULL session id rather than
    poisoning a session boundary."""
    gap_s = float(gap_minutes) * 60.0

    def t(df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        w = Window.partitionBy(key).orderBy(ts)
        prev = F.lag(F.col(ts)).over(w)
        is_new = (
            prev.isNull()
            | (F.col(ts).cast("double") - prev.cast("double") > gap_s)
        ).cast("long")
        # session id = key + '#' + epoch seconds of the session's
        # first event: max(ts where a new session opened) over the
        # running frame
        open_ts = F.max(
            F.when(is_new == 1, F.col(ts).cast("double"))
        ).over(w.rowsBetween(Window.unboundedPreceding, 0))
        sid = F.when(
            F.col(ts).isNotNull(),
            F.concat_ws(
                "#", F.col(key), open_ts.cast("long").cast("string")
            ),
        )
        return df.withColumn(target, sid)

    return t


@step("aggregate")
def _aggregate(
    task_key: str,
    start_when: str,
    end_when: str,
    ts_field: str = "ts",
    value_expr: str = "0.0",
) -> Transform:
    """Logstash ``aggregate`` filter, batch form: correlate all events
    sharing ``task_key`` into ONE summary row — the task opens at the
    first event matching ``start_when``, closes at the first event
    matching ``end_when`` at-or-after the start, and intermediate
    events strictly between contribute a count plus the sum of
    ``value_expr``. Tasks without a close emit nothing (the streaming
    form, streaming/stateful.py::correlate_tasks_stream, evicts those
    on timeout instead).

    Same plan as the oracle-checked ``aggregate_task_correlate`` query:
    three passes all keyed on ``task_key``, so Catalyst reuses the
    exchange — the fact table shuffles once, no windows."""

    def t(df: DataFrame) -> DataFrame:
        starts = (
            df.filter(F.expr(start_when))
            .groupBy(task_key)
            .agg(F.min(ts_field).alias("t_start"))
        )
        ends = (
            df.join(starts, task_key)
            .filter(F.expr(end_when) & (F.col(ts_field) >= F.col("t_start")))
            .groupBy(task_key)
            .agg(F.min(ts_field).alias("t_end"))
        )
        between = (F.col(ts_field) > F.col("t_start")) & (
            F.col(ts_field) < F.col("t_end")
        )
        return (
            df.join(starts, task_key)
            .join(ends, task_key)
            .groupBy(task_key)
            .agg(
                F.any_value("t_start").alias("t_start"),
                F.any_value("t_end").alias("t_end"),
                F.sum(between.cast("long")).alias("n_steps"),
                F.sum(
                    F.when(between, F.expr(value_expr)).otherwise(F.lit(0.0))
                ).alias("step_value"),
            )
        )

    return t


@step("syslog")
def _syslog(source: str = "value", year: int = 2024) -> Transform:
    """RFC 3164 syslog line → typed fields (Logstash ``syslog`` input's
    parse half; see sources/syslog.py)."""
    from .sources.syslog import parse_syslog

    return lambda df: parse_syslog(df, source, year=year)


@step("statsd")
def _statsd(source: str = "value") -> Transform:
    """Statsd/DogStatsD datagram line → typed metric fields (Logstash
    ``statsd``/``udp`` input's parse half; see sources/statsd.py)."""
    from .sources.statsd import parse_statsd

    return lambda df: parse_statsd(df, source)


@step("graphite")
def _graphite(source: str = "value") -> Transform:
    """Graphite plaintext line → (metric, value, ts, path) (Logstash
    ``graphite`` input's parse half)."""
    from .sources.statsd import parse_graphite

    return lambda df: parse_graphite(df, source)


@step("cidr")
def _cidr(source: str, networks: list[str], target: str = "network") -> Transform:
    """First-matching-network label (Logstash ``cidr``)."""
    from .functions.net import cidr_match

    def t(df: DataFrame) -> DataFrame:
        return df.withColumn(target, cidr_match(F.col(source), networks))

    return t


@step("tld")
def _tld(source: str, target: str = "tld") -> Transform:
    """Top-level-domain extraction (Logstash ``tld``): struct of
    (tld, sld, domain) from a hostname column — pure Column regex, no
    UDF. Multi-label public suffixes (co.uk-class) follow a bundled
    common-suffix list; unknown suffixes fall back to the last label
    (the filter's documented behavior without the full PSL)."""
    # the high-traffic multi-label suffixes; the full Public Suffix
    # List is a data-file swap, not a code change
    multi = ["co.uk", "org.uk", "ac.uk", "gov.uk", "com.au", "net.au",
             "org.au", "co.jp", "ne.jp", "or.jp", "com.br", "com.cn",
             "com.mx", "co.in", "co.kr", "com.tw", "co.za", "com.ar"]

    def t(df: DataFrame) -> DataFrame:
        host = F.lower(F.col(source))
        is_multi = F.lit(False)
        tld = F.regexp_extract(host, r"\.([^.]+)$", 1)
        for m in multi:
            cond = host.endswith("." + m)
            tld = F.when(cond, F.lit(m)).otherwise(tld)
            is_multi = is_multi | cond
        # sld = label left of the (possibly multi-label) suffix
        stripped = F.expr(
            f"substring({'lower(' + source + ')'}, 1, "
            f"length(lower({source})) - length(_tld_tmp) - 1)"
        )
        # dotless hosts ('localhost') extract no tld; guard them so the
        # -1 substring and trailing-dot concat never fire: tld = '',
        # sld = domain = host
        return (
            df.withColumn("_tld_tmp", tld)
            .withColumn(
                "_sld_tmp",
                F.when(F.col("_tld_tmp") == "", host).otherwise(
                    F.regexp_extract(stripped, r"([^.]+)$", 1)
                ),
            )
            .withColumn(
                target,
                F.struct(
                    F.col("_tld_tmp").alias("tld"),
                    F.col("_sld_tmp").alias("sld"),
                    F.when(F.col("_tld_tmp") == "", host)
                    .when(
                        F.col("_sld_tmp") != "",
                        F.concat_ws(".", F.col("_sld_tmp"), F.col("_tld_tmp")),
                    )
                    .otherwise(F.col("_tld_tmp")).alias("domain"),
                ),
            )
            .drop("_tld_tmp", "_sld_tmp")
        )

    return t


@step("range")
def _range(
    checks: dict[str, list[float]],
    tag: str = "_rangefail",
) -> Transform:
    """Numeric range validation (Logstash ``range``): each field gets
    [min, max] bounds; rows breaking ANY bound are tagged with the
    list of failing fields (empty array = clean). Tag-don't-drop so a
    downstream ``deadletter``/``filter`` step owns the policy —
    same contract as the other validating steps."""
    for f_, mm in checks.items():
        if len(mm) != 2 or mm[0] > mm[1]:
            raise ValueError(f"range: bad bounds for {f_}: {mm}")

    def t(df: DataFrame) -> DataFrame:
        fails = F.array_compact(
            F.array(
                *[
                    F.when(
                        F.col(f_).isNull()
                        | (F.col(f_) < lo) | (F.col(f_) > hi),
                        F.lit(f_),
                    )
                    for f_, (lo, hi) in sorted(checks.items())
                ]
            )
        )
        return df.withColumn(tag, fails)

    return t


@step("useragent")
def _useragent(source: str = "user_agent") -> Transform:
    """Browser family/version/OS extraction (Logstash ``useragent``)."""
    from .functions.ua import parse_user_agent

    return lambda df: parse_user_agent(df, source)


@step("chunk")
def _chunk(source: str, size: int, keys: list[str]) -> Transform:
    """Fixed-size token chunking, one row per chunk (LLM-pipeline
    preprocessing; columnar form of the §2.10 UDTF)."""
    from .functions.chunking import chunk_text_columnar

    return lambda df: chunk_text_columnar(df, source, size, keys)


@step("csv")
def _csv(
    source: str,
    columns: list[str],
    separator: str = ",",
    target: str | None = None,
) -> Transform:
    """Parse a delimited field into named columns (Logstash ``csv``
    filter) via ``from_csv`` — a real CSV parser (quoting, escapes),
    not a naive split. ``target=None`` hoists the parsed fields to
    top level; otherwise they land under one struct column."""
    schema = ", ".join(f"`{c}` string" for c in columns)

    def t(df: DataFrame) -> DataFrame:
        parsed = F.from_csv(F.col(source), F.lit(schema), {"sep": separator})
        if target:
            return df.withColumn(target, parsed)
        tmp = df.withColumn("_csv", parsed)
        for c in columns:
            tmp = tmp.withColumn(c, F.col(f"_csv.{c}"))
        return tmp.drop("_csv")

    return t


@step("uuid")
def _uuid(target: str = "uuid", deterministic_from: list[str] | None = None) -> Transform:
    """Assign an id per event (Logstash ``uuid``). Default is a random
    UUIDv4 (non-deterministic — fine for ingest tagging, never inside
    an oracle-checked query); pass ``deterministic_from`` to derive a
    stable content-addressed id (sha2 of the named fields) instead —
    the replay-safe choice, since re-running the pipeline re-creates
    identical ids (idempotent sinks then dedup for free)."""

    def t(df: DataFrame) -> DataFrame:
        if deterministic_from:
            # Each field is length-prefixed and NULL gets its own token:
            # concat_ws silently SKIPS nulls, so without this, rows
            # differing only in which field is NULL (or containing the
            # separator) would collide and an idempotent sink would
            # silently drop distinct events.
            parts = []
            for c in deterministic_from:
                s = F.col(c).cast("string")
                parts.append(
                    F.when(s.isNull(), F.lit("N")).otherwise(
                        F.concat(F.length(s).cast("string"), F.lit(":"), s)
                    )
                )
            return df.withColumn(
                target, F.sha2(F.concat_ws("\x1f", *parts), 256)
            )
        return df.withColumn(target, F.expr("uuid()"))

    return t


@step("metrics")
def _metrics(name: str = "pipeline", value_field: str | None = None) -> Transform:
    """Inline flow metrics (Logstash ``metrics``): count (+min/max/sum
    of ``value_field``) ride the existing job via ``df.observe`` —
    zero extra scan or shuffle. Read the numbers after an action with
    ``operators.metrics.get_observation(name)`` (batch ``.get``;
    streaming: per-batch via MetricsListener)."""
    from .operators.metrics import observe, register_observation, standard_metrics

    def t(df: DataFrame) -> DataFrame:
        observed, obs = observe(df, name, *standard_metrics(value_field))
        register_observation(name, obs)
        return observed

    return t


@step("anonymize")
def _anonymize(fields: list[str], salt: str = "v1") -> Transform:
    """Pseudonymize fields in place with a salted SHA-256 16-hex token
    (Logstash ``anonymize``): stable across runs and tables for the
    same salt — joins/sessions keep working on the pseudonym; rotate
    the salt to crypto-shred. Query twin: ``pseudonymize_stable_ids``
    (pins token bytes + collision-freedom)."""

    def t(df: DataFrame) -> DataFrame:
        for f_ in fields:
            df = df.withColumn(
                f_,
                F.substring(
                    F.sha2(
                        F.concat(
                            F.lit(f"salt|{salt}|"), F.col(f_).cast("string")
                        ),
                        256,
                    ),
                    1,
                    16,
                ),
            )
        return df

    return t


@step("truncate")
def _truncate(fields: list[str], length_chars: int) -> Transform:
    """Cap oversized string fields (Logstash ``truncate``) — the guard
    that keeps a pathological event from blowing per-row memory
    downstream. The cap is in CODEPOINTS (the parameter is named
    accordingly — a multi-byte UTF-8 string may still occupy up to
    4x this many bytes); a strict byte cap would need a binary
    roundtrip whose mid-codepoint cut mutates the tail into U+FFFD."""

    def t(df: DataFrame) -> DataFrame:
        for f in fields:
            df = df.withColumn(f, F.substring(F.col(f), 1, length_chars))
        return df

    return t


@step("geoip")
def _geoip(
    source: str,
    ranges: "DataFrame",
    target: str = "geo_region",
) -> Transform:
    """Range-table enrichment (Logstash ``geoip``): join the uint32 IP
    column against a broadcast (lo, hi, region) dim — the same shape
    as the geoip_range_enrich query, packaged as a pipeline step. The
    fact side never shuffles."""

    def t(df: DataFrame) -> DataFrame:
        r = ranges.select(
            F.col("lo"), F.col("hi"), F.col("region").alias(target)
        )
        return df.join(
            F.broadcast(r),
            (F.col(source) >= F.col("lo")) & (F.col(source) <= F.col("hi")),
            "left",
        ).drop("lo", "hi")

    return t


@step("udf")
def _udf(target: str, fn: Callable, input_cols: list[str], returns: str = "string") -> Transform:
    """Arbitrary-Python escape hatch (Logstash ``ruby`` filter).
    Deliberately the LAST resort: the callable runs row-at-a-time in
    Python workers, outside codegen — every other step stays JVM-side.
    Kept because a pipeline DSL without an escape hatch forces users
    to fork; marked so reviewers can grep for the slow path."""
    pyfn = F.udf(fn, returns)

    def t(df: DataFrame) -> DataFrame:
        return df.withColumn(target, pyfn(*[F.col(c) for c in input_cols]))

    return t


# ------------------------------------------------- corpus-prep steps
# The LLM training-data path (dedup → quality → decontaminate → pack
# → split) as first-class config steps, so the corpus pipeline runs
# from the SAME CLI as the log pipelines (VERDICT r8 #7a). Each step
# is pure Column algebra — the whole chain stays ONE Catalyst plan;
# the registry query `corpus_prep_staged_pipeline` runs this exact
# compiled chain under the DuckDB hash gate.


@step("quality")
def _quality(
    source: str = "text",
    min_tokens: int | None = None,
    min_alpha_ratio: float | None = None,
    prefix: str = "q_",
) -> Transform:
    """Quality signals for a text column: token count (lowercased
    [a-z]+ words) and alphabetic-character ratio, with optional
    gates. Signals are ADDED (``{prefix}n_tokens``,
    ``{prefix}alpha_ratio``) so a downstream sink can audit why a
    row survived; gates filter immediately (predicate reaches the
    scan — quality gating is the cheapest stage, run it first)."""

    def t(df: DataFrame) -> DataFrame:
        toks = F.filter(
            F.split(F.lower(F.col(source)), "[^a-z]+"), lambda x: x != ""
        )
        df = df.withColumn(f"{prefix}n_tokens", F.size(toks).cast("long"))
        df = df.withColumn(
            f"{prefix}alpha_ratio",
            F.length(F.regexp_replace(F.lower(F.col(source)), "[^a-z]", ""))
            / F.greatest(F.length(source), F.lit(1)),
        )
        if min_tokens is not None:
            df = df.filter(F.col(f"{prefix}n_tokens") >= min_tokens)
        if min_alpha_ratio is not None:
            df = df.filter(F.col(f"{prefix}alpha_ratio") >= min_alpha_ratio)
        return df

    return t


@step("dedup")
def _dedup(fields: list[str], order: str) -> Transform:
    """Exact content dedup with a DETERMINISTIC winner: one row per
    md5(fields), the minimum-``order`` row wins (ties on content
    hash resolve the same way on every run and every engine — a bare
    dropDuplicates picks an arbitrary partition winner). ONE shuffle
    on the content hash; at 100 TB this is the classic hash-groupBy
    dedup, skew-free because md5 keys are uniform."""
    if not fields:
        raise ValueError("dedup: fields must be non-empty")

    def t(df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        key = F.md5(F.concat_ws("\x1f", *[F.col(c) for c in fields]))
        w = Window.partitionBy(key).orderBy(order)
        return (
            df.withColumn("_dd_rn", F.row_number().over(w))
            .filter(F.col("_dd_rn") == 1)
            .drop("_dd_rn")
        )

    return t


def decontaminate_ngrams(
    df: DataFrame,
    source: str,
    eval_df: DataFrame,
    eval_column: str,
    ngram: int = 8,
) -> DataFrame:
    """Benchmark decontamination: drop every row of ``df`` sharing at
    least one ``ngram``-token shingle (lowercased [a-z]+ words) with
    the eval set — the Lee/Brown-style exact n-gram overlap filter.
    Shape: explode shingles on BOTH sides, LEFT SEMI the contaminated
    ids against the (small) eval shingle set, LEFT ANTI the originals
    — eval shingles broadcast when small, and the expensive explode
    of df happens once with no join back of payload columns."""

    def shingles(frame: DataFrame, col: str, out: str) -> DataFrame:
        toks = F.filter(
            F.split(F.lower(F.col(col)), "[^a-z]+"), lambda x: x != ""
        )
        return frame.select(toks.alias("_t")).filter(
            F.size("_t") >= ngram
        ).select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("_t") - (ngram - 1)),
                    lambda i: F.array_join(
                        F.slice(F.col("_t"), i, ngram), " "
                    ),
                )
            ).alias(out)
        ).distinct()

    ev = shingles(eval_df, eval_column, "sh")
    toks = F.filter(
        F.split(F.lower(F.col(source)), "[^a-z]+"), lambda x: x != ""
    )
    # joining shingle-exploded rows SEMI against eval keeps the
    # payload out of the explode; the content hash ties hits back to
    # whole rows (identical texts are equally contaminated, so a
    # value-keyed anti-join is exact — and deterministic, unlike a
    # monotonically_increasing_id carried across two plan branches)
    hits = (
        df.select(
            F.md5(F.col(source)).alias("_ch"),
            F.explode(
                F.when(
                    F.size(toks) >= ngram,
                    F.transform(
                        F.sequence(F.lit(1), F.size(toks) - (ngram - 1)),
                        lambda i: F.array_join(F.slice(toks, i, ngram), " "),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("sh"),
        )
        .join(ev, "sh", "left_semi")
        .select("_ch")
        .distinct()
    )
    return df.join(
        hits,
        F.md5(F.col(source)) == hits["_ch"],
        "left_anti",
    )


@step("decontaminate")
def _decontaminate(
    source: str,
    eval_path: str,
    eval_column: str,
    ngram: int = 8,
    eval_format: str = "parquet",
    eval_filter: str | None = None,
) -> Transform:
    """Config form of :func:`decontaminate_ngrams`: the eval set is
    read from ``eval_path`` (``eval_filter`` optionally narrows it —
    e.g. a held-out slice of the same table)."""

    def t(df: DataFrame) -> DataFrame:
        ev = df.sparkSession.read.format(eval_format).load(eval_path)
        if eval_filter:
            ev = ev.filter(eval_filter)
        return decontaminate_ngrams(df, source, ev, eval_column, ngram)

    return t


@step("pack")
def _pack(
    source: str = "text",
    tokens_per_chunk: int = 32,
    keep: list[str] | None = None,
    tokenizer: str = "words",
) -> Transform:
    """Pack documents into fixed-size token chunks (posexplode
    slices — JVM-side, no shuffle): the training sequence-packing
    stage. Output columns: ``keep`` + (chunk_no, chunk).

    ``tokenizer`` picks the token stream that gets packed:

    - ``"words"`` (default): the SAME lowercased ``[a-z]+`` stream
      the ``quality`` step counts — so ``q_n_tokens`` always equals
      the number of tokens actually packed, on any input (ADVICE r9
      #4: the old whitespace split only coincided with the quality
      count on lowercase single-space corpora; punctuated, uppercase
      or multi-space text silently diverged, and empty-string tokens
      inflated chunks).
    - ``"whitespace"``: verbatim single-space split (Logstash-style
      chunking of already-tokenized text) — chunks re-join to the
      original text exactly, but the count can differ from
      ``q_n_tokens``.
    """
    from .functions.chunking import chunk_text_columnar

    if tokenizer not in ("words", "whitespace"):
        raise ValueError(
            f"pack: tokenizer must be 'words' or 'whitespace', got {tokenizer!r}"
        )

    def t(df: DataFrame) -> DataFrame:
        if tokenizer == "words":
            toks = F.filter(
                F.split(F.lower(F.col(source)), "[^a-z]+"),
                lambda x: x != "",
            )
            df = df.withColumn(source, F.array_join(toks, " "))
        return chunk_text_columnar(
            df, source, tokens_per_chunk, list(keep or [])
        )

    return t


@step("dataset_split")
def _split_assign(
    key: str,
    weights: dict[str, float],
    target: str = "split",
    salt: str = "",
) -> Transform:
    """Deterministic train/val/test assignment: md5-minted uniform on
    the key column (the shared mint — functions/sampling.md5_uniform,
    oracle twin md5_uniform_sql), cut at the cumulative weights in
    config order. Reshuffling the data, adding rows, or re-running
    never moves an existing key between splits (the property random()
    splits lack)."""
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(
            f"dataset_split: weights must sum to 1, got {total}"
        )

    from .functions.sampling import md5_uniform

    def t(df: DataFrame) -> DataFrame:
        u = md5_uniform(
            f"'{salt}' || CAST({key} AS STRING)"
            if salt
            else f"CAST({key} AS STRING)"
        )
        expr = None
        acc = 0.0
        names = list(weights)
        for name in names[:-1]:
            acc += weights[name]
            cond = u < F.lit(acc)
            expr = (
                F.when(cond, name)
                if expr is None
                else expr.when(cond, name)
            )
        expr = (
            expr.otherwise(names[-1]) if expr is not None else F.lit(names[-1])
        )
        return df.withColumn(target, expr)

    return t


@step("neardup_dedup")
def _neardup_dedup(
    source: str,
    id: str,
    threshold: float = 0.6,
    n_hashes: int = 16,
    band_size: int = 2,
    ngram: int = 3,
) -> Transform:
    """Near-duplicate dedup as a config step (the MinHash profile of
    the corpus-prep chain): operators/dedup.drop_near_duplicates —
    shingle → MinHash-LSH bands → exact-Jaccard verify → connected
    components → keep each cluster's canonical (min-id) doc. Use
    after the exact `dedup` step: exact copies collapse for the cost
    of one hash shuffle before the (heavier) banded pass runs."""
    from .operators.dedup import drop_near_duplicates

    def t(df: DataFrame) -> DataFrame:
        return drop_near_duplicates(
            df, source, id,
            threshold=threshold, n_hashes=n_hashes,
            band_size=band_size, ngram=ngram,
        )

    return t


@step("schema_drift")
def _schema_drift(source: str) -> Transform:
    """Live schema-drift monitor as a config step: on a STREAMING
    frame this is streaming/stateful.schema_drift_stream (GroupState
    per JSON key-set shape, emit-once ``is_new`` alert — chain
    ``{type: filter, expr: "is_new"}`` + a sink to get the
    producer-drift alert feed); on a BATCH frame it emits the same
    schema as the degenerate one-batch stream (batch_rows =
    total_rows = the shape's count, is_new = true), so one config
    audits a parquet snapshot or monitors the live stream unchanged.
    """

    def t(df: DataFrame) -> DataFrame:
        if df.isStreaming:
            from .streaming.stateful import schema_drift_stream

            return schema_drift_stream(df, source)
        key_set = (
            F.when(F.col(source).isNull(), F.lit("<null>"))
            .otherwise(
                F.coalesce(
                    F.array_join(
                        F.array_sort(F.json_object_keys(source)), ","
                    ),
                    F.lit("<invalid>"),
                )
            )
            .alias("key_set")
        )
        return (
            df.select(key_set)
            .groupBy("key_set")
            .agg(F.count(F.lit(1)).cast("long").alias("batch_rows"))
            .select(
                "key_set",
                "batch_rows",
                F.col("batch_rows").alias("total_rows"),
                F.lit(True).alias("is_new"),
            )
        )

    return t


# --------------------------------------------------------------- pipeline


@dataclass
class Pipeline:
    """An ordered chain of compiled transforms (one Catalyst plan)."""

    transforms: list[Transform] = field(default_factory=list)

    @classmethod
    def from_config(cls, config: dict | list[dict]) -> "Pipeline":
        steps = config["steps"] if isinstance(config, dict) else config
        transforms = []
        for i, conf in enumerate(steps):
            conf = dict(conf)
            typ = conf.pop("type", None)
            factory = _STEP_FACTORIES.get(typ)
            if factory is None:
                raise ValueError(
                    f"step {i}: unknown type {typ!r}; known: {step_types()}"
                )
            transforms.append(factory(**conf))
        return cls(transforms)

    def apply(self, df: DataFrame) -> DataFrame:
        for t in self.transforms:
            df = t(df)
        return df

    def apply_split(self, df: DataFrame) -> tuple[DataFrame, DataFrame]:
        """Run the chain and split (healthy, dead-letter) frames."""
        return split_dead_letters(self.apply(df))

    def __call__(self, df: DataFrame) -> DataFrame:
        return self.apply(df)


# ------------------------------------------------------- sources / sinks


def read_source(spark: SparkSession, conf: dict) -> DataFrame:
    """Build a batch or streaming source DataFrame from config.

    Batch: ``{"format": "parquet"|"csv"|"json"|"text", "path": ...}``
    Streaming: add ``"stream": true`` (file formats need ``"schema"``);
    ``{"format": "rate", "stream": true}`` for the test generator (S7).
    """
    conf = dict(conf)
    fmt = conf.pop("format")
    path = conf.pop("path", None)
    streaming = conf.pop("stream", False)
    schema = conf.pop("schema", None)
    if streaming:
        reader = spark.readStream.format(fmt)
        if schema:
            reader = reader.schema(schema)
        for k, v in conf.items():
            reader = reader.option(k, v)
        return reader.load(path) if path else reader.load()
    reader = spark.read.format(fmt)
    if schema:
        reader = reader.schema(schema)
    for k, v in conf.items():
        reader = reader.option(k, v)
    return reader.load(path) if path else reader.load()


def write_sink(df: DataFrame, conf: dict):
    """Write a batch DataFrame or start a streaming query per config.

    Batch: ``{"format": "parquet"|"csv"|"json", "path": ..., "mode": ...}``
    Streaming df: ``{"format": "memory"|"parquet"|"console",
    "queryName"/"path"/"checkpointLocation": ..., "availableNow": true}``
    returns the started StreamingQuery (K1/K2/K5).
    """
    conf = dict(conf)
    fmt = conf.pop("format")
    if df.isStreaming:
        available_now = conf.pop("availableNow", False)
        query_name = conf.pop("queryName", None)
        path = conf.pop("path", None)
        if fmt == "foreachBatch":
            # K6 escape hatch: arbitrary per-micro-batch handler
            # fn(batch_df, batch_id) — the Logstash ruby-output analog.
            fn = conf.pop("function")
            writer = df.writeStream.foreachBatch(fn)
            if query_name:
                writer = writer.queryName(query_name)
            for k, v in conf.items():
                writer = writer.option(k, v)
            if available_now:
                writer = writer.trigger(availableNow=True)
            return writer.start()
        writer = df.writeStream.format(fmt)
        if query_name:
            writer = writer.queryName(query_name)
        for k, v in conf.items():
            writer = writer.option(k, v)
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start(path) if path else writer.start()
    if "path" not in conf:
        raise ValueError(
            f"batch sink '{fmt}' requires a path — note that under "
            "single-pass `fanout:` every sink is written as a BATCH "
            "write per micro-batch, so path-less streaming formats "
            "(console/memory) belong to the one-query-per-sink shape"
        )
    path = conf.pop("path")
    mode = conf.pop("mode", "overwrite")
    writer = df.write.format(fmt).mode(mode)
    for k, v in conf.items():
        writer = writer.option(k, v)
    writer.save(path)
    return None
