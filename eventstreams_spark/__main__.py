"""CLI: run a declarative pipeline config end to end.

The Logstash-replacement entry point — a user of the reference runs
flows from config; here:

    python -m eventstreams_spark run pipeline.yaml
    python -m eventstreams_spark validate pipeline.yaml
    python -m eventstreams_spark list-steps

Config shape (YAML or JSON):

    source: {format: json, path: /data/in, stream: true, schema: "..."}
    steps:
      - {type: grok, source: line, pattern: "%{IP:client} %{WORD:verb}"}
      - {type: filter, expr: "verb = 'GET'"}
    sink: {format: parquet, path: /data/out,
           checkpointLocation: /data/ck, availableNow: true}

Multi-output fan-out (Logstash `output { if ... }`): replace `sink`
with a `sinks` list; each entry takes an optional per-sink `filter`
expression (rows may match several sinks — filters are independent):

    sinks:
      - {filter: "status_class = 'server_error'", format: parquet,
         path: /data/errors}
      - {format: parquet, path: /data/all}

A streaming run with more than one output (`sinks`, or a `dlq:` next
to the sink) is ONE foreachBatch query: each micro-batch is computed
once and every output commits it through its own file-sink log
(`_spark_metadata`), which skips a replayed batch, so each output is
written exactly once. The query's checkpoint, trigger and name are
those of `sink:` / `sinks[0]`, or of `fanout:` if given (per-sink
checkpointLocation / availableNow keys are then rejected):

    fanout: {checkpointLocation: /data/ck, availableNow: true}

A batch run writes every output from one materialization of the
frame, so the source is read once there too.

Custom sources (event_generator / event_spool / es_bulk) are
registered automatically so configs can name them like built-ins.
"""

from __future__ import annotations

import argparse
import json
import sys


def load_config(path: str) -> dict:
    with open(path, encoding="utf-8") as f:
        text = f.read()
    if path.endswith((".yaml", ".yml")):
        try:
            import yaml
        except ImportError as e:  # pragma: no cover - yaml is bundled here
            raise SystemExit("pyyaml not available; use a .json config") from e
        return yaml.safe_load(text)
    return json.loads(text)


def cmd_validate(config: dict) -> None:
    from .pipeline import Pipeline

    Pipeline.from_config(config)  # compile errors surface here
    if "source" not in config:
        raise SystemExit("config missing 'source'")
    if "sink" not in config and "sinks" not in config:
        raise SystemExit("config missing 'sink' (or 'sinks')")
    if "sink" in config and "sinks" in config:
        raise SystemExit("config has both 'sink' and 'sinks'; pick one")
    for i, s in enumerate(config.get("sinks") or []):
        if "format" not in s:
            raise SystemExit(f"sinks[{i}] missing 'format'")
    print("config OK:", len(config.get("steps", [])), "steps")


def _compile(config: dict, app_name: str):
    """Shared session + source + pipeline compilation for run/explain —
    ONE code path so `explain` always predicts exactly what `run`
    executes (new source registrations land in both automatically)."""
    from .pipeline import Pipeline, read_source
    from .session import get_spark
    from .sources import register_es_bulk, register_generator, register_spool

    spark = get_spark(app_name)
    register_generator(spark)
    register_spool(spark)
    register_es_bulk(spark)
    pipe = Pipeline.from_config(config)
    df = read_source(spark, config["source"])
    return spark, pipe.apply(df)


#: Output keys that configure the shared streaming query, not a write.
_QUERY_KEYS = ("checkpointLocation", "availableNow", "queryName")


def _refuse_stale_state(spark, outputs: list[dict], query_ck: str | None) -> None:
    """Stop before an output's own state could hide or skip rows.

    Every output needs a path: the shared query commits files. A
    checkpoint that an output names but the shared query does not use,
    and that holds an ``offsets/`` log, was left by a query of the
    output's own: the output's file-sink log numbers batches by that
    query, so the shared query's batch ids could be skipped as already
    committed. An output path holding files but no ``_spark_metadata``
    log was written by plain batch writes: once a file-sink log
    exists, readers would see only the files it lists."""
    jvm, hconf = spark._jvm, spark._jsc.hadoopConfiguration()

    def exists(*parts: str) -> bool:
        p = jvm.org.apache.hadoop.fs.Path(*parts)
        return p.getFileSystem(hconf).exists(p)

    for conf in outputs:
        ck, path = conf.get("checkpointLocation"), conf.get("path")
        if not path:
            raise SystemExit(f"{conf.get('format')} output needs a path: "
                             "a multi-output streaming run writes files")
        if ck and ck != query_ck and exists(ck, "offsets"):
            raise SystemExit(
                f"checkpoint {ck} holds the offsets of a query that wrote "
                f"{path} on its own; every output is now written by one "
                "query, so move that checkpoint away before running"
            )
        if exists(path) and not exists(path, "_spark_metadata"):
            p = jvm.org.apache.hadoop.fs.Path(path)
            if len(p.getFileSystem(hconf).listStatus(p)):
                raise SystemExit(
                    f"output {path} holds files but no _spark_metadata log; "
                    "a file-sink log would hide them from readers"
                )


def _start_shared_query(spark, out, sinks: list[dict], dlq: dict | None, fanout: dict | None):
    """ONE foreachBatch query for every output of a streaming run.

    Each micro-batch goes through :func:`write_outputs` (computed once,
    split into healthy, dead and filtered branches) and each output
    commits its branch with Spark's ``FileStreamSink.addBatch``, whose
    log skips a batch id it already holds, so a replayed batch is
    written once per output. The query's checkpoint, trigger and name
    come from ``fanout:`` if given, else from ``sink:`` / ``sinks[0]``."""
    from .pipeline import file_stream_sink, write_outputs, write_sink

    if fanout is not None:
        for i, conf in enumerate(sinks):
            for bad in ("checkpointLocation", "availableNow"):
                if bad in conf:
                    raise SystemExit(f"sinks[{i}]: '{bad}' belongs on `fanout:`")
        settings = dict(fanout)
    else:
        settings = {k: sinks[0][k] for k in _QUERY_KEYS if k in sinks[0]}
    outputs = [*sinks, *([dlq] if dlq is not None else [])]
    _refuse_stale_state(spark, outputs, settings.get("checkpointLocation"))
    file_sinks = [
        file_stream_sink(spark, {k: v for k, v in conf.items() if k not in (*_QUERY_KEYS, "filter")})
        for conf in outputs
    ]

    def fn(batch_df, batch_id):
        write_outputs(batch_df, sinks, dlq,
                      commit=lambda i, rows: file_sinks[i].addBatch(batch_id, rows._jdf))

    return write_sink(out, {"format": "foreachBatch", "function": fn, **settings})


def cmd_run(config: dict, await_seconds: int | None) -> None:
    from .pipeline import write_outputs

    spark, out = _compile(config, "eventstreams-pipeline")
    # multi-output fan-out (the Logstash `output { if ... }` idiom):
    # each `sinks` entry takes the healthy rows through its own
    # `filter` (filters are independent, a row may land in several);
    # `dlq:` takes the rows tagged by deadletter/date/range/... steps
    sinks = config["sinks"] if "sinks" in config else [config["sink"]]
    dlq = config.get("dlq")
    if out.isStreaming and (len(sinks) > 1 or dlq is not None or "fanout" in config):
        queries = [_start_shared_query(spark, out, sinks, dlq, config.get("fanout"))]
    else:  # batch writes, or a streaming run's one file/console/memory sink
        queries = write_outputs(out, sinks, dlq)
    for q in queries:
        if q is not None:  # streaming query
            q.awaitTermination(await_seconds) if await_seconds else q.awaitTermination()
    print("done")


def cmd_explain(config: dict) -> None:
    """Compile the pipeline and print its physical plan plus a
    scale summary (shuffle/scan/Python-eval operator counts) WITHOUT
    running it — the pre-flight check for 'will this config shuffle
    my 100 TB corpus more than it must'."""
    from .plans import formatted_plan, operator_counts

    _, out = _compile(config, "eventstreams-explain")
    print(formatted_plan(out))
    counts = operator_counts(out)
    shuffles = sum(n for op, n in counts.items() if op.startswith("Exchange"))
    scans = sum(n for op, n in counts.items() if op.startswith("Scan"))
    python = sum(
        n
        for op, n in counts.items()
        if op.startswith(("BatchEvalPython", "ArrowEvalPython", "MapInPandas"))
    )
    print(f"-- shuffles: {shuffles}  scans: {scans}  python-evals: {python}")


def cmd_index(sf_dir: str, prune: bool = False) -> None:
    """Pre-build the shared suffix-array index for a corpus dir — the
    explicit form of the build-on-miss materialization every
    L2-suffixarray query does implicitly (SCALE.md §24). A production
    run schedules this right after a corpus snapshot lands so the
    first analyst query doesn't pay the build. ``--prune``
    additionally evicts stale fingerprint entries for the SAME input
    dir (a re-minted corpus leaves the old entry as a dead directory
    otherwise) and sweeps crashed builders' tmp dirs."""
    from .queries.llm import (
        _sa_cache_path,
        _suffix_array_lcp_frame,
        sa_cache_prune,
    )
    from .session import get_spark

    spark = get_spark("eventstreams-index")
    frame = _suffix_array_lcp_frame(spark, sf_dir)
    print(f"index ready: {_sa_cache_path(sf_dir)} ({frame.count()} suffixes)")
    if prune:
        kept, removed = sa_cache_prune(sf_dir)
        print(f"pruned {len(removed)} stale entr{'y' if len(removed) == 1 else 'ies'}, {len(kept)} kept")


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="eventstreams_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    for name in ("run", "validate", "explain"):
        sp = sub.add_parser(name)
        sp.add_argument("config")
        if name == "run":
            sp.add_argument("--await-seconds", type=int, default=None)
    sub.add_parser("list-steps")
    sp = sub.add_parser("index")
    sp.add_argument("sf_dir")
    sp.add_argument("--prune", action="store_true")
    args = p.parse_args(argv)

    if args.cmd == "list-steps":
        from .pipeline import step_types

        print("\n".join(step_types()))
        return
    if args.cmd == "index":
        cmd_index(args.sf_dir, prune=args.prune)
        return
    config = load_config(args.config)
    if args.cmd == "validate":
        cmd_validate(config)
    elif args.cmd == "explain":
        cmd_explain(config)
    else:
        cmd_run(config, args.await_seconds)


if __name__ == "__main__":
    main()
