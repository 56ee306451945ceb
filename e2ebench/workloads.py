"""The three workloads, each driven through the engine's public entry
points and checked for correct output outside its timed region.

* ``batch_headline``: closed loop, one client, the nine headline
  registry queries (``registry`` builders, ``collect``).
* ``ingest_backlog``: one ``__main__.cmd_run`` per repetition over a
  weblog backlog, ``availableNow``, parquet sink plus parquet DLQ.
* ``drift_paced``: open loop; a separate publisher process drops JSON
  chunks on a fixed schedule while ``read_source`` → ``Pipeline``
  (``schema_drift``) → ``write_sink`` runs on the default trigger.

Each workload function returns ``(e2e, attempted, failed, detail)``:
the end-to-end metrics, the operations attempted and failed (wrong
output counts as failed), and what else the run saw. Per-layer values
of a traced run go to ``run.layers``.
"""

from __future__ import annotations

import datetime
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

import numpy as np

import gen
from tracing import ProgressLog, Tracer, plan_ms, shuffle_bytes

HERE = os.path.dirname(os.path.abspath(__file__))
APP = "e2ebench"

# bench.py's headline set, in its order
HEADLINE = [
    "agg_pricing_summary",
    "topk_orders_by_revenue",
    "join_multiway_tpch_q5",
    "window_top3_per_user",
    "sessionize_gap30m_batch",
    "tumbling_1h_agg",
    "json_extract_props",
    "knn_cosine_topk",
    "dedup_exact_distinct",
]
# tables each headline query reads, for the rows-per-second count
READS = {
    "agg_pricing_summary": ["lineitem"],
    "topk_orders_by_revenue": ["customer", "orders", "lineitem"],
    "join_multiway_tpch_q5": ["lineitem", "orders", "customer", "supplier", "nation", "region"],
    "window_top3_per_user": ["events"],
    "sessionize_gap30m_batch": ["events"],
    "tumbling_1h_agg": ["events"],
    "json_extract_props": ["events"],
    "knn_cosine_topk": ["embeddings"],
    "dedup_exact_distinct": ["documents"],
}
BATCH_TABLES = sorted({t for ts in READS.values() for t in ts})

PHASES = ["addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset",
          "getBatch", "triggerExecution"]

INGEST_STEPS = [
    {"type": "grok", "source": "value", "pattern": "%{COMBINEDAPACHELOG}"},
    {"type": "date", "source": "timestamp", "formats": ["dd/MMM/yyyy:HH:mm:ss Z"],
     "target": "@timestamp"},
    {"type": "translate", "source": "response",
     "mapping": {"200": "ok", "301": "redirect", "404": "not_found", "500": "server_error"},
     "target": "status_class", "default": "other"},
    {"type": "deadletter", "when": "clientip = ''", "reason": "grok_failure"},
]


class Sizes:
    """Input sizes. ``tiny()`` is the smoke-test scale."""

    def __init__(self, sf=0.03, lines=60_000, chunks=8, rate=8_000, period=0.1,
                 shapes=60, warm_chunks=1, setup_reps=3, warm_passes=4, min_passes=4,
                 min_reps=3):
        self.sf = sf  # batch_headline table scale (sf 1 = 6M lineitem rows)
        self.warm_passes = warm_passes  # batch passes before the samples start
        self.lines = lines  # ingest_backlog lines per cmd_run
        self.chunks = chunks  # ingest_backlog chunk files
        self.rate = rate  # drift_paced events per second
        self.period = period  # drift_paced seconds between chunks
        self.shapes = shapes  # drift_paced key-set shapes by the end of the run
        self.warm_chunks = warm_chunks  # drift_paced closed-loop warm-up chunks
        self.setup_reps = setup_reps  # warm set-ups whose median is setup_s
        self.min_passes = min_passes  # batch passes even if --seconds ran out
        self.min_reps = min_reps  # cmd_run repetitions even if --seconds ran out

    @classmethod
    def tiny(cls) -> "Sizes":
        return cls(sf=0.001, lines=5_000, chunks=2, rate=2_000, period=0.25, shapes=8,
                   warm_chunks=1, setup_reps=2, warm_passes=1, min_passes=2, min_reps=2)


class Run:
    """What one benchmark invocation shares across its phases."""

    def __init__(self, work: str, seed: int, seconds: float, trace: bool, sizes: Sizes,
                 faults: set[str] = frozenset()):
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tr = Tracer(trace)
        self.sizes = sizes
        self.faults = faults  # smoke test only: corrupt a gate's input
        self.layers: dict[str, float] = {}
        self.spark = None
        self.marks: list[tuple[str, float]] = [("start", time.perf_counter())]

    def mark(self, label: str) -> None:
        """End of a run phase; ``phases()`` gives each one's wall time."""
        self.marks.append((label, time.perf_counter()))

    def phases(self) -> dict[str, float]:
        return {b[0]: b[1] - a[1] for a, b in zip(self.marks, self.marks[1:])}


def pct(values, p: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), p))


def _median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


# --------------------------------------------------------------- set-up


def _unload_registry() -> None:
    """Forget the imported query modules so the next
    ``registry._ensure_loaded`` imports them again, as a new process
    would."""
    import eventstreams_spark
    from eventstreams_spark import registry

    registry.REGISTRY.clear()
    registry._loaded = False
    for name in [m for m in sys.modules if m.startswith("eventstreams_spark.queries")]:
        del sys.modules[name]
    if hasattr(eventstreams_spark, "queries"):
        del eventstreams_spark.queries


def _setup_once(run: Run, sf_dir: str | None, tables: list[str]) -> tuple[float, dict]:
    from eventstreams_spark import catalog, registry, session, sources

    t = {}
    t0 = time.perf_counter()
    run.spark = session.get_spark(APP)
    t1 = time.perf_counter()
    sources.register_generator(run.spark)
    sources.register_spool(run.spark)
    sources.register_es_bulk(run.spark)
    t2 = time.perf_counter()
    registry._ensure_loaded()
    t3 = time.perf_counter()
    for name in tables:
        catalog.load_table(run.spark, sf_dir, name)
    t4 = time.perf_counter()
    t["session"], t["sources"], t["registry"], t["catalog"] = t1 - t0, t2 - t1, t3 - t2, t4 - t3
    return t4 - t0, t


def setup(run: Run, sf_dir: str | None = None, tables: list[str] = ()) -> float:
    """Cold set-up (JVM launch), then ``setup_reps`` warm set-ups that
    stop the session, re-import the registry and set up again in the
    same JVM. Returns the median warm set-up (``setup_s``)."""
    from eventstreams_spark import catalog

    tr = run.tr
    with tr.span("setup.cold"):
        _, cold = _setup_once(run, sf_dir, tables)
    t0 = time.perf_counter()
    for name in tables:
        catalog.load_table(run.spark, sf_dir, name)
    warm_catalog = time.perf_counter() - t0
    warm, parts = [], []
    for _ in range(run.sizes.setup_reps):
        run.spark.stop()
        _unload_registry()
        with tr.span("setup.warm"):
            total, p = _setup_once(run, sf_dir, tables)
        warm.append(total)
        parts.append(p)
    run.spark.sparkContext.setLogLevel("ERROR")
    run.layers.update({
        "session.start_s": cold["session"],
        "session.restart_s": _median([p["session"] for p in parts]),
        "sources.register_s": cold["sources"],
        "registry.load_s": cold["registry"],
        "catalog.load_table_s": cold["catalog"],
        "catalog.load_table_warm_s": warm_catalog,
    })
    return _median(warm)


# --------------------------------------------------------------- batch


def batch_headline(run: Run):
    from eventstreams_spark import registry

    from oracle import oracle_hashes, rows_hash

    sf_dir = gen.write_tables(run.work, run.seed, run.sizes.sf)
    run.mark("inputs")
    setup_s = setup(run, sf_dir, BATCH_TABLES)
    run.mark("setup")
    spark, tr = run.spark, run.tr
    builders = {q: registry.REGISTRY[q].builder for q in HEADLINE}
    rng = random.Random(run.seed)

    # a cold pass and three warm-up passes stay out of the samples: they
    # pay the JVM's first-run and JIT costs, and pass times fall for
    # about four passes
    for _ in range(run.sizes.warm_passes):
        for q in HEADLINE:
            builders[q](spark, sf_dir).collect()
    run.mark("warm_up")

    plain: dict[str, list[float]] = {q: [] for q in HEADLINE}
    traced: dict[str, list[float]] = {q: [] for q in HEADLINE}
    build, plan, execute, shuffle = ({q: [] for q in HEADLINE} for _ in range(4))
    # the first result of each query is kept for the oracle hash; every
    # timed result is reduced to a digest right away (outside the timing)
    # so retained rows do not grow the Python heap pass after pass
    first: dict[str, tuple] = {}
    digests: dict[str, list[tuple[int, int]]] = {q: [] for q in HEADLINE}
    attempted = failed = 0
    deadline = time.perf_counter() + run.seconds
    n_pass = 0
    while n_pass < run.sizes.min_passes or time.perf_counter() < deadline:
        order = HEADLINE[:]
        rng.shuffle(order)
        on = tr.enabled and n_pass % 2 == 1  # traced passes alternate with plain ones
        tr.rep = n_pass
        for q in order:
            attempted += 1
            try:
                t0 = time.perf_counter()
                df = builders[q](spark, sf_dir)
                t1 = time.perf_counter()
                rows = df.collect()
                t2 = time.perf_counter()
            except Exception as e:  # a failed query is a failed operation
                print(f"[batch] {q} failed: {e!r}", file=sys.stderr)
                failed += 1
                continue
            (traced if on else plain)[q].append(t2 - t0)
            first.setdefault(q, (rows, df.columns))
            digests[q].append(_digest(rows))
            if on:
                tr.spans.append((len(tr.spans), f"queries.build.{q}", t0, t1, None, n_pass))
                tr.spans.append((len(tr.spans), f"queries.collect.{q}", t1, t2, None, n_pass))
                build[q].append(t1 - t0)
                plan[q].append(plan_ms(df))
                shuffle[q].append(shuffle_bytes(df))
                with tr.span(f"queries.execute.{q}"):
                    t3 = time.perf_counter()
                    builders[q](spark, sf_dir).write.format("noop").mode("overwrite").save()
                    execute[q].append(time.perf_counter() - t3)
        n_pass += 1
    run.mark("measure")

    # correctness: every timed result against its DuckDB oracle
    oracles = {q: registry.all_oracles()[q] for q in HEADLINE}
    expected = oracle_hashes(sf_dir, BATCH_TABLES, oracles)
    if "oracle" in run.faults:
        expected[HEADLINE[0]] = "0" * 64
    # the first result of each query against its oracle hash, every
    # later one against the first by digest
    wrong = []
    for q, (rows, cols) in first.items():
        ok_first = rows_hash(rows, cols) == expected[q]
        wrong += [q for d in digests[q] if not ok_first or d != digests[q][0]]
    failed += len(wrong)
    run.mark("check")

    samples = [x for q in HEADLINE for x in plain[q] + traced[q]]
    per_query = {q: _median(plain[q] + traced[q]) for q in HEADLINE}
    total_s = sum(per_query.values())
    rows_read = sum(_table_rows(sf_dir, t) for q in HEADLINE for t in READS[q])
    e2e = {
        "setup_s": setup_s,
        # each query's median, averaged over the queries: the pooled
        # median jumps between the levels of the queries near the middle
        "latency_p50_s": total_s / len(HEADLINE),
        "latency_pooled_p50_s": pct(samples, 50),
        "latency_p75_s": pct(samples, 75),
        "events_per_s": rows_read / total_s,
    }
    if tr.enabled:
        for q in HEADLINE:
            b, p, x = _median(build[q]), _median(plan[q]), _median(execute[q])
            run.layers[f"queries.build_s.{q}"] = b
            run.layers[f"queries.plan_ms.{q}"] = p
            run.layers[f"queries.execute_s.{q}"] = x
            run.layers[f"queries.transfer_s.{q}"] = max(0.0, _median(traced[q]) - b - x)
        for key in ("build_s", "plan_ms", "execute_s", "transfer_s"):
            run.layers[f"queries.{key}"] = sum(run.layers[f"queries.{key}.{q}"] for q in HEADLINE)
        run.layers["queries.shuffle_bytes"] = sum(_median(shuffle[q]) for q in HEADLINE)
        run.layers["queries.result_rows"] = float(sum(len(rows) for rows, _ in first.values()))
        run.layers["trace.overhead_frac"] = _overhead(
            sum(_median(traced[q]) for q in HEADLINE), sum(_median(plain[q]) for q in HEADLINE)
        )
    detail = {"sf": run.sizes.sf, "passes": n_pass, "samples": len(samples),
              "total_s": total_s, "per_query_s": per_query, "wrong": wrong,
              "samples_s": {q: plain[q] + traced[q] for q in HEADLINE}}
    return e2e, attempted, failed, detail


def _digest(rows) -> tuple[int, int]:
    """Order-insensitive multiset digest of collected rows: row count
    and the sum of the rows' hashes (stable within one process; a NaN
    would not compare equal, and the headline results hold none)."""
    return len(rows), sum(hash(tuple(r)) for r in rows) & 0xFFFFFFFFFFFFFFFF


def _table_rows(sf_dir: str, table: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(os.path.join(sf_dir, f"{table}.parquet")).metadata.num_rows


def _overhead(traced: float, plain: float) -> float:
    return traced / plain - 1.0 if plain > 0 else 0.0


# --------------------------------------------------------------- ingest


def _wait_progress(log: ProgressLog, names: set[str], timeout: float = 10.0) -> list[dict]:
    """Progress events of the named queries, once every one of them
    has reported (listener events arrive after the query returns)."""
    t_end = time.time() + timeout
    while True:
        evs = [p for p in log.events() if p.get("name") in names]
        if {p["name"] for p in evs} >= names or time.time() > t_end:
            return evs
        time.sleep(0.05)


def _patch_pipeline(tr: Tracer) -> None:
    from eventstreams_spark import pipeline, session, sources

    tr.patch(session, "get_spark", "session.get_spark")
    for fn in ("register_generator", "register_spool", "register_es_bulk"):
        tr.patch(sources, fn, "sources.register")
    tr.patch(pipeline, "read_source", "sources.read_source")
    tr.patch(pipeline.Pipeline, "from_config", "pipeline.compile")
    tr.patch(pipeline.Pipeline, "apply", "pipeline.apply")
    tr.patch(pipeline, "split_dead_letters", "pipeline.split_dead_letters")
    tr.patch(pipeline, "write_sink", "pipeline.write_sink")


def _phase_sums(evs: list[dict]) -> dict[str, float]:
    return {ph: float(sum(p["durationMs"].get(ph, 0) for p in evs)) for ph in PHASES}


def ingest_backlog(run: Run):
    from eventstreams_spark.__main__ import cmd_run

    sz = run.sizes
    src, garbled = gen.write_weblog(run.work, run.seed, sz.lines, sz.chunks)
    run.mark("inputs")
    setup_s = setup(run, None, [])
    run.mark("setup")
    spark, tr = run.spark, run.tr
    log = ProgressLog()
    if tr.enabled:
        spark.streams.addListener(log)

    def one(rep: int):
        out = os.path.join(run.work, f"ingest-{rep}")
        shutil.rmtree(out, ignore_errors=True)
        names = {f"ingest-main-{rep}", f"ingest-dlq-{rep}"}
        config = {
            "source": {"format": "text", "path": src, "stream": True, "schema": "value string"},
            "steps": INGEST_STEPS,
            "sink": {"format": "parquet", "path": f"{out}/out", "checkpointLocation": f"{out}/ck",
                     "availableNow": True, "queryName": f"ingest-main-{rep}"},
            "dlq": {"format": "parquet", "path": f"{out}/dlq", "checkpointLocation": f"{out}/ckd",
                    "availableNow": True, "queryName": f"ingest-dlq-{rep}"},
        }
        on = tr.enabled and rep > 0 and rep % 2 == 0  # the cold rep is never traced
        tr.rep = rep
        if on:
            _patch_pipeline(tr)
        try:
            t0 = time.perf_counter()
            with tr.span("cli.cmd_run"):
                cmd_run(config, None)
            wall = time.perf_counter() - t0
        finally:
            tr.restore()
        healthy = spark.read.parquet(f"{out}/out").count()
        dead = spark.read.parquet(f"{out}/dlq").count()
        if "dlq" in run.faults:
            dead -= 1
        ok = healthy + dead == sz.lines and dead == garbled
        evs = _wait_progress(log, names) if tr.enabled else []
        shutil.rmtree(out, ignore_errors=True)
        return wall, ok, healthy, dead, on, evs

    one(0)  # cold repetition, not measured
    run.mark("warm_up")
    plain, traced, attempted, failed = [], [], 0, 0
    layer_reps = []
    deadline = time.perf_counter() + run.seconds
    rep = 1
    while rep <= sz.min_reps or time.perf_counter() < deadline:
        attempted += 1
        try:
            wall, ok, healthy, dead, on, evs = one(rep)
        except Exception as e:  # a failed cmd_run is a failed operation
            print(f"[ingest] rep {rep} failed: {e!r}", file=sys.stderr)
            failed += 1
            rep += 1
            continue
        failed += not ok
        (traced if on else plain).append(wall)
        if on:
            layer_reps.append(_ingest_layers(tr, rep, evs, healthy, dead, sz.lines))
        rep += 1
    run.mark("measure")

    walls = plain + traced
    e2e = {
        "setup_s": setup_s,
        "latency_p50_s": pct(walls, 50),
        "latency_p75_s": pct(walls, 75),
        "events_per_s": sz.lines / _median(walls),
    }
    if tr.enabled:
        for key in layer_reps[0]:
            run.layers[key] = _median([r[key] for r in layer_reps])
        run.layers["trace.overhead_frac"] = _overhead(_median(traced), _median(plain))
    detail = {"lines": sz.lines, "garbled": garbled, "reps": len(walls), "walls_s": walls}
    return e2e, attempted, failed, detail


def _ingest_layers(tr: Tracer, rep: int, evs: list[dict], healthy: int, dead: int,
                   lines: int) -> dict:
    sums = _phase_sums(evs)
    last_sink = tr.last_end("pipeline.write_sink", rep)
    run_end = tr.last_end("cli.cmd_run", rep)
    out = {
        "pipeline.compile_s": sum(tr.durations("pipeline.compile", rep)),
        "pipeline.apply_s": sum(tr.durations("pipeline.apply", rep)),
        "pipeline.split_dead_letters_s": sum(tr.durations("pipeline.split_dead_letters", rep)),
        "sources.read_source_s": sum(tr.durations("sources.read_source", rep)),
        "pipeline.write_sink_s": sum(tr.durations("pipeline.write_sink", rep)),
        "streaming.run_s": (run_end - last_sink) if last_sink and run_end else 0.0,
        "streaming.batches": float(len(evs)),
        "sources.scan_amplification": sum(p.get("numInputRows", 0) for p in evs) / lines,
        "pipeline.rows_healthy": float(healthy),
        "pipeline.rows_dead": float(dead),
    }
    for ph in PHASES:
        out[f"streaming.{ph}_ms"] = sums[ph]
    return out


# ---------------------------------------------------------------- drift


def _file_batches(ck: str) -> dict[str, int]:
    """file name -> batch id, from the file source's metadata log
    (plain and compacted entries)."""
    d = os.path.join(ck, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(d):
        return out
    for n in os.listdir(d):
        if n.startswith("."):
            continue
        try:
            with open(os.path.join(d, n)) as f:
                lines = f.read().splitlines()[1:]
        except FileNotFoundError:  # replaced by a compaction meanwhile
            continue
        for line in lines:
            if line:
                e = json.loads(line)
                out[os.path.basename(e["path"])] = e["batchId"]
    return out


def _committed(ck: str) -> set[int]:
    d = os.path.join(ck, "commits")
    return {int(n) for n in os.listdir(d) if n.isdigit()} if os.path.isdir(d) else set()


def _epoch(ts: str) -> float:
    return datetime.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=datetime.timezone.utc).timestamp()


def _publish(src: str, name: str, dst: str) -> None:
    """Write, then rename: what the publisher does for each chunk."""
    with open(os.path.join(src, name), "rb") as f:
        data = f.read()
    tmp = os.path.join(dst, f".{name}")
    with open(tmp, "wb") as f:
        f.write(data)
    os.rename(tmp, os.path.join(dst, name))


def _wait_files(ck: str, files: set[str], timeout: float) -> bool:
    t_end = time.time() + timeout
    while time.time() < t_end:
        fb, done = _file_batches(ck), _committed(ck)
        if all(f in fb and fb[f] in done for f in files):
            return True
        time.sleep(0.05)
    return False


def drift_paced(run: Run):
    from eventstreams_spark.pipeline import Pipeline, read_source, write_sink
    from eventstreams_spark.streaming.stateful import schema_drift_snapshot
    from pyspark.sql import functions as F

    sz = run.sizes
    n_meas = max(2, int(round(run.seconds / sz.period)))
    per_chunk = int(sz.rate * sz.period)
    src, census = gen.write_drift(run.work, run.seed, sz.warm_chunks + n_meas, per_chunk,
                                  sz.shapes)
    names = sorted(n for n in os.listdir(src) if n.startswith("chunk-"))
    run.mark("inputs")
    setup_s = setup(run, None, [])
    run.mark("setup")
    spark, tr = run.spark, run.tr
    log = ProgressLog()
    spark.streams.addListener(log)

    base = os.path.join(run.work, "drift-run")
    shutil.rmtree(base, ignore_errors=True)
    inbox, meas = os.path.join(base, "in"), os.path.join(base, "measured")
    os.makedirs(inbox)
    os.makedirs(meas)
    for n in names[sz.warm_chunks:]:  # the publisher's share of the corpus
        os.link(os.path.join(src, n), os.path.join(meas, n))
    ck = os.path.join(base, "ck")
    with tr.span("sources.read_source"):
        df = read_source(spark, {"format": "text", "path": inbox, "stream": True,
                                 "schema": "payload string"})
    with tr.span("pipeline.compile"):
        pipe = Pipeline.from_config({"steps": [{"type": "schema_drift", "source": "payload"}]})
    with tr.span("pipeline.apply"):
        out = pipe.apply(df)
    with tr.span("pipeline.write_sink"):
        q = write_sink(out, {"format": "parquet", "path": os.path.join(base, "out"),
                             "checkpointLocation": ck, "queryName": "drift"})
    pub = None
    try:
        # closed-loop warm-up: each chunk waits for the previous commit
        for n in names[:sz.warm_chunks]:
            _publish(src, n, inbox)
            if not _wait_files(ck, {n}, 120):
                raise RuntimeError(f"warm-up chunk {n} not committed")
        run.mark("warm_up")
        start = time.time() + 0.3
        pub_log = os.path.join(base, "publish.jsonl")
        pub = subprocess.Popen([sys.executable, os.path.join(HERE, "publish.py"), "--src", meas,
                                "--out", inbox, "--log", pub_log, "--period", str(sz.period),
                                "--start", repr(start)])
        pub.wait(timeout=run.seconds + 60)
        run.mark("measure")
        t_last_pub = time.time()
        drained = _wait_files(ck, set(names), 30)
        drain_wall = time.time() - t_last_pub
        done = _committed(ck)
        t_end = time.time() + 10
        while not done <= {p["batchId"] for p in log.events()} and time.time() < t_end:
            time.sleep(0.05)
    finally:
        if pub is not None and pub.poll() is None:
            pub.kill()
            pub.wait()
        q.stop()
    run.mark("drain")
    fb = _file_batches(ck)
    evs = sorted((p for p in log.events() if p.get("name") == "drift"),
                 key=lambda p: p["batchId"])
    end = {p["batchId"]: _epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000
           for p in evs}
    with open(pub_log) as f:
        pubs = [json.loads(line) for line in f]
    lat, weights, lost = [], [], 0
    for r in pubs:
        b = fb.get(r["file"])
        if b is None or b not in done or b not in end:
            lost += r["events"]
            continue
        lat.append(end[b] - r["due"])
        weights.append(r["events"])
    per_event = np.repeat(lat, weights)

    # correctness: census of the sink output against the generator's
    emitted = spark.read.parquet(os.path.join(base, "out"))
    got = {r["key_set"]: r["n_rows"] for r in schema_drift_snapshot(emitted).collect()}
    new_flags = {r["key_set"]: r["n_new"] for r in emitted.groupBy("key_set").agg(
        F.sum(F.col("is_new").cast("int")).alias("n_new")).collect()}
    attempted = sum(census.values())
    if "census" in run.faults:
        census = dict(census)
        census[next(iter(census))] += 1
    bad = {k for k in set(census) | set(got) if census.get(k) != got.get(k)}
    bad |= {k for k in census if new_flags.get(k) != 1}
    failed = lost + sum(census.get(k, 0) for k in bad)
    run.mark("check")

    if not len(per_event):
        raise RuntimeError("no published chunk was committed")
    last_commit = max(end[fb[r["file"]]] for r in pubs if fb.get(r["file"]) in end)
    e2e = {
        "setup_s": setup_s,
        "latency_p50_s": pct(per_event, 50),
        "latency_p75_s": pct(per_event, 75),
        "events_per_s": int(sum(weights)) / (last_commit - pubs[0]["due"]),
    }
    if tr.enabled:
        run.layers.update(_drift_layers(tr, evs, pubs, fb, end))
        run.layers["streaming.drain_s"] = drain_wall
        # the timed loop is the same code traced or not (the listener is
        # needed for latency either way), so the overhead is the
        # tracer's own time over the run's wall
        run.layers["trace.overhead_frac"] = tr.self_s / (time.time() - start)
    detail = {"chunks_measured": len(pubs), "per_chunk": per_chunk, "rate": sz.rate,
              "period_s": sz.period, "drained": drained, "lost_events": lost,
              "bad_shapes": sorted(bad), "latency_p90_s": pct(per_event, 90),
              "batches": len(evs)}
    shutil.rmtree(base, ignore_errors=True)
    return e2e, attempted, failed, detail


def _drift_layers(tr: Tracer, evs, pubs, fb, end) -> dict:
    data = [p for p in evs if p.get("numInputRows", 0) > 0]
    out = {
        "pipeline.compile_s": sum(tr.durations("pipeline.compile")),
        "pipeline.apply_s": sum(tr.durations("pipeline.apply")),
        "sources.read_source_s": sum(tr.durations("sources.read_source")),
        "pipeline.write_sink_s": sum(tr.durations("pipeline.write_sink")),
        "streaming.batches": float(len(data)),
        "streaming.rows_per_batch_p50": _median([p["numInputRows"] for p in data]),
        "generator.late_max_s": max(r["published"] - r["due"] for r in pubs),
    }
    for ph, total in _phase_sums(data).items():
        vals = [p["durationMs"].get(ph, 0) for p in data]
        out[f"streaming.{ph}_ms"] = total
        out[f"streaming.{ph}_ms_p50"] = pct(vals, 50) if vals else 0.0
        out[f"streaming.{ph}_ms_p95"] = pct(vals, 95) if vals else 0.0
    ops = [p["stateOperators"][0] for p in data if p.get("stateOperators")]
    if ops:
        out["streaming.state_rows_last"] = float(ops[-1]["numRowsTotal"])
        out["streaming.state_memory_bytes_last"] = float(ops[-1]["memoryUsedBytes"])
        out["streaming.state_commit_ms_p50"] = _median([o["commitTimeMs"] for o in ops])
        out["streaming.state_update_ms_p50"] = _median([o["allUpdatesTimeMs"] for o in ops])
    # backlog: chunks already published when a trigger started but
    # left for a later batch
    lag = 0
    for p in data:
        t = _epoch(p["timestamp"])
        lag = max(lag, sum(1 for r in pubs if r["published"] <= t and fb.get(r["file"], 1 << 60)
                           > p["batchId"]))
    out["sources.read_lag_files_max"] = float(lag)
    return out


WORKLOADS = {
    "batch_headline": batch_headline,
    "ingest_backlog": ingest_backlog,
    "drift_paced": drift_paced,
}
