"""Smoke test of the benchmark itself, at tiny input sizes.

    python3 e2ebench/smoke.py          # from the checkout root, ~6 minutes

1. Every workload (``drift_paced`` too, which ``BENCHMARK.json`` does
   not list), untraced and traced: the result line has exactly the four
   keys, every metric named in ``BENCHMARK.json`` with its unit,
   ``correct`` true and ``failed`` 0; each traced workload measures its
   own layers (non-zero in its results file), and
   ``sources.scan_amplification`` on ``ingest_backlog`` shows the DLQ
   double scan (2.0).
2. Every correctness gate can fail: a corrupted oracle hash, a dropped
   DLQ row and a wrong shape census each raise ``failed`` (and so
   failed/attempted) and clear ``correct``.

Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(os.getcwd(), ".e2ebench_work")
SEED = 3

# per-layer metrics each workload must measure (non-zero) when traced
OWN_LAYERS = {
    "batch_headline": ["session.start_s", "registry.load_s", "catalog.load_table_s",
                       "queries.build_s", "queries.plan_ms", "queries.execute_s",
                       "queries.shuffle_bytes"],
    "ingest_backlog": ["pipeline.apply_s", "pipeline.write_sink_s", "sources.read_source_s",
                       "streaming.run_s", "streaming.addBatch_ms", "pipeline.rows_dead"],
    "drift_paced": ["streaming.triggerExecution_ms_p50", "streaming.state_rows_last",
                    "streaming.batches", "streaming.drain_s"],
}
FAULTS = {"batch_headline": "oracle", "ingest_backlog": "dlq", "drift_paced": "census"}


def bench(workload: str, trace: int, fault: str | None = None) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "3", "--trace", str(trace), "--tiny"]
    if fault:
        cmd += ["--fault", fault]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                          timeout=300)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} trace={trace} fault={fault}: exit {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    problems = []

    def check(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            problems.append(what)

    for w in OWN_LAYERS:
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            r = bench(w, trace)
            check(set(r) == {"correct", "attempted", "failed", "metrics"}, f"{w} t{trace} keys")
            want = {m["name"]: m["unit"] for m in spec[group]}
            got = {k: v.get("unit") for k, v in r["metrics"].items()}
            check(got == want, f"{w} t{trace} every metric with its unit")
            check(r["correct"] and r["failed"] == 0 and r["attempted"] >= 1,
                  f"{w} t{trace} correct, failed 0 of {r['attempted']}")
            if trace:
                with open(os.path.join(WORK, "results", f"{w}-s{SEED}-t1.json")) as f:
                    layers = json.load(f)["layers"]
                zero = [n for n in OWN_LAYERS[w] if not layers.get(n, 0) > 0]
                check(not zero, f"{w} own layers measured {zero or ''}")
                if w == "ingest_backlog":
                    amp = r["metrics"]["sources.scan_amplification"]["value"]
                    check(amp == 2.0, f"{w} scan amplification {amp} == 2.0")
        r = bench(w, 0, FAULTS[w])
        check(r["failed"] > 0 and not r["correct"],
              f"{w} gate '{FAULTS[w]}' fails: failed {r['failed']} of {r['attempted']}")
    print("smoke:", "FAILED " + "; ".join(problems) if problems else "all checks passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
