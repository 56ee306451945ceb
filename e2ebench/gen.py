"""Seeded inputs for the benchmark: a pure function of (seed, size).

Three corpora:

* ``tables``: the star schema plus ``events``/``documents``/
  ``embeddings`` that the headline registry queries read, with the same
  column names and types as the repository's test data, written as one
  parquet file per table.
* ``weblog``: COMBINEDAPACHELOG lines with about 1 % garbled rows (the
  dead-letter feed), split into chunk files.
* ``drift``: JSON event lines whose key-set shape count grows over the
  run, one list of lines per published chunk.

Every writer goes through a ``<dir>.tmp`` directory and a rename, so a
half-written corpus is never reused by a later run.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

_DAY_US = 86_400_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _commit(tmp: str, final: str) -> None:
    if os.path.isdir(final):
        shutil.rmtree(final)
    os.rename(tmp, final)


def _fresh(path: str) -> str:
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    return tmp


# --------------------------------------------------------------- tables

_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
_WORDS = np.array(
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window data column join small customer query big order".split()
)


def _timestamps(rng, n: int, start_us: int, days: int, whole_days: bool) -> np.ndarray:
    if whole_days:
        us = start_us + rng.integers(0, days, n) * _DAY_US
    else:
        us = start_us + rng.integers(0, days * _DAY_US, n)
    return us.astype("datetime64[us]")


def table_frames(seed: int, sf: float) -> dict:
    """``{table name: pyarrow.Table}`` at scale ``sf`` (sf 1 = 6M
    lineitem rows, the TPC-H convention the test data follows)."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 1])
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_ord = max(500, int(1_500_000 * sf))
    n_li = max(2_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(20, int(15_000 * sf))
    n_docs = max(100, int(50_000 * sf))
    n_vec = max(100, int(20_000 * sf))

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": _SEGMENTS[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1_000, 500_000, n_ord), 2),
        "o_orderdate": _timestamps(rng, n_ord, _epoch_us(1995, 1, 1), 2404, True),
        "o_orderpriority": _PRIORITIES[rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, max(100, int(200_000 * sf)), n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _timestamps(rng, n_li, _epoch_us(1995, 1, 2), 2498, True),
    })
    ts = np.sort(_timestamps(rng, n_ev, _epoch_us(2024, 1, 1), 30, False))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": _EVENT_TYPES[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(40.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    n_words = rng.integers(20, 80, n_docs)
    texts = [" ".join(_WORDS[rng.integers(0, len(_WORDS), k)]) for k in n_words]
    for i in rng.choice(n_docs, max(1, n_docs // 500), replace=False):
        texts[i] = texts[(i + 1) % n_docs]  # exact duplicates for dedup
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "de", "fr", "es", "it"])[rng.integers(0, 5, n_docs)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_vec, 64)).astype(np.float32) * 0.1
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": rng.integers(0, 10, n_vec).astype(np.int32),
    })
    return t


def write_tables(root: str, seed: int, sf: float) -> str:
    """Write the tables under ``root/tables-s<seed>-sf<sf>`` once;
    return that directory (the ``sf_dir`` registry builders take)."""
    import pyarrow.parquet as pq

    out = os.path.join(root, f"tables-s{seed}-sf{sf}")
    if os.path.isdir(out):
        return out
    tmp = _fresh(out)
    for name, tbl in table_frames(seed, sf).items():
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"))
    _commit(tmp, out)
    return out


# --------------------------------------------------------------- weblog

_VERBS = ["GET", "GET", "GET", "POST", "PUT"]
_PATHS = ["/index.html", "/cart", "/checkout", "/about", "/api/v1/items",
          "/static/app.js", "/login", "/search"]
_STATUS = ["200", "200", "200", "200", "301", "404", "500"]
_UAS = ["Mozilla/5.0", "curl/8.0", "python-requests/2.31"]


def weblog_lines(seed: int, lines: int) -> tuple[list[str], int]:
    """(lines, garbled count): COMBINEDAPACHELOG with ~1 % garbled."""
    rng = np.random.default_rng([seed, 2])
    garbled = rng.random(lines) < 0.01
    ip = rng.integers(0, 1 << 24, lines)
    user = rng.integers(0, 997, lines)
    secs = np.sort(rng.integers(0, 86_400, lines))
    verb = rng.integers(0, len(_VERBS), lines)
    path = rng.integers(0, len(_PATHS), lines)
    status = rng.integers(0, len(_STATUS), lines)
    nbytes = rng.integers(200, 4_200, lines)
    ua = rng.integers(0, len(_UAS), lines)
    out = []
    for i in range(lines):
        if garbled[i]:
            out.append(f"garbled line {i} without structure\n")
            continue
        s = int(secs[i])
        a = int(ip[i])
        out.append(
            f"10.{a >> 16}.{(a >> 8) & 255}.{a & 255} - user{user[i]} "
            f"[10/Oct/2024:{s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d} +0000] "
            f'"{_VERBS[verb[i]]} {_PATHS[path[i]]} HTTP/1.1" {_STATUS[status[i]]} '
            f'{nbytes[i]} "-" "{_UAS[ua[i]]}"\n'
        )
    return out, int(garbled.sum())


def write_weblog(root: str, seed: int, lines: int, chunks: int) -> tuple[str, int]:
    """Chunked weblog corpus under ``root``; returns (dir, garbled)."""
    out = os.path.join(root, f"weblog-s{seed}-n{lines}-c{chunks}")
    meta = os.path.join(out, "_garbled.json")
    if os.path.isfile(meta):
        with open(meta) as f:
            return out, json.load(f)["garbled"]
    rows, garbled = weblog_lines(seed, lines)
    tmp = _fresh(out)
    per = -(-lines // chunks)
    for c in range(chunks):
        with open(os.path.join(tmp, f"chunk-{c:04d}.log"), "w") as f:
            f.writelines(rows[c * per:(c + 1) * per])
    # a leading underscore keeps the file source from reading it
    with open(os.path.join(tmp, "_garbled.json"), "w") as f:
        json.dump({"garbled": garbled}, f)
    _commit(tmp, out)
    return out, garbled


# ---------------------------------------------------------------- drift


def drift_chunks(seed: int, n_chunks: int, per_chunk: int, shapes: int) -> list[list[str]]:
    """JSON lines per chunk. Shape ``s`` unlocks at chunk
    ``s * n_chunks // shapes``, so the key-set census (and the
    GroupState state) grows through the run; each shape's first
    event lands in the chunk that unlocks it."""
    rng = np.random.default_rng([seed, 3])
    keys = [f"field_{j:02d}" for j in range(shapes)]
    out: list[list[str]] = []
    event_id = 0
    for c in range(n_chunks):
        live = 1 + min(shapes - 1, c * shapes // n_chunks)
        picks = rng.integers(0, live, per_chunk)
        picks[0] = live - 1  # the newest shape appears in its first chunk
        lines = []
        for s in picks:
            obj = {"event_id": event_id, "kind": f"k{s % 7}"}
            for j in range(int(s) % 5):
                obj[keys[(int(s) + j) % shapes]] = j
            obj[f"shape_{int(s):03d}"] = 1  # one distinct key set per shape
            lines.append(json.dumps(obj) + "\n")
            event_id += 1
        out.append(lines)
    return out


def shape_census(chunks: list[list[str]]) -> dict[str, int]:
    """Expected ``schema_drift_snapshot``: sorted key set -> rows."""
    census: dict[str, int] = {}
    for lines in chunks:
        for line in lines:
            ks = ",".join(sorted(json.loads(line)))
            census[ks] = census.get(ks, 0) + 1
    return census


def write_drift(root: str, seed: int, n_chunks: int, per_chunk: int, shapes: int) -> tuple[str, dict]:
    """Cached drift chunks under ``root``; returns (dir, shape census).
    The publisher copies these files into the watched directory."""
    out = os.path.join(root, f"drift-s{seed}-c{n_chunks}-n{per_chunk}-k{shapes}")
    meta = os.path.join(out, "_census.json")
    if os.path.isfile(meta):
        with open(meta) as f:
            return out, json.load(f)
    chunks = drift_chunks(seed, n_chunks, per_chunk, shapes)
    census = shape_census(chunks)
    tmp = _fresh(out)
    for k, lines in enumerate(chunks):
        with open(os.path.join(tmp, f"chunk-{k:05d}.json"), "w") as f:
            f.writelines(lines)
    with open(os.path.join(tmp, "_census.json"), "w") as f:
        json.dump(census, f)
    _commit(tmp, out)
    return out, census

