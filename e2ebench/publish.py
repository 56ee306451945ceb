"""Open-loop publisher for the drift_paced workload (its own process).

Chunk ``k`` of ``--src`` is due at ``start + k * period``. It is written
to a dot-file in ``--out`` (the file source skips those) and renamed
into place, so the engine never sees a partial chunk. The schedule does
not wait for the engine: a slow trigger makes later chunks pile up, not
arrive later. One JSON line per chunk goes to ``--log``: file name,
events, due and actual publish time (epoch seconds).

    python3 e2ebench/publish.py --src CACHED_CHUNKS --out WATCHED_DIR \
        --log FILE --period 0.25 --start EPOCH_SECONDS
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--src", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--log", required=True)
    p.add_argument("--period", type=float, required=True)
    p.add_argument("--start", type=float, required=True, help="epoch seconds of chunk 0")
    a = p.parse_args()

    names = sorted(n for n in os.listdir(a.src) if n.startswith("chunk-"))
    payloads = []
    for n in names:
        with open(os.path.join(a.src, n), "rb") as f:
            payloads.append(f.read())
    records = []
    for k, (name, data) in enumerate(zip(names, payloads)):
        due = a.start + k * a.period
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        tmp = os.path.join(a.out, f".{name}")
        with open(tmp, "wb") as f:
            f.write(data)
        os.rename(tmp, os.path.join(a.out, name))
        records.append({"file": name, "events": data.count(b"\n"), "due": due,
                        "published": time.time()})
    with open(a.log, "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in records)


if __name__ == "__main__":
    main()
