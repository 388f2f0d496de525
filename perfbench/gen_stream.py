"""Open-loop event generator for stream_q5: one process, one thread.

Every ``--tick-ms`` on a fixed wall-clock schedule it writes one parquet
file of ``rate * tick`` events into ``--dir`` (written under a dot-name,
then renamed, so the file source never sees a partial file).  It never
waits for the engine: when it falls behind it writes the next file at
once, and it records how late each file was against its schedule.

Events: ``key`` (Zipf over ``KEYS``), ``v``, ``ts`` (event time) and
``created`` (creation time).  A share of events is out of order within the
allowed lag and a share is late beyond it; for those ``ts`` lies before
``created``.  The same function builds the drain backlog.

Usage::

    python3 gen_stream.py --dir D --rate 10000 --seconds 6 --seed 1 --start 1700000000.0 --stats S
"""

from __future__ import annotations

import argparse
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KEYS = 10_000
ZIPF_S = 1.0
LAG_MS = 1_000
OUT_OF_ORDER_SHARE = 0.10
LATE_SHARE = 0.02
TICK_MS = 100


def key_sampler(rng):
    w = 1.0 / np.arange(1, KEYS + 1) ** ZIPF_S
    cdf = np.cumsum(w / w.sum())
    perm = rng.permutation(KEYS).astype(np.int32)
    return lambda n: perm[np.minimum(np.searchsorted(cdf, rng.random(n)), KEYS - 1)]


def events(rng, keys, n: int, t0_ms: int, t1_ms: int) -> pa.Table:
    """``n`` events created uniformly in [t0_ms, t1_ms), times in ms."""
    created = np.sort(rng.integers(t0_ms, t1_ms, n))
    u = rng.random(n)
    delay = np.where(u < OUT_OF_ORDER_SHARE, rng.integers(0, LAG_MS, n), 0)
    late = u > 1 - LATE_SHARE
    delay = np.where(late, LAG_MS + rng.integers(500, 3_000, n), delay)
    return pa.table({
        "key": pa.array(keys(n), pa.int32()),
        "v": pa.array(rng.integers(1, 100, n), pa.int64()),
        "ts": pa.array((created - delay).astype("datetime64[ms]")),
        "created": pa.array(created.astype("datetime64[ms]")),
    })


def write_atomic(table: pa.Table, directory: str, name: str, mtime: float | None = None) -> None:
    tmp = os.path.join(directory, "." + name)
    pq.write_table(table, tmp)
    if mtime is not None:
        os.utime(tmp, (mtime, mtime))
    os.rename(tmp, os.path.join(directory, name))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", required=True)
    ap.add_argument("--rate", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--start", type=float, required=True, help="epoch seconds of the first tick")
    ap.add_argument("--stats", required=True)
    a = ap.parse_args()

    rng = np.random.default_rng([a.seed, a.rate])
    keys = key_sampler(rng)
    tick = TICK_MS / 1000.0
    per_tick = int(a.rate * tick)
    n_ticks = int(round(a.seconds / tick))
    late_ms, rows = [], 0
    for k in range(n_ticks):
        due = a.start + (k + 1) * tick
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        t1 = int(due * 1000)
        write_atomic(events(rng, keys, per_tick, t1 - TICK_MS, t1), a.dir, f"part-{k:06d}.parquet")
        rows += per_tick
        late_ms.append(max(0.0, (time.time() - due) * 1000.0))
    with open(a.stats, "w") as f:
        json.dump({"rows": rows, "files": n_ticks, "late_ms": late_ms}, f)


if __name__ == "__main__":
    main()
