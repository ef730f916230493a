"""Open-loop load generator, run as its own process by ``run.py``.

One thread writes seeded event files at a fixed interval; for serve_churn a
second thread submits and KILLs queries through the control log on their
schedule. Every operation is timed from when it was due, so a stall shows
as lateness instead of as a lighter load. Event files are written with
pyarrow under a ``_``-prefixed name and then renamed, so the stream never
lists a half-written file. The generator imports no Spark session.

Usage (normally started by run.py):
  python3 perfbench/gen.py --workload W --seed N --seconds S --start EPOCH_S \
      --pool EVENTS.parquet --events-dir DIR --control-dir DIR --manifest OUT.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bullet_spark_spark.streaming.control import submit_kill, submit_query  # noqa: E402
from perfbench.workloads import EVENT_SCHEMA, churn_schedule, event_file, event_schedule  # noqa: E402


def load_pool(path: str) -> pa.Table:
    """The event pool: the pool file's rows in the generated column types."""
    t = pq.read_table(path, columns=[f.name for f in EVENT_SCHEMA if f.name != "gen_ms"])
    return t.cast(pa.schema([f for f in EVENT_SCHEMA if f.name != "gen_ms"]))


def write_events(pool: pa.Table, idx: np.ndarray, first_id: int, path: str) -> int:
    """Write pool rows ``idx`` stamped with their creation time; returns
    that time in epoch ms."""
    gen_ms = int(time.time() * 1000)
    t = pool.take(pa.array(idx))
    t = t.set_column(0, "event_id", pa.array(np.arange(first_id, first_id + len(idx)), pa.int64()))
    t = t.append_column("gen_ms", pa.array(np.full(len(idx), gen_ms), pa.int64()))
    d, name = os.path.split(path)
    tmp = os.path.join(d, "_" + name)
    pq.write_table(t, tmp)
    os.rename(tmp, path)
    return gen_ms


def _sleep_until(due: float) -> None:
    while True:
        left = due - time.time()
        if left <= 0:
            return
        time.sleep(min(left, 0.05))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--start", type=float, required=True)
    ap.add_argument("--pool", required=True)
    ap.add_argument("--events-dir", required=True)
    ap.add_argument("--control-dir", required=True)
    ap.add_argument("--manifest", required=True)
    a = ap.parse_args(argv)

    pool = load_pool(a.pool)
    files = event_schedule(a.seed, a.workload, a.seconds, pool.num_rows)
    queries = churn_schedule(a.seed, a.seconds) if a.workload == "serve_churn" else []
    file_ops: list[dict] = []
    query_ops: list[dict] = []
    errors: list[str] = []

    def run_events() -> None:
        next_id = 0
        for i, (offset, idx) in enumerate(files):
            due = a.start + offset
            _sleep_until(due)
            start = time.time()
            gen_ms = write_events(pool, idx, next_id, os.path.join(a.events_dir, event_file(i)))
            next_id += len(idx)
            file_ops.append(
                {"i": i, "due": due, "start": start, "end": time.time(), "rows": len(idx), "gen_ms": gen_ms}
            )

    def run_queries() -> None:
        ops = [(q.submit_s, "submit", q) for q in queries]
        ops += [(q.kill_s, "kill", q) for q in queries if q.kill_s is not None]
        ops.sort(key=lambda o: (o[0], o[1] == "kill"))
        for offset, kind, q in ops:
            due = a.start + offset
            _sleep_until(due)
            start = time.time()
            if kind == "submit":
                submit_query(a.control_dir, q.qid, q.bql, duration_ms=q.duration_ms, quantile_width=q.width)
            else:
                submit_kill(a.control_dir, q.qid)
            query_ops.append({"qid": q.qid, "kind": kind, "due": due, "start": start})

    def guarded(fn):
        def body() -> None:
            try:
                fn()
            except Exception as e:  # noqa: BLE001 - reported through the manifest
                errors.append(f"{fn.__name__}: {e!r}")
        return body

    threads = [threading.Thread(target=guarded(run_events))]
    if queries:
        threads.append(threading.Thread(target=guarded(run_queries)))
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    with open(a.manifest, "w") as fh:
        json.dump({"files": file_ops, "queries": query_ops, "errors": errors}, fh)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
