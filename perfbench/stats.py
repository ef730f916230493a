"""Benchmark arithmetic that needs no Spark session: percentiles, open-loop
lateness, the serving latencies derived from a status log, and host
context read from /proc."""

from __future__ import annotations

import math
import os
import statistics
from dataclasses import dataclass

MIN_BEYOND = 10  # a reported tail has at least this many samples beyond it


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``q`` of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    return s[_rank(len(s), q) - 1]


def _rank(n: int, q: float) -> int:
    # rounding first keeps 0.9 * 100 at rank 90, not 91
    return max(1, math.ceil(round(q * n, 9)))


def beyond(n: int, q: float) -> int:
    """Samples strictly above the nearest-rank ``q`` percentile of ``n``."""
    return n - _rank(n, q)


@dataclass
class Summary:
    """Median and one tail percentile of a latency sample, with its count."""

    p50: float
    tail: float
    tail_q: float
    n: int
    supported: bool  # at least MIN_BEYOND samples beyond the tail

    def as_dict(self) -> dict:
        return {
            "p50": round(self.p50, 3),
            f"p{round(self.tail_q * 100)}": round(self.tail, 3),
            "n": self.n,
            "tail_supported": self.supported,
        }


def summarize(values: list[float], tail_q: float) -> Summary:
    return Summary(
        p50=statistics.median(values),
        tail=percentile(values, tail_q),
        tail_q=tail_q,
        n=len(values),
        supported=beyond(len(values), tail_q) >= MIN_BEYOND,
    )


def lateness_ms(ops: list[dict]) -> list[float]:
    """How late each open-loop operation started, from when it was due.
    A negative value (clock jitter) counts as on time."""
    return [max(0.0, (op["start"] - op["due"]) * 1000.0) for op in ops]


# -- serving latencies from a status log ------------------------------------


def freshness_ms(events: list[dict], gen_col: dict[str, int], since_ms: float = 0.0) -> list[float]:
    """WINDOW ``ts`` minus the newest ``gen_ms`` in that window, for every
    WINDOW of a query whose rows carry MAX(gen_ms) at ``gen_col[qid]``,
    when that newest row was created at or after ``since_ms``."""
    out = []
    for e in events:
        col = gen_col.get(e.get("query_id"))
        if e.get("type") != "WINDOW" or col is None or not e.get("rows"):
            continue
        newest = max(r[col] for r in e["rows"] if r[col] is not None)
        if newest >= since_ms:
            out.append(e["ts"] * 1000.0 - newest)
    return out


def first_window_ms(events: list[dict], ready_s: dict[str, float]) -> dict[str, float]:
    """Per query: its first WINDOW or RESULT ``ts`` minus the time it could
    first answer (``ready_s``: the later of its scheduled submit and the
    first event file's due time)."""
    out: dict[str, float] = {}
    for e in events:
        qid = e.get("query_id")
        if qid in ready_s and qid not in out and e.get("type") in ("WINDOW", "RESULT"):
            out[qid] = (e["ts"] - ready_s[qid]) * 1000.0
    return out


def result_overdue_ms(events: list[dict], due_s: dict[str, float]) -> dict[str, float]:
    """Per query: RESULT ``ts`` minus when the result was due (submit +
    duration_ms, or the KILL's due time)."""
    out: dict[str, float] = {}
    for e in events:
        qid = e.get("query_id")
        if e.get("type") == "RESULT" and qid in due_s and qid not in out:
            out[qid] = (e["ts"] - due_s[qid]) * 1000.0
    return out


def source_lag_rows(files: list[dict], batch_of: dict[int, int], batches: list[dict]) -> list[int]:
    """Backlog at the start of each of ``batches``: rows of the files
    written before its trigger started (``end`` <= ``start``) that no
    earlier batch had read. ``batch_of`` maps a file's index ``i`` to the
    micro-batch that read it, so files read before the measured batches
    (the warm-up) are not counted as backlog."""
    out = []
    for b in batches:
        out.append(sum(
            f["rows"] for f in files
            if f["end"] <= b["start"] and batch_of.get(f["i"], b["batchId"]) >= b["batchId"]
        ))
    return out


def lifecycle_errors(events: list[dict], qids: list[str], killed: set[str]) -> dict[str, str]:
    """Queries that break the lifecycle, with the reason: each needs
    exactly one RESULT and one terminal SIGNAL, KILL if it was killed and
    COMPLETE otherwise, and no ERROR event naming it."""
    results: dict[str, int] = {}
    signals: dict[str, list[str]] = {}
    errors: dict[str, str] = {}
    for e in events:
        qid = e.get("query_id")
        if e.get("type") == "RESULT":
            results[qid] = results.get(qid, 0) + 1
        elif e.get("type") == "SIGNAL":
            signals.setdefault(qid, []).append(e.get("signal"))
        elif e.get("type") == "ERROR" and qid in qids:
            errors[qid] = f"ERROR event: {e.get('error')}"
    for qid in qids:
        if qid in errors:
            continue
        sig = signals.get(qid, [])
        if results.get(qid, 0) != 1 or len(sig) != 1:
            errors[qid] = f"{results.get(qid, 0)} RESULT, signals {sig}"
        elif qid in killed and sig[0] != "KILL":
            errors[qid] = f"killed query signalled {sig[0]}"
        elif qid not in killed and sig[0] != "COMPLETE":
            errors[qid] = f"signalled {sig[0]}"
    return errors


# -- host context -----------------------------------------------------------


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid`` (through /proc/*/task/*/children)."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except FileNotFoundError:
            continue
        for t in tasks:
            try:
                with open(f"/proc/{p}/task/{t}/children") as fh:
                    kids = [int(x) for x in fh.read().split()]
            except FileNotFoundError:
                continue
            out.extend(kids)
            todo.extend(kids)
    return out


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU time the processes have used so far, in s."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except FileNotFoundError:
            continue
        total += int(fields[11]) + int(fields[12])  # utime, stime
    return total / os.sysconf("SC_CLK_TCK")


def host_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the whole host so far, in clock ticks,
    from the first line of /proc/stat. Steal is time this machine's virtual
    CPUs were ready to run but the hypervisor ran something else."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])  # user .. steal; guest time is inside user


def rss_peak_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM) in MB."""
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


def host_context() -> dict:
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg": [round(x, 2) for x in os.getloadavg()]}
