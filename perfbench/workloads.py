"""Seeded workload definitions: event schedule, query mix and a pandas
reference for every query shape.

Nothing here imports Spark. The reference path recomputes each query from
the generated rows with pandas, independently of ``plans.compiler`` and of
the multiplexer's merge tables, so a wrong answer from the engine cannot be
mirrored by the check.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass, field, replace

import numpy as np
import pandas as pd
import pyarrow as pa

WORKLOADS = ("serve_steady", "serve_churn")

# Columns of the generated events: the pool's columns plus gen_ms, the
# creation time (epoch ms) the generator stamps on every row.
EVENT_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
        ("gen_ms", pa.int64()),
    ]
)
EVENT_DDL = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING, gen_ms BIGINT"
)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def event_file(i: int) -> str:
    """Name of the ``i``-th generated event file."""
    return f"ev-{i:05d}.parquet"


@dataclass(frozen=True)
class Rates:
    """Open-loop offered load of one workload."""

    file_interval_s: float  # one event file per interval
    rows_per_file: int
    query_rate_per_s: float  # 0: the registry is fixed before the first event
    query_start_s: float  # first submission, relative to the first event file
    duration_ms: tuple[int, int]  # range of duration_ms, stratified over the run
    kill_share: float  # share of submitted queries that get a KILL


RATES = {
    # ~17 rows/s against 64 fixed queries, one file per micro-batch: the
    # routed-aggregation job and the micro-batch log I/O do the work; the
    # registry never changes. 50 rows is the largest file of a sweep
    # (results/steady_rate_sweep.json) whose batches ended inside a 2 s
    # interval on a 4-core host; at 100 rows they fell behind. The 3 s
    # interval keeps a batch (1.2-2.2 s there, as the host's speed varies)
    # under three quarters of it, where freshness does not depend on
    # whether the previous batch has finished.
    "serve_steady": Rates(3.0, 50, 0.0, 0.0, (0, 0), 1.0),
    # light data, 5 submissions/s living 4-8 s: parse, register, recompile,
    # the publish tick and terminal emission do the work.
    "serve_churn": Rates(2.0, 100, 5.0, 1.0, (4000, 8000), 0.2),
}

# Offered load runs WARM_S before the measured ``--seconds``: the first
# micro-batches of a fresh plan run several times slower while the JVM
# compiles the hot paths, and samples from that phase are not counted.
WARM_S = 8.0

STEADY_MIX = (
    ("group", 46), ("topk", 8), ("cd", 5), ("acd", 1), ("quantile", 2), ("freq", 2),
)
# Shape shares of the churn mix; exact per run (APPROX_COUNT_DISTINCT: 3%).
CHURN_MIX = (
    ("group", 0.37),
    ("topk", 0.12),
    ("cd", 0.08),
    ("acd", 0.03),
    ("quantile", 0.12),
    ("freq", 0.13),
    ("raw", 0.15),
)

# The tail reported next to each latency's median: the highest percentile
# with at least ten samples beyond it at the sample count each workload's
# design gives (a run flags a tail its samples do not support).
TAIL_Q = {
    "serve_steady": {"freshness": 0.9, "first_window": 0.84, "result_overdue": 0.84},
    "serve_churn": {"freshness": 0.75, "first_window": 0.75, "result_overdue": 0.7},
}


@dataclass(frozen=True)
class QuerySpec:
    """One query of the mix: its BQL text plus what the reference needs."""

    qid: str
    shape: str  # group | topk | cd | acd | quantile | freq | raw
    bql: str
    filt: tuple  # ("all",) | ("value_gt", x) | ("type_in", types) | ("user_mod", m, r)
    group: tuple[str, ...] = ()
    ops: tuple[tuple[str, str | None], ...] = ()
    k: int = 0
    field: str = ""
    points: tuple[float, ...] = ()
    width: float | None = None
    limit: int = 0
    submit_s: float = 0.0  # due time relative to the first event file
    duration_ms: int | None = None
    kill_s: float | None = None  # KILL due time, relative like submit_s

    def gen_ms_col(self) -> int | None:
        """Row position of MAX(gen_ms) in a grouped result, else None."""
        if self.shape != "group":
            return None
        return len(self.group) + len(self.ops) - 1


# Structure cycles by a query's index within its shape, so every seed gives
# the same mix of filter kinds, key fields and op counts; the seed picks
# only constants. Run-to-run spread then measures the system, not the mix.
FILTER_KINDS = ("value_gt", "type_in", "value_gt", "user_mod", "all", "value_gt")
VALUE_GT = (30.0, 120.0, 50.0, 200.0, 80.0)  # ~50% down to ~3% of rows
USER_MOD = (3, 5, 7)
TOPK_FIELDS = ("event_type", "props", "user_id", "props")
CD_FIELDS = ("user_id", "props")


def _filter(kind: str, variant: int, rng: random.Random) -> tuple[tuple, str]:
    if kind == "all":
        return ("all",), ""
    if kind == "value_gt":
        x = VALUE_GT[variant % len(VALUE_GT)]
        return ("value_gt", x), f" WHERE value > {x}"
    if kind == "type_in":
        types = tuple(sorted(rng.sample(EVENT_TYPES, 2)))
        lst = ", ".join(f"'{t}'" for t in types)
        return ("type_in", types), f" WHERE event_type IN ({lst})"
    m = USER_MOD[variant % len(USER_MOD)]
    r = rng.randrange(m)
    return ("user_mod", m, r), f" WHERE user_id % {m} = {r}"


def make_query(qid: str, shape: str, variant: int, rng: random.Random) -> QuerySpec:
    """The ``variant``-th query of ``shape``; constants come from ``rng``."""
    filt, where = _filter(FILTER_KINDS[variant % len(FILTER_KINDS)], variant // len(FILTER_KINDS), rng)
    if shape == "group":
        if variant % 4 == 3:
            # per-user groups over a ~30-user slice
            m, r = 50, rng.randrange(50)
            filt, where = ("user_mod", m, r), f" WHERE user_id % {m} = {r}"
            group = ("user_id",)
        else:
            group = ("event_type",)
        picked = rng.sample(
            [("COUNT", None), ("SUM", "value"), ("MIN", "value"), ("MAX", "value"), ("AVG", "value")],
            1 + variant % 3,
        )
        ops = tuple(picked) + (("MAX", "gen_ms"),)
        sel = ", ".join(f"{op}({f or '*'}) AS a{i}" for i, (op, f) in enumerate(ops))
        bql = f"SELECT {', '.join(group)}, {sel} FROM STREAM(){where} GROUP BY {', '.join(group)}"
        return QuerySpec(qid, shape, bql, filt, group=group, ops=ops)
    if shape == "topk":
        fld = TOPK_FIELDS[variant % len(TOPK_FIELDS)]
        k = rng.randint(3, 5)
        bql = f"SELECT TOP({k}, {fld}) AS cnt FROM STREAM(){where}"
        return QuerySpec(qid, shape, bql, filt, k=k, field=fld)
    if shape in ("cd", "acd"):
        fld = CD_FIELDS[variant % len(CD_FIELDS)]
        fn = "COUNT(DISTINCT " if shape == "cd" else "APPROX_COUNT_DISTINCT("
        bql = f"SELECT {fn}{fld}) AS n FROM STREAM(){where}"
        return QuerySpec(qid, shape, bql, filt, field=fld)
    if shape == "quantile":
        pts = tuple(sorted(rng.sample((0.1, 0.25, 0.5, 0.75, 0.9, 0.99), 2)))
        width = rng.choice((1.0, 2.5, 5.0))
        bql = f"SELECT QUANTILE(value, MANUAL, {', '.join(map(str, pts))}) FROM STREAM(){where}"
        return QuerySpec(qid, shape, bql, filt, field="value", points=pts, width=width)
    if shape == "freq":
        pts = tuple(sorted(rng.sample((0.0, 10.0, 25.0, 50.0, 75.0, 100.0, 200.0), 4)))
        bql = f"SELECT FREQ(value, MANUAL, {', '.join(map(str, pts))}) FROM STREAM(){where}"
        return QuerySpec(qid, shape, bql, filt, field="value", points=pts)
    if shape == "raw":
        limit = rng.randint(3, 20)
        return QuerySpec(qid, shape, f"SELECT * FROM STREAM(){where} LIMIT {limit}", filt, limit=limit)
    raise ValueError(f"unknown shape {shape!r}")


def interleave(counts: tuple[tuple[str, int], ...]) -> list[str]:
    """Shapes spread evenly in a fixed order: each shape's k-th query sits
    at fraction (k + 0.5) / count of the sequence."""
    slots = [((k + 0.5) / n, i, s) for i, (s, n) in enumerate(counts) for k in range(n)]
    return [s for _, _, s in sorted(slots)]


def _queries(prefix: str, counts: tuple[tuple[str, int], ...], rng: random.Random) -> list[QuerySpec]:
    shapes = interleave(counts)
    seen: dict[str, int] = {}
    out = []
    for i, shape in enumerate(shapes):
        variant = seen[shape] = seen.get(shape, -1) + 1
        out.append(make_query(f"{prefix}{i:04d}", shape, variant, rng))
    return out


def steady_population(seed: int) -> list[QuerySpec]:
    """The fixed registry of serve_steady: 64 mixed queries, no RAW."""
    return _queries("s", STEADY_MIX, random.Random(f"steady-{seed}"))


def churn_schedule(seed: int, seconds: float) -> list[QuerySpec]:
    """serve_churn's submissions at a fixed rate from ``query_start_s``
    until 3 s before the end of the load: exact shape shares in a fixed
    order, every fifth query KILLed, stratified durations in a seeded
    order. Offsets count from the first event file (the warm-up included)."""
    rates = RATES["serve_churn"]
    rng = random.Random(f"churn-{seed}")
    n = int((WARM_S + seconds - 3.0 - rates.query_start_s) * rates.query_rate_per_s)
    counts = [(s, int(share * n)) for s, share in CHURN_MIX]
    counts[0] = (counts[0][0], n - sum(c for _, c in counts[1:]))
    lo, hi = rates.duration_ms
    durations = [lo + (hi - lo) * (i + 0.5) // n for i in range(n)]  # stratified
    rng.shuffle(durations)
    every = round(1 / rates.kill_share)
    out = []
    for i, q in enumerate(_queries("c", tuple(counts), rng)):
        submit = rates.query_start_s + i / rates.query_rate_per_s
        dur = int(durations[i])
        kill = None
        if i % every == every - 1:
            # well before expiry, so the KILL (not the duration) ends it
            # even when the consumer waits seconds for the registry lock
            kill = submit + rng.uniform(0.05, 0.1) * dur / 1000.0
        out.append(replace(q, submit_s=submit, duration_ms=dur, kill_s=kill))
    return out


def event_schedule(seed: int, workload: str, seconds: float, pool_rows: int) -> list[tuple[float, np.ndarray]]:
    """(due offset, pool row indices) of every event file of one run,
    the warm-up included."""
    rates = RATES[workload]
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    n_files = int(round((WARM_S + seconds) / rates.file_interval_s))
    return [
        (i * rates.file_interval_s, rng.integers(0, pool_rows, rates.rows_per_file))
        for i in range(n_files)
    ]


# -- pandas reference ------------------------------------------------------


def match_mask(df: pd.DataFrame, filt: tuple) -> np.ndarray:
    kind = filt[0]
    if kind == "all":
        return np.ones(len(df), dtype=bool)
    if kind == "value_gt":
        return (df["value"] > filt[1]).to_numpy()
    if kind == "type_in":
        return df["event_type"].isin(filt[1]).to_numpy()
    if kind == "user_mod":
        return (df["user_id"] % filt[1] == filt[2]).to_numpy()
    raise ValueError(kind)


def _agg(series: pd.Series, op: str):
    if op == "COUNT":
        return int(len(series))
    if op == "SUM":
        return float(series.sum())
    if op == "MIN":
        return series.min()
    if op == "MAX":
        return series.max()
    if op == "AVG":
        return float(series.mean())
    raise ValueError(op)


@dataclass
class Check:
    ok: bool
    detail: str = ""


def _close(a, b, rel=1e-9) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=1e-9)


def check_result(q: QuerySpec, rows: list, df: pd.DataFrame, meta: dict | None = None) -> Check:
    """Compare one query's final RESULT rows with a pandas recomputation
    over ``df`` (all rows the query was live for)."""
    sub = df[match_mask(df, q.filt)]
    if q.shape == "group":
        exp = {}
        for key, g in sub.groupby(list(q.group), sort=False):
            key = key if isinstance(key, tuple) else (key,)
            exp[tuple(k.item() if hasattr(k, "item") else k for k in key)] = [
                _agg(g[f] if f else g["event_id"], op) for op, f in q.ops
            ]
        got = {tuple(r[: len(q.group)]): list(r[len(q.group):]) for r in rows}
        if set(got) != set(exp):
            return Check(False, f"groups differ: got {len(got)} want {len(exp)}")
        for key, vals in exp.items():
            if not all(_close(a, b) for a, b in zip(got[key], vals)):
                return Check(False, f"group {key}: got {got[key]} want {vals}")
        return Check(True)
    if q.shape == "topk":
        counts = sub.groupby(q.field).size()
        ranked = sorted(
            (((k.item() if hasattr(k, "item") else k),), int(c)) for k, c in counts.items()
        )
        ranked.sort(key=lambda kv: (-kv[1], str(kv[0])))
        exp = [[*k, c] for k, c in ranked[: q.k]]
        got = [list(r) for r in rows]
        return Check(got == exp, "" if got == exp else f"got {got} want {exp}")
    if q.shape == "cd":
        exp = int(sub[q.field].nunique())
        got = rows[0][0] if rows else None
        return Check(got == exp, "" if got == exp else f"got {got} want {exp}")
    if q.shape == "acd":
        exact = int(sub[q.field].nunique())
        est = rows[0][0] if rows else None
        if est is None:
            return Check(False, "no estimate")
        if exact == 0:
            return Check(est == 0, f"got {est} want 0")
        # the documented error: the 3-sigma HLL bounds carried in meta
        # (rse = 1.04/sqrt(2^lg_k), ~1.6% at lg_k=12)
        b = (meta or {}).get("bounds", {}).get("3")
        if b is None:
            rse = 1.04 / math.sqrt(2.0**12)
            b = {"lower": est / (1 + 3 * rse), "upper": est / (1 - 3 * rse)}
        ok = b["lower"] <= exact <= b["upper"]
        return Check(ok, "" if ok else f"estimate {est} bounds {b} exact {exact}")
    if q.shape == "quantile":
        vals = np.sort(sub[q.field].to_numpy())
        got = {float(p): est for p, est in rows}
        for p in q.points:
            if len(vals) == 0:
                if got.get(p) is not None:
                    return Check(False, f"p={p}: got {got.get(p)} on no rows")
                continue
            exact = vals[max(1, math.ceil(p * len(vals))) - 1]
            est = got.get(p)
            if est is None or abs(est - exact) > q.width:
                return Check(False, f"p={p}: got {est} exact {exact} width {q.width}")
        return Check(True)
    if q.shape == "freq":
        v = sub[q.field].to_numpy()
        idx = sum((v >= p).astype(int) for p in q.points) if len(v) else np.array([], dtype=int)
        exp = sorted((int(b), int(c)) for b, c in zip(*np.unique(idx, return_counts=True)))
        got = sorted((int(b), int(c)) for b, c in rows)
        return Check(got == exp, "" if got == exp else f"got {got} want {exp}")
    if q.shape == "raw":
        if len(rows) > q.limit:
            return Check(False, f"{len(rows)} rows over LIMIT {q.limit}")
        got = pd.DataFrame(rows, columns=EVENT_SCHEMA.names)
        ok = bool(match_mask(got, q.filt).all())
        return Check(ok, "" if ok else "a RAW row does not match the filter")
    raise ValueError(q.shape)


@dataclass
class Properties:
    """Workload properties measured from the generated inputs."""

    match_share: dict[str, float] = field(default_factory=dict)
    fanout_mean: float = 0.0


def properties(queries: list[QuerySpec], df: pd.DataFrame, t0_ms: float, end_s: float,
               ended_s: dict[str, float]) -> Properties:
    """Per-query match share, and the mean number of live queries each row
    is routed to. A query is live from its submission until the earliest of
    its duration, its KILL and its RESULT (``ended_s``, as measured: a RAW
    query may end at its LIMIT); offsets count from ``t0_ms``."""
    out = Properties()
    fan = np.zeros(len(df))
    rel_s = (df["gen_ms"].to_numpy() - t0_ms) / 1000.0
    for q in queries:
        m = match_mask(df, q.filt)
        out.match_share[q.qid] = round(float(m.mean()) if len(m) else 0.0, 4)
        start, end = _live_interval(q, end_s)
        end = min(end, ended_s.get(q.qid, end))
        fan += m & (rel_s >= start) & (rel_s < end)
    out.fanout_mean = round(float(fan.mean()) if len(fan) else 0.0, 3)
    return out


def _live_interval(q: QuerySpec, end_s: float) -> tuple[float, float]:
    end = end_s
    if q.duration_ms is not None:
        end = q.submit_s + q.duration_ms / 1000.0
    if q.kill_s is not None:
        end = min(end, q.kill_s)
    return q.submit_s, end
