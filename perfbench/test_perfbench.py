"""Self-tests of the benchmark's own logic; no Spark session is started.

  python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import re
from pathlib import Path

import pandas as pd
import pytest

from perfbench import stats
from perfbench.workloads import (
    QuerySpec,
    TAIL_Q,
    WARM_S,
    WORKLOADS,
    check_result,
    churn_schedule,
    event_schedule,
    properties,
    steady_population,
)

ROOT = Path(__file__).resolve().parent.parent


# -- percentiles and sample counts ------------------------------------------


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 0.5) == 50
    assert stats.percentile(xs, 0.95) == 95
    assert stats.percentile(xs, 0.99) == 99
    assert stats.percentile([7.0], 0.99) == 7.0
    with pytest.raises(ValueError):
        stats.percentile([], 0.5)


def test_tail_needs_ten_samples_beyond():
    assert stats.beyond(100, 0.90) == 10
    assert stats.beyond(100, 0.91) == 9
    assert stats.beyond(64, 0.84) == 10 and stats.beyond(64, 0.85) == 9
    s = stats.summarize([float(x) for x in range(200)], 0.95)
    assert (s.n, s.supported, s.tail) == (200, True, 189.0)
    assert not stats.summarize([1.0] * 50, 0.95).supported
    assert s.as_dict()["p95"] == 189.0 and s.as_dict()["n"] == 200


def test_tail_percentiles_fit_the_designed_sample_counts():
    # serve_steady has 64 queries, serve_churn one query per submission
    assert stats.beyond(64, TAIL_Q["serve_steady"]["first_window"]) >= stats.MIN_BEYOND
    seconds = json.loads((ROOT / "BENCHMARK.json").read_text())["run_seconds"]
    measured = [q for q in churn_schedule(1, float(seconds)) if q.submit_s >= WARM_S]
    with_due = [q for q in measured if q.shape != "raw" or q.kill_s is not None]
    assert stats.beyond(len(measured), TAIL_Q["serve_churn"]["first_window"]) >= stats.MIN_BEYOND
    assert stats.beyond(len(with_due), TAIL_Q["serve_churn"]["result_overdue"]) >= stats.MIN_BEYOND


# -- open-loop lateness -----------------------------------------------------


def test_lateness_is_measured_from_the_due_time():
    ops = [
        {"due": 10.0, "start": 10.0},
        {"due": 11.0, "start": 11.25},  # a stall: 250 ms late
        {"due": 12.0, "start": 11.999},  # early by clock jitter counts as on time
    ]
    assert stats.lateness_ms(ops) == [0.0, 250.0, 0.0]


# -- source backlog -----------------------------------------------------------


def test_source_lag_counts_only_rows_no_earlier_batch_read():
    # four warm-up files read by batches 0-3, then one file per batch; file
    # i is written at 2i + 1 s and each batch starts 0.1 s after its file
    files = [{"i": i, "end": 2.0 * i + 1.0, "rows": 50} for i in range(7)]
    batch_of = {i: i for i in range(7)}
    measured = [{"batchId": b, "start": 2.0 * b + 1.1} for b in (4, 5, 6)]
    assert stats.source_lag_rows(files, batch_of, measured) == [50, 50, 50]
    # a batch that falls behind: file 5 lands before batch 5 starts, and
    # batch 5 reads both 5 and 6
    behind = {**batch_of, 6: 5}
    late = [{"batchId": 4, "start": 9.1}, {"batchId": 5, "start": 13.5}]
    assert stats.source_lag_rows(files, behind, late) == [50, 100]
    # a file no batch has read yet is backlog
    assert stats.source_lag_rows(files, {i: i for i in range(5)}, [{"batchId": 4, "start": 20.0}]) == [150]


# -- serving latencies from a synthetic status log --------------------------

LOG = [
    {"query_id": "g", "type": "WINDOW", "ts": 100.5, "rows": [["a", 3, 99_000], ["b", 1, 99_800]]},
    {"query_id": "g", "type": "WINDOW", "ts": 102.0, "rows": [["a", 4, 101_500], ["b", 1, 99_800]]},
    {"query_id": "t", "type": "WINDOW", "ts": 101.0, "rows": [["a", 4]]},
    {"query_id": "g", "type": "RESULT", "ts": 103.25, "rows": [["a", 4, 101_500]]},
    {"query_id": "g", "type": "SIGNAL", "signal": "KILL", "ts": 103.25},
    {"query_id": "t", "type": "RESULT", "ts": 104.0, "rows": [["a", 4]]},
    {"query_id": "t", "type": "SIGNAL", "signal": "COMPLETE", "ts": 104.0},
]


def test_freshness_uses_the_newest_gen_ms_of_each_window():
    # only queries carrying MAX(gen_ms) count; ts is in s, gen_ms in ms
    assert stats.freshness_ms(LOG, {"g": 2}) == pytest.approx([700.0, 500.0])


def test_first_window_and_overdue_arithmetic():
    first = stats.first_window_ms(LOG, {"g": 100.0, "t": 100.9})
    assert first == pytest.approx({"g": 500.0, "t": 100.0})
    overdue = stats.result_overdue_ms(LOG, {"g": 103.0, "t": 103.5})
    assert overdue == pytest.approx({"g": 250.0, "t": 500.0})


def test_lifecycle_invariants():
    assert stats.lifecycle_errors(LOG, ["g", "t"], killed={"g"}) == {}
    errs = stats.lifecycle_errors(LOG, ["g", "t", "lost"], killed={"g", "t"})
    assert set(errs) == {"t", "lost"}  # t was killed but completed; lost never ended
    assert "g" in stats.lifecycle_errors(LOG, ["g"], killed=set())  # KILL, not COMPLETE
    doubled = LOG + [{"query_id": "g", "type": "RESULT", "ts": 105.0, "rows": []}]
    assert "g" in stats.lifecycle_errors(doubled, ["g"], killed={"g"})
    errored = LOG + [{"query_id": "t", "type": "ERROR", "error": "boom", "ts": 99.0}]
    assert "ERROR" in stats.lifecycle_errors(errored, ["t"], killed=set())["t"]


# -- workload generation and the pandas reference ---------------------------


def test_workloads_are_seeded_and_fixed_in_structure():
    a, b = steady_population(3), steady_population(3)
    assert a == b and len(a) == 64
    other = steady_population(4)
    shape = lambda qs: [(q.shape, q.filt[0], q.group, q.field, len(q.ops)) for q in qs]  # noqa: E731
    assert sorted(shape(a)) == sorted(shape(other))
    c1, c2 = churn_schedule(3, 15.0), churn_schedule(4, 15.0)
    assert sorted(q.shape for q in c1) == sorted(q.shape for q in c2)
    assert all(q.kill_s is None or q.submit_s < q.kill_s < q.submit_s + q.duration_ms / 1000 for q in c1)
    e1, e2 = event_schedule(3, "serve_steady", 5.0, 1000), event_schedule(3, "serve_steady", 5.0, 1000)
    assert all((x[0] == y[0]) and (x[1] == y[1]).all() for x, y in zip(e1, e2))


EV = pd.DataFrame(
    {
        "event_id": [1, 2, 3, 4, 5, 6],
        "user_id": [10, 11, 10, 12, 13, 10],
        "event_type": ["click", "view", "click", "view", "error", "click"],
        "value": [1.0, 5.0, 9.0, 2.5, 40.0, 7.5],
        "props": ["p1", "p2", "p1", "p1", "p3", "p2"],
        "gen_ms": [100, 100, 200, 200, 300, 300],
    }
)


def test_reference_grouped_and_topk():
    q = QuerySpec("g", "group", "", ("value_gt", 2.0), group=("event_type",),
                  ops=(("COUNT", None), ("AVG", "value"), ("MAX", "gen_ms")))
    rows = [["click", 2, 8.25, 300], ["view", 2, 3.75, 200], ["error", 1, 40.0, 300]]
    assert check_result(q, rows, EV).ok
    assert not check_result(q, rows[:2], EV).ok
    topk = QuerySpec("t", "topk", "", ("all",), k=2, field="user_id")
    assert check_result(topk, [[10, 3], [11, 1]], EV).ok  # ties rank by str(key)
    assert not check_result(topk, [[10, 3], [12, 1]], EV).ok


def test_reference_distinct_quantile_freq_raw():
    cd = QuerySpec("c", "cd", "", ("type_in", ("click",)), field="user_id")
    assert check_result(cd, [[1]], EV).ok and not check_result(cd, [[2]], EV).ok
    acd = QuerySpec("a", "acd", "", ("all",), field="user_id")
    assert check_result(acd, [[4]], EV).ok
    assert not check_result(acd, [[5]], EV).ok  # outside the 3-sigma HLL bounds
    qt = QuerySpec("q", "quantile", "", ("all",), points=(0.5,), field="value", width=2.5)
    assert check_result(qt, [[0.5, 6.25]], EV).ok  # exact median 5.0, within one width
    assert not check_result(qt, [[0.5, 8.75]], EV).ok
    fq = QuerySpec("f", "freq", "", ("all",), points=(0.0, 5.0, 10.0), field="value")
    assert check_result(fq, [[1, 2], [2, 3], [3, 1]], EV).ok
    raw = QuerySpec("r", "raw", "", ("value_gt", 6.0), limit=2)
    rec = [[*r[:1], "2024-01-01", *r[1:]] for r in EV.itertuples(index=False)]  # + ts
    assert check_result(raw, [rec[2], rec[4]], EV).ok
    assert not check_result(raw, [rec[2], rec[4], rec[5]], EV).ok  # over LIMIT
    assert not check_result(raw, [rec[0]], EV).ok  # value 1.0 fails the filter


def test_fanout_ends_a_query_at_its_measured_result():
    q = QuerySpec("r", "raw", "", ("all",), limit=2, submit_s=0.0, duration_ms=10_000)
    # rows at 0.1, 0.1, 0.2, 0.2, 0.3, 0.3 s; the query answered at 0.15 s
    assert properties([q], EV, 0.0, 10.0, {}).fanout_mean == 1.0
    assert properties([q], EV, 0.0, 10.0, {"r": 0.15}).fanout_mean == pytest.approx(2 / 6, abs=1e-3)


# -- tracing ----------------------------------------------------------------


class _FakeSc:
    def __init__(self):
        self.props = {}

    def getLocalProperty(self, k):
        return self.props.get(k)

    def setLocalProperty(self, k, v):
        self.props[k] = v

    def setJobGroup(self, gid, desc):
        self.props["spark.jobGroup.id"] = gid


class _FakeTracker:
    def getJobIdsForGroup(self, gid):
        return []


def test_collects_outside_the_routed_job_are_kept_apart():
    from perfbench.trace import Tracer

    t = Tracer()
    collect = t.collect_wrapper(lambda df: list(range(df)), _FakeSc(), _FakeTracker())
    grouping_sets = t.wrap("mux.grouping_sets", lambda: collect(3))
    grouping_sets()
    collect(5)  # the RAW take: no grouping-sets parent
    names = [sp[1] for sp in t.spans]
    assert names.count("mux.collect") == 1 and names.count("mux.raw_take") == 1
    assert [v for _, v in t.values["mux.partial_rows"]] == [3]
    assert [v for _, v in t.values["mux.job_tasks"]] == [0]
    parent = {sp[0]: sp[1] for sp in t.spans}
    assert [parent[sp[4]] for sp in t.spans if sp[1] == "mux.collect"] == ["mux.grouping_sets"]


# -- the two-set spread check ------------------------------------------------


def test_spread_check_uses_quartiles_and_the_direction_of_worse():
    from perfbench.spread import spread, summarize, worse_by

    assert spread([1.0, 2.0, 3.0, 4.0, 5.0]) == pytest.approx((4.5 - 1.5) / 3.0)
    assert worse_by(100.0, 110.0, "lower") == pytest.approx(0.1)
    assert worse_by(100.0, 110.0, "higher") == pytest.approx(-0.1)
    metrics = [{"name": "lat", "better": "lower", "bound": 0.2},
               {"name": "setup_s", "better": "lower", "bound": 0.25}]

    def runs(lat, setup):
        return [{"correct": True, "metrics": {"lat": x, "setup_s": y}} for x, y in zip(lat, setup)]

    steady = [10.0, 10.5, 11.0, 10.2, 10.8]
    wide = [1.0, 5.0, 9.0, 3.0, 7.0]  # setup_s may spread, but its median may not move
    assert summarize({"A": runs(steady, wide), "B": runs(steady, wide)}, metrics)["ok"]
    assert not summarize({"A": runs(steady, wide), "B": runs([x * 1.3 for x in steady], wide)}, metrics)["ok"]
    assert not summarize({"A": runs(wide, steady), "B": runs(wide, steady)}, metrics)["ok"]
    assert not summarize({"A": runs(steady, steady), "B": runs(steady, [x * 1.3 for x in steady])}, metrics)["ok"]


# -- BENCHMARK.json ---------------------------------------------------------

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
PATH = re.compile(r"^[A-Za-z0-9_./-]{1,200}$")


def test_benchmark_json_names_are_legal():
    from perfbench.run import END_TO_END_UNITS, PER_LAYER_UNITS

    raw = (ROOT / "BENCHMARK.json").read_text()
    assert len(raw.encode()) <= 64 * 1024
    b = json.loads(raw)
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 1 <= len(b["paths"]) <= 16
    for p in b["paths"]:
        assert PATH.match(p) and not p.startswith("/") and ".." not in p.split("/")
        assert (ROOT / p).is_dir()
    assert len(b["command"]) <= 32 and all(len(c) <= 200 for c in b["command"])
    assert isinstance(b["run_seconds"], int) and 1 <= b["run_seconds"] <= 60
    assert 2 <= len(b["workloads"]) <= 8
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + [w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert 1 <= len(b["end_to_end"]) <= 16 and 1 <= len(b["per_layer"]) <= 128
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in b["end_to_end"] + b["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("higher", "lower")
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in b["end_to_end"])
    # the run prints exactly these names, with these units
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == PER_LAYER_UNITS
