"""Run one workload of the serving-path benchmark and print its result.

  python3 perfbench/run.py --workload serve_steady --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. It reads the event pool from
``$SPARK_GRAFT_SF_DIR/events.parquet`` (default ``~/testdata/sf0.1``) and
writes only under ``.perfbench/`` in the checkout. The last line of stdout
is the result object ``{"correct", "attempted", "failed", "metrics"}``;
the line before it holds the run's details (context, sample counts, the
workload properties, failures and, when traced, the layer table). The
details are also kept in ``.perfbench/out/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DEFAULT_SF_DIR = os.path.join(os.path.expanduser("~"), "testdata", "sf0.1")
LATE_BOUND_MS = 100.0  # p99 open-loop lateness above this invalidates a run
PROBE_LIMIT_MS = 1000.0  # a warm one-task job slower than this marks a degraded host


def _median(xs):
    return statistics.median(xs) if xs else None


def evaluate(workload: str, seed: int, seconds: float, raw: dict, tracer) -> tuple[dict, dict]:
    from perfbench import stats
    from perfbench.serve import batches_in, read_generated
    from perfbench.workloads import (
        TAIL_Q, WARM_S, check_result, churn_schedule, properties, steady_population,
    )

    steady = workload == "serve_steady"
    queries = steady_population(seed) if steady else churn_schedule(seed, seconds)
    by_id = {q.qid: q for q in queries}
    qids = raw["qids"]
    start = raw["start"]
    files = raw["manifest"]["files"]
    first_due = files[0]["due"]
    events = [e for e in raw["events"] if e.get("query_id") != "warmup"]
    measured = start + WARM_S  # samples from the warm-up are not counted

    # user-visible latencies
    fresh = stats.freshness_ms(
        events, {q.qid: q.gen_ms_col() for q in queries if q.gen_ms_col() is not None}, since_ms=measured * 1000.0
    )
    if steady:
        ready = {q: max(raw["population_submit_s"][q], first_due) for q in qids}
        due = {op["qid"]: op["due"] for op in raw["kill_ops"]}
        killed = set(qids)
    else:
        ready = {q: max(start + by_id[q].submit_s, first_due) for q in qids}
        # a RAW query may complete early at its LIMIT, so its result has
        # no due time unless it was killed
        due = {
            q: start + (by_id[q].kill_s if by_id[q].kill_s is not None
                        else by_id[q].submit_s + by_id[q].duration_ms / 1000.0)
            for q in qids
            if by_id[q].shape != "raw" or by_id[q].kill_s is not None
        }
        killed = {q for q in qids if by_id[q].kill_s is not None}
    if not steady:  # churn counts the queries submitted after the warm-up
        ready = {q: t for q, t in ready.items() if t >= measured}
        due = {q: t for q, t in due.items() if start + by_id[q].submit_s >= measured}
    first = list(stats.first_window_ms(events, ready).values())
    overdue = list(stats.result_overdue_ms(events, due).values())
    batches = [b for b in batches_in(raw["progress"], raw["file_batches"], files) if b["start"] >= measured]
    capacity = [
        b["rows"] / (b["durationMs"]["triggerExecution"] / 1000.0)
        for b in batches if b["durationMs"].get("triggerExecution")
    ]

    # correctness and failed operations
    failures = stats.lifecycle_errors(events, qids, killed)
    for i, e in enumerate(e for e in events if e.get("type") == "ERROR" and e.get("query_id") not in by_id):
        failures[f"error-{i}"] = f"unexpected ERROR event: {e.get('error')}"
    df = read_generated(raw["events_dir"])
    final = {e["query_id"]: e for e in events if e.get("type") == "RESULT"}
    for qid in qids:
        q = by_id[qid]
        if qid in failures or (not steady and q.shape != "raw"):
            continue  # churn checks values only where they do not depend on batch timing
        res = final[qid]
        chk = check_result(q, res["rows"], df, res.get("meta"))
        if not chk.ok:
            failures[qid] = f"wrong result: {chk.detail}"

    # validity of the run itself
    invalid = []
    if not raw["drained"]:
        invalid.append("the stream did not drain the generated rows")
    late = stats.lateness_ms(files + raw["manifest"]["queries"] + raw["kill_ops"])
    late_p99 = stats.percentile(late, 0.99)
    if late_p99 > LATE_BOUND_MS:
        invalid.append(f"generator p99 lateness {late_p99:.1f} ms > {LATE_BOUND_MS} ms")
    tails = TAIL_Q[workload]
    summ = {
        name: stats.summarize(xs, tails[name])
        for name, xs in (("freshness", fresh), ("first_window", first), ("result_overdue", overdue))
        if xs
    }
    headline = HEADLINE[workload]
    if headline not in summ:
        invalid.append(f"no {headline} samples")
    if not capacity:
        invalid.append("no micro-batch with input rows")

    ended = {e["query_id"]: e["ts"] - start for e in events if e.get("type") == "RESULT"}
    props = properties(queries, df, start * 1000.0, WARM_S + seconds, ended)
    cpu = window_cpu(raw["cpu"], measured)
    if cpu is None:
        invalid.append("no CPU samples in the measured window")
    probes = [raw["probe_1task_ms"], raw["probe_1task_ms_end"]]
    if max(probes) > PROBE_LIMIT_MS:
        invalid.append(f"probe_1task_ms {max(probes):.0f} > {PROBE_LIMIT_MS:.0f}: a degraded host window")
    detail = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "warmup_s": WARM_S,
        "trace": tracer is not None,
        "context": {
            "nproc": raw["nproc"],
            "loadavg_before": raw["loadavg_before"],
            "loadavg_after": raw["loadavg_after"],
            "probe_1task_ms": round(probes[0], 2),
            "probe_1task_ms_end": round(probes[1], 2),
            "probe_limit_ms": PROBE_LIMIT_MS,
            "setup_samples_s": [round(x, 3) for x in raw["setup_s"]],
            "steal_share": round(cpu[1], 4) if cpu else None,
        },
        "serving": {
            **{f"{k}_ms": v.as_dict() for k, v in summ.items()},
            "capacity_rows_per_s": {"median": _median(capacity), "n": len(capacity)},
        },
        "generator": {
            "late_ms_p99": round(late_p99, 3),
            "late_bound_ms": LATE_BOUND_MS,
            "operations": len(late),
            "rows": int(sum(f["rows"] for f in files)),
        },
        "properties": {
            "fanout_mean": props.fanout_mean,
            "match_share_median": _median(list(props.match_share.values())),
            "match_share": props.match_share,
            # (s since the first event file, RUNNING handles, all handles),
            # sampled once a second while the generator ran
            "live_handles": [(round(t - start, 2), r, n) for t, r, n in raw["handles"][::4]],
        },
        "failed_share": len(failures) / len(qids),
        "failures": dict(list(failures.items())[:20]),
        "invalid": invalid,
    }
    end_to_end = {
        "setup_s": statistics.median(raw["setup_s"]),
        "cpu_cores": cpu[0] if cpu else None,
        "rss_peak_mb": raw["rss_peak_mb"],
    }
    detail["end_to_end"] = end_to_end
    result = {"correct": not failures and not invalid, "attempted": len(qids), "failed": len(failures)}
    if tracer is None:
        metrics, units = end_to_end, END_TO_END_UNITS
    else:
        detail["layers"] = tracer.layers(since=measured)
        metrics, units = layer_metrics(raw, batches, detail["layers"], tracer, measured), PER_LAYER_UNITS
    result["metrics"] = {
        k: {"value": metrics[k], "unit": u} for k, u in units.items() if metrics.get(k) is not None
    }
    return detail, result


END_TO_END_UNITS = {
    "setup_s": "s",
    "cpu_cores": "cores",
    "rss_peak_mb": "MB",
}
# The latency a user of each workload waits on; a run without samples of
# it is not valid.
HEADLINE = {"serve_steady": "freshness", "serve_churn": "first_window"}

PER_LAYER_UNITS = {
    "batch.count": "count",
    "batch.rows": "rows",
    "batch.trigger_ms": "ms",
    "batch.addBatch_ms": "ms",
    "batch.latestOffset_ms": "ms",
    "batch.getBatch_ms": "ms",
    "batch.queryPlanning_ms": "ms",
    "batch.walCommit_ms": "ms",
    "batch.commitOffsets_ms": "ms",
    "source.lag_rows": "rows",
    "mux.batch_ms": "ms",
    "mux.compile_ms": "ms",
    "mux.compiles": "count",
    "mux.plan_cache_hit_ratio": "ratio",
    "mux.frame_ms": "ms",
    "mux.job_ms": "ms",
    "mux.job_tasks": "count",
    "mux.partial_rows": "rows",
    "mux.merge_ms": "ms",
    "mux.result_ms": "ms",
    "mux.handles": "count",
    "control.poll_ms": "ms",
    "control.register_ms": "ms",
    "control.publish_tick_ms": "ms",
    "control.emit_ms": "ms",
    "control.events.WINDOW": "count",
    "control.events.RESULT": "count",
    "control.events.SIGNAL": "count",
    "bql.parse_ms": "ms",
    "jvm.gc_ms": "ms",
    "jvm.heap_used_mb": "MB",
}


def window_cpu(cpu: list[tuple], since: float) -> tuple[float, float] | None:
    """Over the samples taken after ``since`` while the generator ran:
    the CPU cores this process and its JVM kept busy on average, and the
    share of the host's CPU time that went to steal."""
    xs = [x for x in cpu if x[0] >= since]
    if len(xs) < 2 or xs[-1][0] <= xs[0][0]:
        return None
    (t0, c0, s0, n0), (t1, c1, s1, n1) = xs[0], xs[-1]
    return (c1 - c0) / (t1 - t0), (s1 - s0) / (n1 - n0) if n1 > n0 else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else None


def layer_metrics(raw: dict, batches: list[dict], layers: dict, tracer, since: float) -> dict:
    """Per-layer values over the measured window: counts are totals, times
    are mean ms per call or per micro-batch (busy time / calls)."""
    from perfbench import stats
    from perfbench.workloads import event_file

    def dur(key):
        return _mean([b["durationMs"].get(key, 0) for b in batches])

    def per_call(span, key="total_ms"):
        return layers[span][key] / layers[span]["calls"]

    files = raw["manifest"]["files"]
    batch_of = {f["i"]: raw["file_batches"][event_file(f["i"])] for f in files
                if event_file(f["i"]) in raw["file_batches"]}
    lag = stats.source_lag_rows(files, batch_of, sorted(batches, key=lambda b: b["batchId"]))
    return {
        "batch.count": len(batches),
        "batch.rows": sum(b["rows"] for b in batches),
        "batch.trigger_ms": dur("triggerExecution"),
        "batch.addBatch_ms": dur("addBatch"),
        "batch.latestOffset_ms": dur("latestOffset"),
        "batch.getBatch_ms": dur("getBatch"),
        "batch.queryPlanning_ms": dur("queryPlanning"),
        "batch.walCommit_ms": dur("walCommit"),
        "batch.commitOffsets_ms": dur("commitOffsets"),
        "source.lag_rows": _mean(lag),
        "mux.batch_ms": per_call("mux.batch"),
        "mux.compile_ms": per_call("mux.compile"),
        "mux.compiles": layers["mux.compile"]["calls"],
        "mux.plan_cache_hit_ratio": tracer.cache_hit_ratio(since),
        "mux.frame_ms": per_call("mux.frame"),
        "mux.job_ms": per_call("mux.collect"),
        "mux.job_tasks": _mean(tracer.noted("mux.job_tasks", since)),
        "mux.partial_rows": _mean(tracer.noted("mux.partial_rows", since)),
        "mux.merge_ms": per_call("mux.grouping_sets", "self_total_ms"),
        "mux.result_ms": per_call("mux.result"),
        "mux.handles": raw["handles_end"],
        "control.poll_ms": per_call("control.poll"),
        "control.register_ms": per_call("control.register"),
        "control.publish_tick_ms": per_call("control.publish_tick"),
        "control.emit_ms": per_call("control.emit"),
        "control.events.WINDOW": len(tracer.noted("control.events.WINDOW", since)),
        "control.events.RESULT": len(tracer.noted("control.events.RESULT", since)),
        "control.events.SIGNAL": len(tracer.noted("control.events.SIGNAL", since)),
        "bql.parse_ms": per_call("bql.parse"),
        "jvm.gc_ms": raw["jvm_gc_ms"],
        "jvm.heap_used_mb": raw["jvm_heap_used_mb"],
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("serve_steady", "serve_churn"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    # the benchmark measures the package of this checkout, never another copy
    if not (ROOT / "bullet_spark_spark" / "__init__.py").is_file():
        print(f"perfbench: no bullet_spark_spark package under {ROOT}", file=sys.stderr)
        return 2
    pool = os.path.join(os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR), "events.parquet")
    if not os.path.isfile(pool):
        print(f"perfbench: event pool {pool} not found", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    from perfbench.serve import ServeRun, clean, shutdown_jvm
    from perfbench.trace import LayerBlind, LayerMissing, Tracer

    work = ROOT / ".perfbench" / f"{a.workload}-{a.seed}-{os.getpid()}"
    clean(work)
    (work / "tmp").mkdir(parents=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "tmp")
    os.environ["TMPDIR"] = str(work / "tmp")
    tracer = Tracer() if a.trace else None
    # on SIGTERM, unwind through the finally below: stop the generator and
    # the JVM and remove the run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        if tracer is not None:
            tracer.install_global()
        raw = ServeRun(a.workload, a.seed, a.seconds, work, pool, tracer).run()
        if tracer is not None:
            tracer.check_not_blind()
        detail, result = evaluate(a.workload, a.seed, a.seconds, raw, tracer)
    except (LayerMissing, LayerBlind) as e:
        print(f"perfbench: traced run failed: {e}", file=sys.stderr)
        return 3
    finally:
        if tracer is not None:
            tracer.uninstall_global()
        shutdown_jvm()
        clean(work)

    out = ROOT / ".perfbench" / "out"
    out.mkdir(parents=True, exist_ok=True)
    stem = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    (out / f"{stem}.json").write_text(json.dumps({**detail, "result": result}, indent=1))
    if tracer is not None:
        (out / f"{stem}-spans.json").write_text(json.dumps(tracer.dump()))
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
