"""Check that the benchmark is steady enough for its bounds, and keep the
evidence: two sets of untraced runs of one workload, interleaved.

  python3 perfbench/spread.py --workload serve_steady --runs 10

Set A uses seeds 101..100+N and set B seeds 201..200+N; the runs alternate
A, B, A, B, so a drift of the host's speed falls on both sets alike. For
every end-to-end metric of ``BENCHMARK.json`` it reports each set's median
and its spread (interquartile range over the median, as
``statistics.quantiles(n=4)`` gives the quartiles), and how much worse set
B's median is than set A's. A set passes when every spread except
``setup_s``'s and the median change stay within the metric's bound. Every
run's values and host context are written to
``perfbench/results/spread_<workload>.json``, with each set's median and
spread of the serving latencies and the capacity, which the runs report
but the benchmark does not gate.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def run_once(workload: str, seed: int, seconds: int) -> dict:
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True, cwd=ROOT,
    )
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        return {"seed": seed, "exit": p.returncode, "stderr": p.stderr[-2000:]}
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    return {
        "seed": seed,
        "exit": 0,
        "wall_s": round(time.time() - t0, 1),
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "invalid": detail["invalid"],
        "context": detail["context"],
        "metrics": {k: v["value"] for k, v in result["metrics"].items()},
        # reported, not gated: the median of each serving latency, and the capacity
        "serving": {k: v.get("p50", v.get("median")) for k, v in detail["serving"].items()},
    }


def spread(values: list[float]) -> float:
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def worse_by(first: float, second: float, better: str) -> float:
    """How much worse ``second`` is than ``first``, as a share of ``first``."""
    return (second - first) / first if better == "lower" else (first - second) / first


def summarize(sets: dict[str, list[dict]], metrics: list[dict]) -> dict:
    out: dict = {"sets": {}, "change": {}, "ok": True}
    for name, runs in sets.items():
        out["sets"][name] = {}
        for m in metrics:
            xs = [r["metrics"][m["name"]] for r in runs if r.get("correct")]
            s = spread(xs) if len(xs) >= 2 else None
            ok = m["name"] == "setup_s" or (s is not None and s <= m["bound"])
            out["sets"][name][m["name"]] = {"median": statistics.median(xs) if xs else None, "spread": s, "ok": ok}
            out["ok"] &= ok
    a, b = list(out["sets"].values())
    for m in metrics:
        w = worse_by(a[m["name"]]["median"], b[m["name"]]["median"], m["better"])
        ok = w <= m["bound"]
        out["change"][m["name"]] = {"worse_by": w, "bound": m["bound"], "ok": ok}
        out["ok"] &= ok
    out["ok"] &= all(r.get("correct") for runs in sets.values() for r in runs)
    out["serving"] = {}
    for name, runs in sets.items():
        vals: dict[str, list[float]] = {}
        for r in runs:
            for k, v in r.get("serving", {}).items() if r.get("correct") else ():
                vals.setdefault(k, []).append(v)
        out["serving"][name] = {
            k: {"median": statistics.median(xs), "spread": spread(xs) if len(xs) >= 2 else None}
            for k, xs in vals.items()
        }
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10, help="runs per set")
    a = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    sets: dict[str, list[dict]] = {"A": [], "B": []}
    for i in range(1, a.runs + 1):
        for name, base in (("A", 100), ("B", 200)):
            r = run_once(a.workload, base + i, bench["run_seconds"])
            sets[name].append(r)
            print(name, json.dumps(r)[:400], flush=True)
    summary = summarize(sets, bench["end_to_end"])
    dest = HERE / "results" / f"spread_{a.workload}.json"
    dest.write_text(json.dumps({"workload": a.workload, "run_seconds": bench["run_seconds"],
                                "summary": summary, "runs": sets}, indent=1) + "\n")
    for part, note in (("sets", ""), ("serving", " (not gated)")):
        for name, ms in summary[part].items():
            for k, v in ms.items():
                print(f"set {name} {k:22s} median {v['median']} spread {v['spread']}{note}")
    for k, v in summary["change"].items():
        print(f"B vs A {k:22s} worse by {v['worse_by']:+.3f} (bound {v['bound']})")
    print("ok" if summary["ok"] else "NOT ok", dest)
    return 0 if summary["ok"] else 1


if __name__ == "__main__":
    sys.exit(main())
