"""Write the committed traced-run artifact of one workload: every per-layer
metric and the tracing overhead.

  python3 perfbench/report.py --workload serve_steady --seeds 1,2,3 --seconds 12

For each seed it runs ``run.py`` untraced and traced, alternating which goes
first, and writes ``perfbench/results/<workload>.json`` with the median of
every per-layer metric over the traced runs, the span table of the first
traced run, and the overhead: the traced minus the untraced median of every
end-to-end metric and of every serving latency's median and the capacity
(the traced run computes them too, from the same samples).
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, cwd=HERE.parent, check=True,
    )
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def user_visible(detail: dict) -> dict:
    """The end-to-end metrics of a run's detail, with the median of every
    serving latency and the capacity, which the detail line reports."""
    out = dict(detail["end_to_end"])
    for k, v in detail["serving"].items():
        out[k] = v["median"] if k == "capacity_rows_per_s" else v["p50"]
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--seconds", type=int, required=True)
    a = ap.parse_args()
    seeds = [int(s) for s in a.seeds.split(",")]
    plain: dict[str, list] = {}
    traced: dict[str, list] = {}
    layer: dict[str, list] = {}
    first_traced = None
    for i, seed in enumerate(seeds):
        order = (0, 1) if i % 2 == 0 else (1, 0)
        for trace in order:
            detail, result = run(a.workload, seed, a.seconds, trace)
            if not result["correct"]:
                raise SystemExit(f"seed {seed} trace {trace}: {detail['failures']} {detail['invalid']}")
            for k, v in user_visible(detail).items():
                (traced if trace else plain).setdefault(k, []).append(v)
            if trace:
                first_traced = first_traced or detail
                for k, v in result["metrics"].items():
                    layer.setdefault(k, []).append(v["value"])
    med = {k: statistics.median(v) for k, v in plain.items()}
    tmed = {k: statistics.median(v) for k, v in traced.items()}
    out = {
        "workload": a.workload,
        "seeds": seeds,
        "seconds": a.seconds,
        "context": first_traced["context"],
        "per_layer": {k: statistics.median(v) for k, v in layer.items()},
        "overhead": {
            k: {"untraced": med[k], "traced": tmed[k], "diff": tmed[k] - med[k],
                "share": (tmed[k] - med[k]) / med[k] if med[k] else None}
            for k in med if k in tmed
        },
        "layers": first_traced["layers"],
    }
    dest = HERE / "results" / f"{a.workload}.json"
    dest.parent.mkdir(exist_ok=True)
    dest.write_text(json.dumps(out, indent=1) + "\n")
    print(dest)
    return 0


if __name__ == "__main__":
    sys.exit(main())
