"""Run the benchmark over several seeds and summarise it.

    python3 perfbench/spread.py --seeds 1-10 --out perfbench/results/spread.json
    python3 perfbench/spread.py --traced --seeds 7 --out perfbench/results/traced.json

Without ``--traced``: runs every workload once per seed (tracing off)
and reports, per end-to-end metric, the median and the spread (distance
between the first and third quartile as a share of the median, by
``statistics.quantiles(values, n=4)``) next to the metric's bound.

With ``--baseline FILE`` (an earlier spread report, e.g. of the parent
commit or of other seeds): also prints how far each median moved from
the baseline's, as a share of the baseline median, next to the bound.

With ``--traced``: runs every workload once with tracing off and once
with it on, on the same seed, and records the per-layer metrics with the
tracing overhead (traced minus untraced ``wall_s``).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_once(workload: str, seed: int, trace: int, seconds: int) -> dict:
    """One benchmark run; its run record (metrics, samples, load)."""
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    subprocess.run(cmd, cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    with open(os.path.join(HERE, ".out", f"{workload}-seed{seed}-trace{trace}.json")) as fh:
        return json.load(fh)


def _spans(workload: str, seed: int) -> list[dict]:
    with open(os.path.join(HERE, ".out", f"{workload}-seed{seed}-spans.jsonl")) as fh:
        return [json.loads(line) for line in fh]


def spread(values) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", required=True, help="a seed or an inclusive range, e.g. 1-10")
    ap.add_argument("--workloads", help="comma-separated; default every workload")
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--baseline", help="an earlier spread report to compare medians with")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    bench = _bench()
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    base = None
    if args.baseline:
        with open(args.baseline) as fh:
            base = json.load(fh)
    report = {}
    for w in workloads:
        if args.traced:
            seed = _seeds(args.seeds)[0]
            plain, traced = (run_once(w, seed, t, seconds) for t in (0, 1))
            report[w] = {
                "seed": seed,
                "untraced_wall_s": plain["metrics"]["wall_s"]["value"],
                "traced_wall_s": statistics.median(traced["round_wall_s"]),
                "tracing_overhead_s": statistics.median(traced["round_wall_s"])
                - plain["metrics"]["wall_s"]["value"],
                "untraced": plain,
                "traced": traced,
                "spans": _spans(w, seed),
            }
            continue
        runs = [run_once(w, s, 0, seconds) for s in _seeds(args.seeds)]
        report[w] = {"runs": runs, "metrics": {}}
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in runs]
            report[w]["metrics"][m["name"]] = {
                "values": vals,
                "median": statistics.median(vals),
                "spread": spread(vals),
                "bound": m["bound"],
            }
            line = (
                f"{w:<18} {m['name']:<10} median {statistics.median(vals):9.4f} "
                f"spread {spread(vals):.4f} bound {m['bound']}"
            )
            if base:
                was = base[w]["metrics"][m["name"]]["median"]
                shift = (statistics.median(vals) - was) / was
                report[w]["metrics"][m["name"]]["shift"] = shift
                line += f" shift {shift:+.4f}"
            print(line, flush=True)
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(report, fh, indent=1)


if __name__ == "__main__":
    main()
