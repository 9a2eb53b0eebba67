"""Repeat a workload over several seeds and print each metric's spread.

    python3 perfbench/steady.py --workload serve --seeds 1-10

For every metric it prints the median, the quartiles as
``statistics.quantiles(values, n=4)`` gives them, and the quartile distance
as a share of the median next to the metric's bound from ``BENCHMARK.json``.
With ``--trace 1`` it also runs each seed untraced, right after its traced
run, and reports the tracing overhead: the traced end-to-end median minus
the untraced one.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

if __package__ in (None, ""):
    sys.path.insert(0, str(ROOT))

from perfbench.stats import spread  # noqa: E402


def parse_seeds(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} trace {trace}: "
                           f"exit {proc.returncode}")
    result = json.loads(lines[-1])
    report = HERE / "out" / f"{workload}-s{seed}-t{trace}" / "report.json"
    result["end_to_end"] = json.loads(report.read_text())["end_to_end"]
    return result


def table(results: list[dict], bounds: dict) -> dict:
    names = results[0]["metrics"].keys()
    out = {}
    for name in names:
        vals = [r["metrics"][name]["value"] for r in results]
        row = spread(vals) if len(vals) >= 2 else {"median": vals[0]}
        row["values"] = vals
        row["bound"] = bounds.get(name)
        out[name] = row
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = args.seconds or spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    seeds = parse_seeds(args.seeds)
    runs, plain = [], []
    for s in seeds:
        runs.append(run_once(args.workload, s, seconds, args.trace))
        if args.trace:  # the untraced twin right after, so drift hits both
            plain.append(run_once(args.workload, s, seconds, 0))
    rows = table(runs, bounds)
    report = {"workload": args.workload, "seeds": seeds, "seconds": seconds,
              "trace": args.trace, "metrics": rows,
              "correct": all(r["correct"] for r in runs)}
    if args.trace:
        # traced minus untraced end-to-end medians over the same seeds
        med = {}
        for label, rs in (("traced", runs), ("untraced", plain)):
            med[label] = table([{"metrics": {k: r["end_to_end"][k]
                                             for k in bounds}} for r in rs],
                               bounds)
        report["overhead"] = {k: med["traced"][k]["median"]
                              - med["untraced"][k]["median"] for k in bounds}
    for name, row in rows.items():
        share = row.get("iqr_share")
        print(f"{name:38s} median {row['median']:12.4f}  q1 {row.get('q1', 0):12.4f}"
              f"  q3 {row.get('q3', 0):12.4f}  iqr/median "
              f"{'-' if share is None else f'{share:.3f}'}"
              f"  bound {row['bound']}")
    for name, delta in report.get("overhead", {}).items():
        print(f"tracing overhead {name:22s} {delta:+.4f}")
    print(json.dumps(report))
    return 0 if report["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
