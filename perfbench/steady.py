"""Steadiness tool: run one workload N times and report each end-to-end
metric's median, quartiles and spread against its bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload synth_cycle --runs 10
    python3 perfbench/steady.py --workload synth_cycle --runs 10 --other ../parent

Run i (from 1) uses seed i. Spread = (q3 - q1) / median, with quartiles
from statistics.quantiles(values, n=4). With --other DIR (a second
checkout), every seed runs on both checkouts, alternating which goes first,
and the two medians are compared: `worse` is how much the other checkout's
median is worse than this one's, as a share of this one's.
"""
from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run_once(checkout: Path, workload: str, seed: int, seconds: int) -> dict:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{cmd} in {checkout} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    out = json.loads(lines[-1])
    if not out["correct"]:
        print(f"  seed {seed}: correct=false failed={out['failed']}", file=sys.stderr)
    return {k: m["value"] for k, m in out["metrics"].items()}


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else float("inf")}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--other", type=Path, help="second checkout to compare with")
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    sides = {"this": ROOT} if args.other is None else {"this": ROOT, "other": args.other.resolve()}
    runs: dict[str, list[dict]] = {s: [] for s in sides}
    for seed in range(1, args.runs + 1):
        order = list(sides) if seed % 2 else list(reversed(sides))
        for side in order:
            r = run_once(sides[side], args.workload, seed, spec["run_seconds"])
            runs[side].append(r)
            print(f"{side} seed {seed}: " + " ".join(f"{k}={v:.4g}" for k, v in r.items()),
                  flush=True)
    report: dict = {"workload": args.workload, "runs": args.runs, "metrics": {}}
    print(f"\n{'metric':<16} {'side':<6} {'median':>10} {'q1':>10} {'q3':>10} "
          f"{'spread':>7} {'bound':>6}  verdict")
    for name, m in metrics.items():
        entry = {}
        for side in sides:
            st = summarize([r[name] for r in runs[side]])
            entry[side] = st
            verdict = "-" if name == "setup_s" else (
                "ok" if st["spread"] <= m["bound"] else "TOO WIDE")
            if st["spread"] <= m["bound"] / 3 and name != "setup_s":
                verdict += " (<bound/3)"
            print(f"{name:<16} {side:<6} {st['median']:>10.4g} {st['q1']:>10.4g} "
                  f"{st['q3']:>10.4g} {st['spread']:>7.3f} {m['bound']:>6}  {verdict}")
        if "other" in entry:
            a, b = entry["this"]["median"], entry["other"]["median"]
            worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
            entry["other_worse_by"] = worse
            print(f"{name:<16} other median worse by {worse:+.3f} "
                  f"({'ok' if worse <= m['bound'] else 'OVER BOUND'})")
        report["metrics"][name] = entry
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
