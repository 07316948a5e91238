"""Self-test of the benchmark, at tiny scale (a few minutes on 4 cores).

    python3 perfbench/selftest.py

1. Every workload, untraced and traced, exits 0 and prints as its last line
   the result object with every declared metric, each with its unit, and
   correct = true.
2. A perturbed query output trips the output check: one value changed in an
   oracle-checked result, one row dropped from a checksum-checked result,
   and a wrong expected size for the synth_cycle dataset.
   The traced runs write their spans.
3. In a directory that holds only BENCHMARK.json and perfbench/, the
   benchmark exits non-zero without printing a result.
Exits 0 when every check holds, else prints the failures and exits 1.
"""
from __future__ import annotations

import json
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import run as bench  # noqa: E402
import workloads  # noqa: E402

FAILURES: list[str] = []


def expect(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        FAILURES.append(what)


def scratch_dir() -> Path:
    d = ROOT / ".bench_tmp"
    d.mkdir(exist_ok=True)
    return d


def check_outputs(spec: dict) -> None:
    spans = scratch_dir() / "selftest-spans.jsonl"
    for wl in workloads.WORKLOADS:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, "perfbench/run.py", "--workload", wl, "--seed", "7",
                   "--seconds", "1", "--trace", str(trace), "--scale", "tiny"]
            if trace:
                cmd += ["--spans", str(spans)]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
            name = f"{wl} --trace {trace}"
            if trace:
                lines = spans.read_text().splitlines() if spans.exists() else []
                expect(bool(lines) and all({"name", "layer", "op", "parent", "start", "end"}
                                           <= set(json.loads(x)) for x in lines),
                       f"{name}: writes its spans")
                spans.unlink(missing_ok=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                expect(False, f"{name}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
                continue
            out = json.loads(lines[-1])
            expect(set(out) == {"correct", "attempted", "failed", "metrics"}, f"{name}: result keys")
            expect(out["correct"] and out["failed"] == 0 and out["attempted"] >= 1,
                   f"{name}: correct, {out['failed']} failed of {out['attempted']}")
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = out["metrics"]
            expect(set(got) == set(want), f"{name}: prints every {kind} metric")
            expect(all(got[k]["unit"] == u and isinstance(got[k]["value"], float)
                       for k, u in want.items() if k in got), f"{name}: values carry their units")


def check_perturbation() -> None:
    import checks

    tmp = tempfile.mkdtemp(dir=scratch_dir())
    try:
        bench.pin_env(tmp, bench.host_facts())
        workloads.InteractiveSession.write_inputs("tiny", tmp)
        from tsgen.session import get_spark

        spark = get_spark("perfbench-selftest")
        try:
            wl = workloads.InteractiveSession(spark, "tiny", tmp)
            con = checks.duck(wl.sf_dir)
            golden = checks.load_golden()["tiny"]

            name = "ev_tumbling"
            pdf = checks.collect(wl.op(name).build(), True)
            expect(checks.verify(name, pdf, wl.oracles[name], con, golden) is None,
                   f"{name} matches its oracle")
            col = next(c for c in pdf.columns if pdf[c].dtype.kind == "f")
            bad = pdf.copy()
            bad.loc[0, col] += 1.0
            expect(checks.verify(name, bad, wl.oracles[name], con, golden) is not None,
                   f"{name} with one value changed fails its check")

            name = "minhash_lsh"
            df = wl.op(name).build()
            got = checks.collect(df, False)
            expect(checks.verify(name, got, None, con, golden) is None,
                   f"{name} matches its golden checksum")
            short = checks.collect(df.limit(max(got[0] - 1, 0)), False)
            expect(checks.verify(name, short, None, con, golden) is not None,
                   f"{name} with one row dropped fails its check")

            syn = workloads.SynthCycle(spark, "tiny", tmp)
            syn.save(syn.generate(syn.s["n_train"]))
            args = (spark, syn.run_dir)
            fam, lam = workloads.SYNTH_FAMILY, workloads.SYNTH_LAMBDA
            expect(checks.check_synth(*args, syn.s, fam, lam) is None, "synth dataset check passes")
            wrong = dict(syn.s, n_train=syn.s["n_train"] + 1)
            expect(checks.check_synth(*args, wrong, fam, lam) is not None,
                   "synth dataset check fails on a wrong row count")
            expect(checks.check_synth(*args, syn.s, "sine", lam) is not None,
                   "synth dataset check fails on other values")
        finally:
            bench.stop_spark(spark)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def check_stripped() -> None:
    tmp = tempfile.mkdtemp(dir=scratch_dir())
    try:
        shutil.copy(ROOT / "BENCHMARK.json", tmp)
        shutil.copytree(HERE, Path(tmp) / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "synth_cycle", "--seed", "1",
             "--seconds", "1", "--trace", "0"],
            cwd=tmp, capture_output=True, text=True, timeout=180,
        )
        expect(proc.returncode != 0 and not proc.stdout.strip(),
               f"without the program: exit {proc.returncode}, no result printed")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    check_stripped()
    check_outputs(spec)
    check_perturbation()
    try:
        scratch_dir().rmdir()
    except OSError:
        pass
    print(f"\n{len(FAILURES)} failure(s)")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
