"""Run one benchmark workload, check its outputs, print its metrics.

    python3 perfbench/run.py --workload synth_cycle --seed 1 --seconds 10 --trace 0

Run from the repository root. The process pins its own environment before
Spark starts (threads = usable cores, a driver heap that fits the host, the
repository on PYTHONPATH for Python workers, every scratch file under
`.bench_tmp/` in the checkout), builds the workload's inputs from fixed
seeds, starts one Spark session, and then:

1. warm pass (untimed, counted in setup_s): every op of the workload once,
   each output collected and checked (see checks.py);
2. timed phase: closed loop, one client. Whole passes run for about
   --seconds; the seed orders the ops of each pass and picks slices;
3. with --trace 1, the timed phase is repeated with spans and Spark counters
   on, and the per-layer metrics plus the tracing overhead are reported
   instead of the end-to-end ones.

The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
Metric names and units come from BENCHMARK.json.
"""
from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

import numpy as np

from tracing import MemoryPeak

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DRIVER_MEM_GB = 3


def process_age_s() -> float:
    """Seconds since this process was created (from /proc, so interpreter
    start-up and imports count towards set-up time)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def host_facts() -> dict:
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return {"nproc": len(os.sched_getaffinity(0)), "ram_gb": round(ram, 1)}


def pin_env(tmp: str, host: dict) -> None:
    mem_gb = max(1, min(DRIVER_MEM_GB, int(host["ram_gb"] // 4)))
    os.environ.update(
        SPARK_GRAFT_CPUS=str(host["nproc"]),
        TSGEN_DRIVER_MEM=f"{mem_gb}g",
        PYTHONPATH=os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    host["driver_mem"] = os.environ["TSGEN_DRIVER_MEM"]


class Bench:
    def __init__(self, spark, wl, args, declared: dict):
        self.spark, self.wl, self.args, self.declared = spark, wl, args, declared
        self.attempted = self.failed = 0

    def fail(self, what: str, detail: str) -> None:
        self.failed += 1
        print(f"perfbench: {what}: {detail}", file=sys.stderr)

    def run_op(self, op, group: str, tracer=None):
        """Build and force one op; (build_s, exec_s) or None when it raised."""
        self.attempted += 1
        self.spark.sparkContext.setJobGroup(group, op.name)
        if tracer is None:
            span = lambda name, layer: contextlib.nullcontext()  # noqa: E731
        else:
            span, tracer.op = tracer.span, group
        try:
            with span(f"{op.name}.build", self.wl.build_layer):
                t0 = time.perf_counter()
                df = op.build()
                t1 = time.perf_counter()
            with span(f"{op.name}.exec", "exec"):
                op.force(df)
                t2 = time.perf_counter()
        except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
            self.fail(op.name, traceback.format_exc())
            return None
        return t1 - t0, t2 - t1

    def warm_pass(self) -> float:
        """Run every op once, collect and check its output, then run
        `warm_passes - 1` more unchecked passes. Returns the Spark-side time
        (oracle queries and comparisons excluded)."""
        import checks

        spent = 0.0
        rng = np.random.default_rng([self.args.seed, 999])
        con = checks.duck(getattr(self.wl, "sf_dir", None))
        golden = checks.load_golden().get(self.args.scale, {})
        oracles = getattr(self.wl, "oracles", {})
        for op in self.wl.pass_ops(rng):
            self.attempted += 1
            self.spark.sparkContext.setJobGroup(f"warm.{op.name}", op.name)
            t0 = time.perf_counter()
            try:
                got = self.wl.warm_force(op, op.build())
            except Exception:  # noqa: BLE001
                self.fail(op.name, traceback.format_exc())
                continue
            spent += time.perf_counter() - t0
            print(f"perfbench warm {op.name} {time.perf_counter() - t0:.3f}s", file=sys.stderr)
            if got is not None:
                err = checks.verify(op.name, got, oracles.get(op.name), con, golden)
                if err:
                    self.fail(f"check {op.name}", err)
        for k in range(1, self.wl.warm_passes):
            for op in self.wl.pass_ops(np.random.default_rng([self.args.seed, 999, k])):
                r = self.run_op(op, f"warm{k}.{op.name}")
                spent += sum(r) if r else 0.0
        return spent

    def timed(self, tracer=None, tag: str = ""):
        """Closed loop of whole passes for about --seconds. `tag`
        keeps the job groups of repeated loops apart.
        Returns (wall_s, latencies, per-op records, per-pass ops per second)."""
        lat, records, pass_rates = [], [], []
        t_start = time.perf_counter()
        p = 0
        while True:
            rng = np.random.default_rng([self.args.seed, p])
            t_pass, done = time.perf_counter(), 0
            for k, op in enumerate(self.wl.pass_ops(rng)):
                group = f"{tag}p{p}.{k}.{op.name}"
                r = self.run_op(op, group, tracer)
                if r is None:
                    continue
                done += 1
                lat.append(sum(r))
                print(f"perfbench op {group} build={r[0]:.3f}s exec={r[1]:.3f}s", file=sys.stderr)
                records.append({"op": op.name, "group": group, "build_s": r[0], "exec_s": r[1]})
            pass_rates.append(done / (time.perf_counter() - t_pass))
            p += 1
            # Start another pass only if one of average length still fits,
            # so the phase ends near --seconds instead of a pass past it.
            elapsed = time.perf_counter() - t_start
            if elapsed + elapsed / p > self.args.seconds:
                break
        return time.perf_counter() - t_start, lat, records, pass_rates

    def final_check(self) -> None:
        """Check what the timed phase left behind (written datasets)."""
        if not hasattr(self.wl, "check_written"):
            return
        self.attempted += 1
        err = self.wl.check_written()
        if err:
            self.fail(f"check {self.wl.name} output", err)

    def result(self, values: dict) -> dict:
        missing = set(self.declared) - set(values)
        if missing:
            raise RuntimeError(f"metrics not computed: {sorted(missing)}")
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {
                k: {"value": float(values[k]), "unit": self.declared[k]} for k in self.declared
            },
        }


def end_to_end(bench: Bench, setup_s: float) -> dict:
    _, lat, _, pass_rates = bench.timed()
    values = {
        "setup_s": setup_s,
        "ops_per_s": statistics.median(pass_rates),
        "latency_p50_s": statistics.median(lat),
    }
    bench.final_check()
    return values


def per_layer(
    bench: Bench, start_s: float, warm_s: float, memory: MemoryPeak, spans_out: str | None
) -> dict:
    import tracing

    wall_u, _, _, rates_u = bench.timed()
    tracer = tracing.Tracer()
    tracer.install()
    try:
        wall_t, _, records, rates_t = bench.timed(tracer, tag="traced.")
        for r in records:
            r["spark"] = tracing.spark_counters(bench.spark, r["group"])
    finally:
        tracer.uninstall()
    if spans_out:
        tracer.dump(spans_out)
    bench.final_check()
    cores = bench.spark.sparkContext.defaultParallelism
    v = dict.fromkeys(bench.declared, 0.0)
    v.update({"session.start_s": start_s, "session.warm_s": warm_s, "spark.peak_rss_mb": memory.mb()})
    # The two loops may run different numbers of passes: compare per pass.
    pass_u, pass_t = wall_u / len(rates_u), wall_t / len(rates_t)
    v["trace.overhead_s"] = pass_t - pass_u
    v["trace.overhead_pct"] = 100.0 * (pass_t - pass_u) / pass_u

    layer_self = tracer.by_layer()
    for layer in ("generators", "schedules", *tracing.QUERY_LAYERS):
        v[f"{layer}.build_s"] = layer_self.get(layer, 0.0)
    v["io.scan_s"] = sum(tracer.by_layer(lambda s: s.name in tracing.SCAN_SPANS).values())
    exec_wall = 0.0
    for r in records:
        exec_wall += r["exec_s"]
        for key, x in r["spark"].items():
            v[f"spark.{key}"] += x
        if bench.args.workload == "synth_cycle":
            continue
        v["queries.build_s"] += r["build_s"]
        v["queries.exec_s"] += r["exec_s"]
        touched = {
            s.layer for s in tracer.spans if s.op == r["group"] and s.layer in tracing.QUERY_LAYERS
        }
        for l in touched:
            v[f"{l}.exec_s"] += r["exec_s"] / len(touched)
        if not touched:  # the query calls helpers of its own query module
            v["queries.other_exec_s"] += r["exec_s"]
    v["spark.slot_util"] = v["spark.executor_run_s"] / (exec_wall * cores) if exec_wall else 0.0
    if v["queries.build_s"]:
        v["queries.build_share"] = v["queries.build_s"] / (v["queries.build_s"] + v["queries.exec_s"])
    if bench.args.workload == "synth_cycle":
        v.update(synth_layers(bench, records))
    return v


def synth_layers(bench: Bench, records: list[dict]) -> dict:
    """Exec self time per layer of the fused synth plans: force each stage
    prefix on its own and take differences of consecutive prefixes."""
    from workloads import noop

    wl, s = bench.wl, bench.wl.s

    def clock(fn) -> float:
        t0 = time.perf_counter()
        fn()
        return time.perf_counter() - t0

    prefixes = {
        "gen": lambda: noop(wl.generate(s["n_train"], normalize=False)),
        "znorm": lambda: noop(wl.generate(s["n_train"])),
        "write": lambda: wl.save(wl.generate(s["n_train"])),
        "val": lambda: noop(wl.generate(s["n_val"])),
        "qsample": lambda: noop(wl.noisy()),
        "loss": lambda: noop(wl.loss()),
    }
    bench.spark.sparkContext.setJobGroup("prefixes", "stage prefixes")
    t = dict.fromkeys(prefixes, float("inf"))
    for _ in range(2):  # min of two: each prefix is fixed work
        for k, fn in prefixes.items():
            t[k] = min(t[k], clock(fn))
    data = Path(wl.run_dir) / "data"
    files = [p for p in data.rglob("*") if p.is_file() and not p.name.startswith((".", "_"))]

    def med_exec(name: str) -> float:
        return statistics.median(r["exec_s"] for r in records if r["op"] == name)

    sample_s, dec_s = med_exec("sample_fused"), med_exec("decompose")
    loss_s = t["loss"] - t["qsample"]
    return {
        "generators.exec_s": t["gen"],
        "generators.points_per_s": s["n_train"] * s["seq_len"] / t["gen"],
        "normalize.exec_s": t["znorm"] - t["gen"],
        "io.write_s": t["write"] - t["znorm"],
        "io.write_bytes": sum(p.stat().st_size for p in files),
        "io.files_written": len(files),
        "diffusion.qsample_exec_s": t["qsample"] - t["val"],
        "metrics.loss_exec_s": loss_s,
        "metrics.loss_series_per_s": s["n_val"] / loss_s if loss_s > 0 else 0.0,
        "diffusion.sample_exec_s": sample_s,
        "diffusion.sample_steps_per_s": s["n_sample"] * s["timesteps"] / sample_s,
        "decompose.exec_s": dec_s,
        "decompose.series_per_s": s["n_dec"] / dec_s,
    }


def stop_spark(spark) -> None:
    """Stop the session, the py4j gateway and the JVM, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


def run(args, tmp: str, t_proc0: float) -> int:
    host = host_facts()
    pin_env(tmp, host)
    sys.path.insert(0, str(ROOT))
    with open(ROOT / "BENCHMARK.json") as fh:
        spec = json.load(fh)
    kind = "per_layer" if args.trace else "end_to_end"
    declared = {m["name"]: m["unit"] for m in spec[kind]}

    import pyspark
    import workloads

    cls = workloads.WORKLOADS[args.workload]
    if hasattr(cls, "write_inputs"):
        cls.write_inputs(args.scale, tmp)
    from tsgen.session import get_spark

    spark = get_spark("perfbench")
    start_s = time.perf_counter() - t_proc0
    memory = MemoryPeak(os.getpid()) if args.trace else None
    try:
        host["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        host["pyspark"] = pyspark.__version__
        bench = Bench(spark, cls(spark, args.scale, tmp), args, declared)
        warm_s = bench.warm_pass()
        if args.trace:
            values = per_layer(bench, start_s, warm_s, memory, args.spans)
        else:
            values = end_to_end(bench, start_s + warm_s)
        out = bench.result(values)
    finally:
        stop_spark(spark)
    print("perfbench env " + json.dumps(host, sort_keys=True))
    print(json.dumps(out))
    return 0


def main(argv: list[str] | None = None) -> int:
    t_proc0 = time.perf_counter() - process_age_s()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input sizes; tiny is for the self-test")
    ap.add_argument("--spans", help="traced run: also write the spans here (JSON lines)")
    args = ap.parse_args(argv)
    if not (ROOT / "tsgen" / "session.py").is_file():
        print(f"perfbench: no tsgen package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    tmp_root = ROOT / ".bench_tmp"
    tmp_root.mkdir(exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=tmp_root)
    try:
        return run(args, tmp, t_proc0)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            tmp_root.rmdir()
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
