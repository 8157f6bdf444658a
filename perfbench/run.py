"""FST-native benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload fst_analysis --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root. The benchmark generates its inputs from
the seed under ``.perfbench/`` in the repository root, starts a Spark
session through ``get_spark``, times every public call from outside and
checks every output against the generator's answers.

Per run: one set-up (``get_spark`` + source registration + one cold
pass, whose calls are checked but not counted as measured), the
workload's untimed warm-up passes, then whole warm passes until
``--seconds`` have been measured. A pass's time is the sum of each
call's median latency over the measured passes. ``--trace 1`` then runs
one traced pass and the layer probes, prints the per-layer metrics
instead of the end-to-end ones and writes the spans to
``.perfbench/spans-<workload>-<seed>.jsonl``. Metric names and units
come from ``BENCHMARK.json``. See NOTES.md.

The last line of stdout is the result object; progress goes to stderr.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def pin_environment(scratch: str) -> None:
    """Everything Spark and its Python workers need to run from this
    checkout and write only inside it."""
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    # the data-source workers import the package from the checkout
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["TMPDIR"] = tmp
    # both JVMs (spark-submit's launcher and the driver): temp files in
    # the checkout, no hsperfdata under /tmp
    os.environ["_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def import_engine():
    """Import the package from this checkout, refusing any other copy."""
    sys.path.insert(0, ROOT)
    import fstd2pandas_spark

    where = os.path.dirname(os.path.abspath(fstd2pandas_spark.__file__))
    if os.path.dirname(where) != ROOT:
        raise SystemExit(f"fstd2pandas_spark imported from {where}, "
                         f"not from this checkout ({ROOT})")
    return fstd2pandas_spark


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def start_session():
    from fstd2pandas_spark import get_spark
    from fstd2pandas_spark.sources import register

    spark = get_spark("perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(
            os.environ["TMPDIR"], "warehouse"),
    })
    register(spark)
    return spark


def calibration() -> dict:
    """Host-speed context, printed with every run and never gated: a
    chained-md5 pure-Python loop (bench.py's driver-CPU probe)."""
    t0 = time.perf_counter()
    h = b"calib"
    for _ in range(200_000):
        h = hashlib.md5(h).digest()
    return {"py_md5_sec": time.perf_counter() - t0}


def jvm_calibration(spark) -> float:
    """A fixed 1M-row md5 aggregation over 8 partitions (bench.py's
    probe at a quarter of its rows, one round)."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(0, 1_000_000, 1, 8).select(F.sum(F.conv(F.substring(
        F.md5(F.concat(F.lit("1"), F.col("id").cast("string"))),
        1, 4), 16, 10).cast("long"))).collect()
    return time.perf_counter() - t0


class Runner:
    """Runs passes of a workload's calls, timing each call and checking
    its output; failures are counted, never retried."""

    def __init__(self, tracer, sampler):
        self.tracer = tracer
        self.sampler = sampler
        self.attempted = 0
        self.failed = 0
        self.errors: "list[str]" = []
        self.results: "dict[str, object]" = {}
        self.latencies: "dict[str, list[float]]" = {}

    def run_pass(self, calls) -> "tuple[float, list[float], list[int]]":
        """(pass wall time, per-call latencies, per-call peak RSS)."""
        lat, peaks = [], []
        for call in calls:
            self.attempted += 1
            self.sampler.reset()
            t0 = time.perf_counter()
            try:
                with self.tracer.span(f"{call.layer}.{call.name}") as sp:
                    res = call.run(self.tracer)
                if sp is not None:
                    sp["layer"], sp["call"] = call.layer, call.name
            except Exception as exc:  # counted as failed, run goes on
                lat.append(time.perf_counter() - t0)
                self._fail(f"{call.name}: {type(exc).__name__}: {exc}")
                continue
            lat.append(time.perf_counter() - t0)
            self.latencies.setdefault(call.name, []).append(lat[-1])
            peaks.append(self.sampler.peak())
            try:
                err = call.check(res)
            except Exception as exc:
                err = f"check raised {type(exc).__name__}: {exc}"
            if err:
                self._fail(f"{call.name}: {err}")
            else:
                self.results[call.name] = res
        return sum(lat), lat, peaks

    def _fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg[:400])
        _log("FAILED " + msg[:400])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = load_spec()
    scratch = os.path.join(ROOT, ".perfbench")
    work = os.path.join(scratch, f"{args.workload}-{args.seed}-{os.getpid()}")
    pin_environment(scratch)
    import_engine()
    sys.path.insert(0, HERE)
    import numpy as np

    import perlayer
    import tracing as tr
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]()
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        wl.prepare(np.random.default_rng(args.seed), work)
        calib = calibration()

        with tr.RssSampler(bool(args.trace)) as sampler:
            # set-up: session start + source registration + one cold pass
            t0 = time.perf_counter()
            spark = start_session()
            start_s = time.perf_counter() - t0
            runner = Runner(tr.Tracer(spark, False), sampler)
            calls = wl.calls(spark)
            cold_s, _, _ = runner.run_pass(calls)
            setup_s = time.perf_counter() - t0
            _log(f"set-up {setup_s:.2f}s (cold pass {cold_s:.2f}s)")
            for _ in range(wl.WARMUP_PASSES):
                runner.run_pass(calls)

            passes, cpus, peaks = [], [], []
            per_call: "list[list[float]]" = [[] for _ in calls]
            t_end = time.perf_counter() + args.seconds
            while not passes or time.perf_counter() < t_end:
                cpu0 = tr.tree_cpu_s()
                p, lat, pk = runner.run_pass(calls)
                cpus.append(tr.tree_cpu_s() - cpu0)
                passes.append(p)
                for samples, x in zip(per_call, lat):
                    samples.append(x)
                peaks.extend(pk)
            _log(f"passes {[round(p, 2) for p in passes]}")
            medians = [statistics.median(v) for v in per_call]
            pass_s = sum(medians)

            if args.trace:
                metrics, tracer = perlayer.traced_metrics(
                    spark, wl, runner, calls, pass_s, len(passes), peaks,
                    start_s, cold_s, [m["name"] for m in spec["per_layer"]])
                tracer.write_jsonl(os.path.join(
                    scratch, f"spans-{args.workload}-{args.seed}.jsonl"))
            else:
                metrics = {
                    "setup_s": setup_s,
                    "pass_s": pass_s,
                    "call_geomean_s": statistics.geometric_mean(medians),
                    "pass_cpu_s": statistics.median(cpus),
                }
        calib["jvm_md5_sec"] = jvm_calibration(spark)
        print(json.dumps({"context": dict(
            calib, workload=args.workload, seed=args.seed,
            cores=len(os.sched_getaffinity(0)), setup_s=setup_s,
            passes_s=passes, pass_cpu_s=cpus, calls_s=runner.latencies,
            errors=runner.errors)}))
        units = {m["name"]: m["unit"]
                 for m in spec["end_to_end"] + spec["per_layer"]}
        out = {k: {"value": v, "unit": units[k]}
               for k, v in metrics.items()}
        print(json.dumps({
            "correct": runner.failed == 0,
            "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": out,
        }))
        return 0
    finally:
        if spark is not None:
            stop_engine(spark)
        shutil.rmtree(work, ignore_errors=True)


def stop_engine(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()   # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


if __name__ == "__main__":
    sys.exit(main())
