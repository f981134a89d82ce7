"""Benchmark driver for the sketch engine.

    python3 perfbench/run.py --workload {ingest,serve,incremental,curate} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The benchmark writes the workload's input
from the seed, starts Spark on local[nproc], sets the program up, then runs
a closed loop with one client over round(S / cycle_s) whole cycles of the
workload's op mix (at least one; cycle_s is a cycle's length on a quiet
4-core box, so the loop measures about S seconds there), checking every op
against an exact oracle. The last stdout line is the result JSON; the line before it is
the full report (environment stamp, error rate, tail percentile, and with
--trace 1 the per-module breakdown). See perfbench/README.md.
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
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3
TAIL_PERCENTILES = (99, 95, 90, 75, 50)
WATCHDOG_S = 170.0

E2E_UNITS = {"setup_s": "s", "rows_per_s": "rows/s", "op_s_p50": "s", "op_s_tail": "s",
             "rel_err_over_alpha_max": "ratio", "peak_rss_mb": "MB"}


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    driver JVM and its Python workers), sampled from /proc. Each process
    counts its proportional set size, so pages shared between processes
    (forked Python workers, a JVM mid-fork) count once across the tree."""

    INTERVAL_S = 0.2

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_bytes = 0
        self._stop_evt = threading.Event()

    @staticmethod
    def _tree_pss() -> int:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except OSError:
                    continue
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p and c not in tree]
            tree.update(kids)
            frontier.extend(kids)
        total = 0
        for p in tree:
            try:
                with open(f"/proc/{p}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue  # the process ended between listing and reading
        return total

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_pss())
            self._stop_evt.wait(self.INTERVAL_S)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)
        self.peak_bytes = max(self.peak_bytes, self._tree_pss())


def source_hash() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "sketches_rust_spark")
    for dirpath, dirnames, files in sorted(os.walk(pkg)):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return h.hexdigest()[:16]


def git_sha() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def start_spark(work: str, cores: int):
    from pyspark.sql import SparkSession
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = (SparkSession.builder.master(f"local[{cores}]")
             .appName("perfbench")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.shuffle.partitions", str(2 * cores))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.driver.memory", "1g")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.local.dir", tmp)
             .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
             .config("spark.driver.extraJavaOptions",
                     f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_workers(spark, cores: int) -> None:
    """Start a Python worker per core and run the exchange and Arrow code
    paths once, so the first timed op does not pay for all of JVM warm-up."""
    def echo(batches):
        yield from batches

    def count(pdf):
        return pdf.head(1).assign(id=len(pdf))
    (spark.range(0, 4096, 1, cores).selectExpr("id", "id % 7 AS k")
     .mapInPandas(echo, "id long, k long")
     .groupBy("k").applyInPandas(count, "id long, k long").collect())


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


def percentile(sorted_vals: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    k = max(1, -(-int(p * len(sorted_vals)) // 100))
    return sorted_vals[min(k, len(sorted_vals)) - 1]


def tail(walls: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest of TAIL_PERCENTILES with at least 10
    ops beyond it; the maximum (p100) when there are fewer than 20 ops."""
    s = sorted(walls)
    for p in TAIL_PERCENTILES:
        if len(s) * (100 - p) / 100 >= 10:
            return p, percentile(s, p)
    return 100, s[-1]


def overhead(ops: list[dict], cycle: int) -> float | None:
    """Median over op names of traced / untraced median latency, minus 1,
    leaving out the first (cold) cycle."""
    warm = ops[cycle:]
    ratios = []
    for name in {o["name"] for o in warm}:
        t = [o["wall"] for o in warm if o["name"] == name and o["traced"]]
        u = [o["wall"] for o in warm if o["name"] == name and not o["traced"]]
        if t and u:
            ratios.append(statistics.median(t) / statistics.median(u))
    return statistics.median(ratios) - 1.0 if ratios else None


def run_loop(wl, cycles: int, tracer, deadline: float) -> list[dict]:
    """Closed loop, one client: the next op starts when the previous one has
    returned. Runs ``cycles`` whole cycles of the workload's op mix, so every
    run measures the same ops whatever the host's speed. With a tracer, ops
    alternate traced and untraced, the parity flipping each cycle, and at
    least three cycles run so every op name has both outside the first, cold
    cycle."""
    from oracle import CheckFailed
    from spans import NoTrace
    untraced = NoTrace()
    ops: list[dict] = []
    n_ops = wl.cycle * (max(cycles, 3) if tracer else cycles)
    for i in range(n_ops):
        if time.perf_counter() > deadline:
            raise RuntimeError(f"loop passed its deadline after {i} of {n_ops} ops")
        traced = tracer is not None and (i + i // wl.cycle) % 2 == 0
        op = wl.op(i)
        rec = {"name": op.name, "rows": op.rows, "traced": traced, "ok": False}
        t0 = time.perf_counter()
        try:
            if traced:
                with tracer.span("op", op.name):
                    out = op.run(tracer)
            else:
                out = op.run(untraced)
            rec["wall"] = time.perf_counter() - t0
            op.check(out)
            rec["ok"] = True
        except CheckFailed as e:
            rec["error"] = str(e)
        except Exception as e:  # an op that raises is a failed op; keep measuring
            rec.setdefault("wall", time.perf_counter() - t0)
            rec["error"] = f"{type(e).__name__}: {e}"
            traceback.print_exc(file=sys.stderr)
        ops.append(rec)
    return ops


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("ingest", "serve", "incremental", "curate"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "sketches_rust_spark")):
        print(f"perfbench: no sketches_rust_spark package under {ROOT}", file=sys.stderr)
        return 2
    watchdog = threading.Timer(WATCHDOG_S, lambda: os._exit(3))
    watchdog.daemon = True
    watchdog.start()
    sys.path[:0] = [HERE, ROOT]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    t_run = time.perf_counter()
    deadline = t_run + WATCHDOG_S - 40

    import oracle
    import workloads
    oracle.self_test()
    cores = len(os.sched_getaffinity(0))
    sampler = RssSampler()
    spark = None
    try:
        wl = workloads.WORKLOADS[args.workload](seed=args.seed, work=work)
        inputs = wl.generate()
        sampler.start()
        t0 = time.perf_counter()
        spark = start_spark(work, cores)
        session_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        warm_workers(spark, cores)
        warm_s = time.perf_counter() - t0
        program_setups = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.setup(spark)
            program_setups.append(time.perf_counter() - t0)
        tracer = None
        if args.trace:
            from spans import Tracer
            tracer = Tracer(spark)
        cycles = max(1, round(args.seconds / wl.cycle_s))
        t0 = time.perf_counter()
        ops = run_loop(wl, cycles, tracer, deadline)
        loop_s = time.perf_counter() - t0
        layers = {}
        if tracer is not None:
            from kernels import kernel_pass
            layers = wl.trace_summary(tracer, ops)
            layers.update(kernel_pass(*wl.kernel_inputs()))
        wl.teardown()
    finally:
        if spark is not None:
            stop_spark(spark)
        if sampler.is_alive():
            sampler.stop()
        shutil.rmtree(work, ignore_errors=True)

    walls = [o["wall"] for o in ops]
    failed = sum(not o["ok"] for o in ops)
    tail_p, tail_v = tail(walls)
    e2e = {
        "setup_s": session_s + warm_s + statistics.median(program_setups),
        "rows_per_s": sum(o["rows"] for o in ops) / sum(walls),
        "op_s_p50": statistics.median(walls),
        "op_s_tail": tail_v,
        "rel_err_over_alpha_max": wl.checker.rel_err_max,
        "peak_rss_mb": sampler.peak_bytes / 2**20,
    }
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cycles": cycles,
        "stamp": {
            "nproc": cores, "master": f"local[{cores}]", "inputs": inputs,
            "versions": wl.versions(), "git_sha": git_sha(),
            "source_sha256_16": source_hash(),
        },
        "error_rate": failed / len(ops),
        "errors": sorted({o["error"] for o in ops if not o["ok"]})[:10],
        "op_s_tail_percentile": tail_p, "ops": len(ops),
        "op_s_by_name": {n: statistics.median(o["wall"] for o in ops if o["name"] == n)
                         for n in sorted({o["name"] for o in ops})},
        "quantiles_checked": wl.checker.quantiles_checked,
        "setup": {"session_s": session_s, "warm_s": warm_s, "program_s": program_setups},
        "loop_s": loop_s, "run_s": time.perf_counter() - t_run,
        "end_to_end": e2e,
    }
    if args.trace:
        report["trace_overhead"] = overhead(ops, wl.cycle)
        report["layers"] = layers
        trace_path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
        tracer.dump(trace_path, {"report": report, "ops": ops})
        report["trace_file"] = os.path.relpath(trace_path, ROOT)
        metrics = {k: {"value": v, "unit": workloads.unit_of(k)}
                   for k, v in workloads.per_layer(layers, report["trace_overhead"]).items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps(report, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
