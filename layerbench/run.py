"""Layered benchmark for xorf-spark.

    python3 layerbench/run.py --workload build_corpus --seed 1 \
        --seconds 16 --trace 0

Run from the repository root. Generates the workload's inputs from
``--seed``, sets up, runs a fixed number of warm-up ops, then measures ops
for ``--seconds`` seconds (or a fixed set of ops sized from it) and checks
every op. Prints a detail record (one
JSON line) and, as the last line, the result:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics of BENCHMARK.json, ``--trace 1`` the per-layer ones.
Scratch files live under ``.bench_work/`` and are removed on exit. On
every way out, a SIGTERM included, Spark's JVM and the Python workers it
started are ended and waited for.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 3
HEAP = "1536m"
SETUP_REPS = 9
DRIFT_LIMIT = 0.10      # window halves further apart than this: drifting
MAX_FAILURES = 3
RUN_DEADLINE_S = 150    # stop measuring early rather than overrun


@dataclass
class Context:
    spark: object
    tracer: object
    work: str
    cores: int
    seconds: float


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _tail(xs: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it."""
    n = len(xs)
    if n < 11:
        return {"percentile": None, "value": None, "samples": n}
    s = sorted(xs)
    return {"percentile": round(100.0 * (n - 10) / n, 2),
            "value": s[n - 11], "samples": n}


def _drift(times: list[float]) -> dict:
    half = len(times) // 2
    if half == 0:
        return {"first_half_p50": None, "second_half_p50": None,
                "drift": None, "drifting": False}
    a, b = _median(times[:half]), _median(times[-half:])
    d = (b - a) / a
    return {"first_half_p50": a, "second_half_p50": b, "drift": round(d, 4),
            "drifting": abs(d) > DRIFT_LIMIT}


def start_spark(work: str):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("xorf-layerbench")
        # a fixed, pre-touched heap: the JVM's resident memory no longer
        # depends on when G1 decides to grow the heap, so peak memory moves
        # only with what is allocated outside it (Python workers, the
        # driver, off-heap buffers)
        .config("spark.driver.memory", HEAP)
        .config("spark.sql.shuffle.partitions", str(2 * CORES))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Xms{HEAP} -XX:+AlwaysPreTouch")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    from xorf_spark.dataflow import ship_package

    ship_package(spark)
    return spark


def stop_jvm() -> None:
    """End the gateway JVM that pyspark started and everything below it
    (Python workers), and wait until each process has ended. The JVM
    exits when its stdin closes; left to itself it would do so only after
    this process has exited."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    from layerbench.host import descendants, end_processes

    # taken while the JVM lives: once it ends, its children are reparented
    procs = descendants()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None and proc.stdin is not None:
        proc.stdin.close()
    signalled = end_processes(procs)
    if proc is not None:
        proc.wait()
    if signalled:
        print(f"[layerbench] had to signal {len(signalled)} process(es) "
              f"to end them", file=sys.stderr)


def measure(w, seconds: float, t_start: float) -> dict:
    from layerbench.host import RssSampler, StealMeter
    from layerbench.workloads import MIN_WINDOW_OPS, OpFailed

    attempted = failed = 0
    i = 0

    def attempt():
        nonlocal attempted, failed, i
        attempted += 1
        i += 1
        try:
            return w.op(i - 1)
        except OpFailed as e:
            print(f"[layerbench] op {i - 1} failed its check: {e}",
                  file=sys.stderr)
        except Exception:  # noqa: BLE001 - an op's error counts as a failure
            traceback.print_exc()
        failed += 1
        return None

    with RssSampler() as rss:
        warm = [attempt() for _ in range(w.warmup_ops)]
        steal = StealMeter()
        steal.start()
        window: list[dict] = []
        ws = time.perf_counter()

        def more() -> bool:
            if w.window_ops is not None:
                return attempted < w.warmup_ops + w.window_ops
            return (time.perf_counter() - ws < seconds
                    or len(window) < MIN_WINDOW_OPS)

        while failed < MAX_FAILURES and more():
            if time.perf_counter() - t_start > RUN_DEADLINE_S:
                print("[layerbench] run deadline reached", file=sys.stderr)
                break
            rec = attempt()
            if rec is not None:
                window.append(rec)
        we = time.perf_counter()
        steal_window = steal.stop()
        w.close()
    readers = [x for r in window for x in r.get("readers", ())]
    readers += [r for r in w.reader_ops if r["t0"] >= ws and r["t1"] <= we]
    failed += w.reader_failed
    attempted += len(w.reader_ops) + w.reader_failed + sum(
        len(r.get("readers", ())) for r in warm + window if r is not None)
    return {"warm": warm,
            "window": window, "readers": readers,
            "steal_during_window": steal_window,
            "window_s": we - ws, "peak_rss_mb": rss.peak_kb / 1024.0,
            "peak_procs_mb": [round(k / 1024.0) for k in rss.peak_procs],
            "attempted": attempted, "failed": failed}


def end_to_end(m: dict, setup_s: float) -> dict:
    ops = m["window"]
    op_s = [r["op_s"] for r in ops]
    # a build on the library defaults, where the workload runs one
    bits = [r["default_bits_per_entry"] for r in m["warm"]
            if r and "default_bits_per_entry" in r]
    return {
        "setup_s": setup_s,
        "op_s_p50": _median(op_s),
        "keys_per_s": sum(r["keys"] for r in ops) / max(sum(op_s), 1e-9),
        "peak_rss_mb": m["peak_rss_mb"],
        "bits_per_entry": _median(
            bits or [r["bits_per_entry"] for r in ops]),
        "fpp": _median([r["fpp"] for r in m["readers"]]),
        "reader_op_s_p50": _median([r["op_s"] for r in m["readers"]]),
    }


def per_layer(m: dict, names: list[str], overhead_s: float) -> dict:
    ops = m["window"]
    out = {}
    for name in names:
        src = m["readers"] if name.startswith("dataflow.probe.") else ops
        vals = [r["layers"].get(name, r["counts"].get(name, 0.0))
                for r in src if "layers" in r]
        out[name] = _median(vals)
    walls = sum(r["op_s"] for r in ops + m["readers"])
    out["trace.overhead_frac"] = overhead_s / max(walls, 1e-9)
    return out


def run(args, work: str) -> tuple[dict, dict]:
    import numpy as np

    from layerbench.host import cotenant_cpu
    from layerbench.trace import Tracer
    from layerbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    # sampled before anything of ours runs: load that is not ours
    host = cotenant_cpu()
    t_start = time.perf_counter()
    spark = start_spark(work)
    spark_start_s = time.perf_counter() - t_start
    tracer = Tracer(spark, enabled=bool(args.trace))
    w = WORKLOADS[args.workload](
        Context(spark, tracer, work, CORES, args.seconds))
    try:
        # inputs and expected answers: the benchmark's own work, untimed
        t0 = time.perf_counter()
        w.write_inputs(np.random.default_rng(args.seed),
                       os.path.join(work, "inputs"))
        inputs_s = time.perf_counter() - t0
        # set-up: the one-time work before the first op, done afresh
        # SETUP_REPS times; the ops run on the last repetition
        reps = []
        for r in range(SETUP_REPS):
            w.close()
            t0 = time.perf_counter()
            w.prepare(r)
            reps.append(time.perf_counter() - t0)
        w.prepare_checks(np.random.default_rng(args.seed + 1))
        m = measure(w, args.seconds, t_start)
    finally:
        try:
            w.close()
        finally:
            spark.stop()
    setup_s = _median(reps)
    op_s = [r["op_s"] for r in m["window"]]
    detail = {
        "workload": w.name, "seed": args.seed, "trace": args.trace,
        "cores": CORES, "spark_start_s": spark_start_s,
        "inputs_s": inputs_s, "setup_reps_s": reps,
        "warmup_op_s": [r["op_s"] if r else None for r in m["warm"]],
        "default_bits_per_entry": [r["default_bits_per_entry"]
                                   for r in m["warm"]
                                   if r and "default_bits_per_entry" in r],
        "window_op_s": op_s,
        "window_s": m["window_s"], "window": _drift(op_s),
        "op_tail": _tail(op_s),
        "reader_op_s": [r["op_s"] for r in m["readers"]],
        "reader_tail": _tail([r["op_s"] for r in m["readers"]]),
        "peak_procs_mb": m["peak_procs_mb"],
        "host": dict(host, steal_during_window=m["steal_during_window"]),
    }
    if detail["window"]["drifting"]:
        print(f"[layerbench] window still drifting: {detail['window']}",
              file=sys.stderr)
    if args.trace:
        names = [x["name"] for x in spec["per_layer"]]
        values = per_layer(m, names, tracer.overhead_s)
        units = {x["name"]: x["unit"] for x in spec["per_layer"]}
        detail["traced_op_s_p50"] = _median(op_s)
    else:
        values = end_to_end(m, setup_s)
        units = {x["name"]: x["unit"] for x in spec["end_to_end"]}
    result = {
        "correct": m["failed"] == 0 and len(m["window"]) > 0,
        "attempted": max(m["attempted"], 1), "failed": m["failed"],
        "metrics": {k: {"value": float(values[k]), "unit": units[k]}
                    for k in units},
    }
    return detail, result


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import xorf_spark  # noqa: F401
        from layerbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"[layerbench] cannot import the library: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"[layerbench] unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    # the library and Spark write temp files; keep them in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # a SIGTERM unwinds like an error, so the JVM is still ended below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        detail, result = run(args, work)
    finally:
        try:
            stop_jvm()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
