#!/usr/bin/env python3
"""spark-fulltext benchmark: run one workload, print its metrics.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 8 --trace 0

Run from the repository root.  Each run starts its own Spark session at
``local[4]``, generates its inputs from ``--seed``, drives the library
from one closed-loop client, checks sampled results against an
independent path and prints ``name: value unit`` lines followed by one
JSON line.  ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer metrics (spans around the public functions plus Spark
status counters).  Scratch data lives under ``.bench_work/`` and is
removed at exit; trace spans are written to ``.bench_traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PKG_DIR = ROOT / "word_sketch_lucene_spark"
CPUS = 4
DRIVER_MEM = "1g"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest", "sketch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the self-test runs at 0.125)")
    return ap.parse_args(argv)


def pin_env(work: Path, trace: bool) -> dict:
    """Environment knobs the library already reads, pinned per run."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_MASTER": f"local[{CPUS}]",
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "SPARK_UI": "true" if trace else "false",
        # Python workers import the library from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": str(tmp),
    }
    os.environ.update(env)
    return env


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process, from /proc."""
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    return 0.0


def trace_overhead(ctx, tracer, seconds: float = 0.5) -> float:
    """Traced / untraced ops per second, replaying the last timed loop's
    ops (cycled for ``seconds`` per measurement) over the same warm state,
    interleaved twice."""
    from workloads import _call

    log, do, n_ops = ctx.last_loop
    ops = log[:n_ops]

    def rate() -> float:
        n, t0 = 0, time.perf_counter()
        while (dt := time.perf_counter() - t0) < seconds:
            _call(do, *ops[n % len(ops)])
            n += 1
        return n / dt

    tracer.uninstall()
    for kind, q in ops:  # the replay must not pay for cold fetches
        _call(do, kind, q)
    untraced = traced = 0.0
    for _ in range(2):
        tracer.uninstall()
        untraced += rate()
        tracer.install()
        traced += rate()
    return traced / untraced


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched; wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def run(args) -> dict:
    work = ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}"
    env = pin_env(work, bool(args.trace))

    import spans
    import workloads
    from word_sketch_lucene_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        f"perfbench-{args.workload}", master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf={
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
            "spark.driver.bindAddress": "127.0.0.1",
            "spark.driver.host": "127.0.0.1",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    session_s = time.perf_counter() - t0
    try:
        tracer = spans.Tracer() if args.trace else None
        if tracer:
            tracer.install()
        ctx = workloads.Ctx(spark=spark, seed=args.seed, seconds=args.seconds,
                            scale=args.scale, work=work, tracer=tracer)
        workloads.WORKLOADS[args.workload](ctx)
        ctx.phase("end")
        lats = ctx.latencies()
        n_ops = len(lats)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        py_rss, jvm_rss = vm_hwm_mb("self"), vm_hwm_mb(jvm_pid)
        layers = None
        if tracer:
            overhead = trace_overhead(ctx, tracer)
            tracer.uninstall()
            layers = spans.layer_metrics(tracer, spans.spark_status(spark),
                                         n_ops)
            out = ROOT / ".bench_traces"
            out.mkdir(exist_ok=True)
            tracer.dump(out / f"{args.workload}-seed{args.seed}.jsonl")
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        if not any(work.parent.iterdir()):
            work.parent.rmdir()

    setups = [g + b for g, b in zip(ctx.input_gen_s, ctx.base_build_s)]
    e2e = {
        "setup_s": (session_s + statistics.median(setups), "s"),
        "index_bytes_per_text_byte": (ctx.index_bytes_per_text_byte, "ratio"),
        "peak_rss_mb": (py_rss + jvm_rss, "MB"),
    }
    # too unsteady on a shared machine to bound: per-layer metrics
    timings = {
        "op_p50_ms": (1e3 * statistics.median(lats), "ms"),
        "op_p90_ms": (1e3 * workloads.pct(lats, 0.90), "ms"),
        "ops_per_s": (n_ops / ctx.loop_s, "1/s"),
        "index_docs_per_s": (max(ctx.index_docs_per_s), "docs/s"),
    }
    failed_ratio = ctx.failed / max(1, ctx.attempted)
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "scale": args.scale, "env": env, "timed_ops": n_ops,
        "attempted": ctx.attempted, "failed": ctx.failed,
        "failed_ratio": failed_ratio,
        "detail": {**ctx.detail,
                   "session_start_s": (session_s, "s"),
                   "input_gen_s": (ctx.input_gen_s, "s"),
                   "base_build_s": (ctx.base_build_s, "s"),
                   **{f"phase_{k}_s": (v, "s")
                      for k, v in ctx.phase_s.items()},
                   **timings},
        "e2e": e2e,
    }
    if layers is not None:
        layers.update({
            **{k: v for k, (v, _) in timings.items()},
            "session.start_s": session_s,
            "setup.input_gen_s": statistics.median(ctx.input_gen_s),
            "setup.base_build_s": statistics.median(ctx.base_build_s),
            "driver.python_rss_mb": py_rss,
            "driver.jvm_rss_mb": jvm_rss,
            "trace.overhead_ratio": overhead,
            "failed_ratio": failed_ratio,
        })
        report["layers"] = layers
    return report


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (PKG_DIR / "__init__.py").exists():
        print(f"perfbench: library package not found at {PKG_DIR.name}/ "
              "(run from the repository root)", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    rep = run(args)

    print(f"workload: {rep['workload']}  seed: {rep['seed']}  "
          f"seconds: {rep['seconds']}  scale: {rep['scale']}")
    print("env: " + json.dumps(rep["env"], sort_keys=True))
    for name, (v, unit) in {**rep["detail"], **rep["e2e"]}.items():
        v = (" ".join(f"{x:.6g}" for x in v) if isinstance(v, list)
             else f"{v:.6g}")
        print(f"{name}: {v} {unit}")
    print(f"timed_ops: {rep['timed_ops']} count")
    print(f"failed_ratio: {rep['failed_ratio']:.6g} ratio "
          f"({rep['failed']}/{rep['attempted']})")
    if args.trace:
        import spans

        metrics = {k: {"value": rep["layers"][k], "unit": u}
                   for k, u in spans.LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": v, "unit": u}
                   for k, (v, u) in rep["e2e"].items()}
    if args.trace:
        for k, m in metrics.items():
            print(f"{k}: {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": rep["failed"] == 0,
                      "attempted": rep["attempted"], "failed": rep["failed"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
