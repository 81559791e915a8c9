#!/usr/bin/env python3
"""Closed-loop benchmark runner for spark_bestfit_spark.

    python3 perfbench/run.py --workload fit_synth --seed 1 \
        --seconds 5 --trace 0

Runs from the root of a checkout. One client sends one op at a time on
``local[<cores>]``. Set-up starts the session, builds the inputs
(tables generated from a fixed seed, written as parquet under
``.perfbench_work/`` and read back) ``SETUP_REPS`` times, and runs the
workload's one-time preparation and ``WARMUP_OPS`` untimed ops;
``setup_s`` is session start + the median build + the warm-up. Then
ops run back to back for ``--seconds`` seconds, and at least
``MIN_OPS`` of them, and every op's output is checked. The last
stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``:

* ``--trace 0``: end-to-end metrics (``setup_s``, ``op_p50_s``,
  ``throughput``, ``driver_peak_rss_mb``);
* ``--trace 1``: per-layer metrics. Every second op (op1, op3, ...)
  runs with layer wrappers installed, the others untraced; Spark's
  event log is on for the whole run. The run is incorrect if a traced
  op's Spark job carries no layer job group.

``spec.json`` describes the workloads and maps each layer metric to the
end-to-end metric it should move.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
HERE = Path(__file__).resolve().parent
SETUP_REPS = 3
# the first op after start-up runs cold (JVM JIT, Python workers) and
# the next few still speed up; two untimed ops put the window past the
# steepest part of that curve
WARMUP_OPS = 2
# a fixed minimum keeps op_p50_s at the same place on the curve however
# fast the host is; ops take 4-10 s, so the window is MIN_OPS ops
MIN_OPS = 2
THREAD_VARS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")


@dataclass
class Context:
    spark: object
    work: Path
    scale: str
    cores: int
    expected: dict
    tracer: object

    def path(self, name: str) -> str:
        return str(self.work / "tables" / name)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input sizes; 'tiny' is for the self-test")
    return p.parse_args(argv)


def _vm_hwm_mb(pid="self") -> float:
    """Peak resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def _reset_peak_rss() -> None:
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def start_spark(args, work: Path, cores: int):
    from spark_bestfit_spark.session import get_spark

    conf = {
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # one input partition per parquet file whatever the core count:
        # seeded samples depend on the partition layout, and the
        # recorded expected outputs must hold on any machine
        "spark.sql.files.openCostInBytes": str(128 << 20),
        "spark.driver.extraJavaOptions":
            f"-Dderby.system.home={work} -Djava.io.tmpdir={work / 'tmp'} "
            "-XX:-UsePerfData",
    }
    for var in THREAD_VARS:
        conf[f"spark.executorEnv.{var}"] = "1"
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        (work / "eventlog").mkdir()
    spark = get_spark(app_name=f"perfbench-{args.workload}",
                      master=f"local[{cores}]", shuffle_partitions=cores,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run_window(wl, ctx, args, tracer, storage):
    """Closed loop: ops back to back until ``args.seconds`` elapse and
    ``MIN_OPS`` ops ran."""
    import numpy as np

    rng = np.random.default_rng(args.seed)
    ops: list = []
    start = time.perf_counter()
    while time.perf_counter() - start < args.seconds or len(ops) < MIN_OPS:
        # a traced run traces every second op, so the untraced ops on
        # either side give trace.overhead_s at the same point of the
        # warm-up curve
        traced = bool(args.trace and len(ops) % 2)
        if traced:
            tracer.install()
            tracer.enabled = True
        tracer.op = f"op{len(ops)}"
        epoch0 = time.time()
        t0 = time.perf_counter()
        try:
            out = wl.op(rng)
            seconds = time.perf_counter() - t0
            label = out["label"]
            problems = wl.check(out)
            units = wl.units(out)
            wl.cleanup(out)
            counts = out.get("counts", {})
        except Exception as exc:  # noqa: BLE001 - a failed op is counted
            seconds = time.perf_counter() - t0
            traceback.print_exc()
            problems, units, counts = [f"raised {exc!r}"], 0, {}
            label = ""
        if traced:
            tracer.enabled = False
            tracer.uninstall()
        print(f"[{wl.name}] {tracer.op} {label} {seconds:.3f} s "
              f"{'traced ' if traced else ''}"
              f"{'ok' if not problems else 'FAILED: ' + '; '.join(problems)}",
              file=sys.stderr)
        ops.append({"op": tracer.op, "seconds": seconds, "ok": not problems,
                    "units": units, "counts": counts,
                    "traced": traced, "epoch": (epoch0, time.time()),
                    "storage": storage() if args.trace else None})
    window = time.perf_counter() - start
    tracer.op = "idle"
    return ops, window


def end_to_end(ops, window, setup_s, rss_mb):
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(o["seconds"] for o in ops), "s"),
        "throughput": (sum(o["units"] for o in ops) / window, "1/s"),
        "driver_peak_rss_mb": (rss_mb, "MB"),
    }


def configure_env(work: Path) -> None:
    """Fresh work directory; single-threaded BLAS/OpenMP in the driver
    and (inherited through the JVM) the Python workers, so task threads
    alone fill the cores."""
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    for var in THREAD_VARS:
        os.environ[var] = "1"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    (work / "tmp").mkdir()
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def main(argv=None) -> int:
    args = parse_args(argv)
    cores = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    configure_env(work)
    try:
        return _run(args, work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work, cores) -> int:
    import numpy as np

    from perfbench import layers
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(WORKLOADS)}")
    expected = json.loads((HERE / "expected.json").read_text())

    t0 = time.perf_counter()
    spark = start_spark(args, work, cores)
    session_s = time.perf_counter() - t0
    try:
        sc = spark.sparkContext
        tracer = Tracer(sc)
        ctx = Context(spark, work, args.scale, cores, expected, tracer)
        wl = WORKLOADS[args.workload](ctx)
        reps = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            wl.build()
            reps.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.prepare()
        warm_rng = np.random.default_rng([1, args.seed])
        for _ in range(WARMUP_OPS):
            wl.cleanup(wl.op(warm_rng))
        warmup_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(reps) + warmup_s

        _reset_peak_rss()
        ops, window = run_window(
            wl, ctx, args, tracer, lambda: layers.storage(sc))
        rss_mb = _vm_hwm_mb()
        jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
        jvm_rss_mb = _vm_hwm_mb(jvm_pid)
    finally:
        t_stop = time.perf_counter()
        _stop_spark(spark)
    print(f"[{args.workload}] session {session_s:.2f} s, builds "
          f"{', '.join(f'{r:.2f}' for r in reps)} s, warm-up {warmup_s:.2f} "
          f"s, window {window:.2f} s, "
          f"stop {time.perf_counter() - t_stop:.2f} s", file=sys.stderr)

    failed = sum(not o["ok"] for o in ops)
    correct = failed == 0
    if args.trace:
        (log_path,) = glob.glob(str(work / "eventlog" / "*"))
        table, ungrouped = layers.per_layer(ops, tracer, log_path, jvm_rss_mb)
        if ungrouped:
            print(f"[{args.workload}] {ungrouped} Spark job(s) of traced ops "
                  "carry no layer job group", file=sys.stderr)
            correct = False
        metrics = table
    else:
        metrics = end_to_end(ops, window, setup_s, rss_mb)
    layers.print_summary(args.workload, ops, metrics, wl.unit, failed)
    print(json.dumps({
        "correct": correct, "attempted": len(ops), "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
