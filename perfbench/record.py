#!/usr/bin/env python3
"""Record the expected op outputs into ``perfbench/expected.json``.

    python3 perfbench/record.py

Runs every op variant of every workload once at both scales, through
the workloads' own code, and stores the outputs the runner's checks
compare against.
Record on a commit whose outputs are trusted; a change that alters a
recorded output must say so.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from pathlib import Path
from types import SimpleNamespace

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench import run  # noqa: E402


def record_fit_synth(wl) -> dict:
    out = {"fit": {}}
    results, _ = wl.fit(wl.METRICS[0])
    for metric in wl.METRICS:
        best = results.best(metric=metric)
        out["fit"][metric] = {"winner": best.distribution,
                              "value": float(getattr(best, metric))}
    results.unpersist()
    wl.fit_marginals()
    copula, _ = wl.synthesize(10_000, 1)
    out["corr"] = copula.correlation.tolist()
    out["marginals"] = {c: m.distribution
                        for c, m in copula.marginals.items()}
    return out


def record_neardup(wl) -> dict:
    return {str(k): {"counts": wl._pass(wl._slice(k))}
            for k in range(wl.SLICES)}


RECORDERS = {"fit_synth": record_fit_synth, "neardup": record_neardup}


def main() -> int:
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    path = run.HERE / "expected.json"
    expected: dict = {}
    cores = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench_work" / f"record-{os.getpid()}"
    run.configure_env(work)
    spark = run.start_spark(SimpleNamespace(workload="record", trace=0),
                            work, cores)
    try:
        for scale in ("tiny", "full"):
            for name, recorder in RECORDERS.items():
                ctx = run.Context(spark, work, scale, cores, expected,
                                  Tracer(spark.sparkContext))
                wl = WORKLOADS[name](ctx)
                wl.build()
                expected.setdefault(name, {})[scale] = recorder(wl)
                print(f"recorded {name} at {scale}", flush=True)
    finally:
        run._stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    path.write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
