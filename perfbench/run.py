"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_embed --seed 1 --seconds 25 --trace 0

Runs one workload against the package in the checkout that holds this
directory, checks its outputs, prints each metric by name with its unit,
and prints as its last line one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` runs the traced per-layer suite instead
and writes its spans under ``.perfbench/traces/``.  Exits non-zero when an
output check fails or the package cannot be imported.

Everything it writes stays under ``.perfbench/`` in the checkout; the
per-run work directory (corpus parquet, Spark scratch space) is removed at
exit, and the JVM it launches is stopped and waited for.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "2g"  # the session's 32g default does not fit a small box


def _stop_spark() -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — any wait failure: force it
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    t_start = time.perf_counter()
    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, f"run-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    sys.path.insert(0, ROOT)

    try:
        from perfbench import workloads

        if args.workload not in workloads.WORKLOADS:
            p.error(f"unknown workload {args.workload!r}; choose from "
                    f"{sorted(workloads.WORKLOADS)}")
        result = workloads.run(
            args.workload, args.seed, args.seconds, bool(args.trace), work,
            os.path.join(state, "traces"),
        )
    finally:
        if "pyspark" in sys.modules:
            _stop_spark()
        shutil.rmtree(work, ignore_errors=True)

    info = result.pop("info")
    info.update(versions())
    info["wall_s"] = round(time.perf_counter() - t_start, 2)
    print("info " + json.dumps(info, sort_keys=True))
    for name, m in result["metrics"].items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(f"error_rate {info['error_rate']:.6g} fraction")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def versions() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {"pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__, "python": sys.version.split()[0]}


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
