"""Benchmark entry point.

    python3 perfbench/run.py --workload analytic --seed 1 --seconds 20 --trace 0

Runs one workload (``analytic`` or ``cdc_ingest``) from the
root of a checkout, prints every metric by name with its unit, and ends with
one JSON line: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
per-layer ones from a traced run. All files go under ``.perfbench_work/``
in the checkout and are removed at exit. Exits non-zero without a result
when the engine package is not beside this directory.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time

T_START = time.perf_counter()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "projet_data_infrastructure_spark"


def configure_env(work: str, n_cores: int) -> None:
    """Keep every file inside the checkout and pin the engine's parallelism.
    ``ROOT`` (the package, ``bench.py``) and ``tools/`` (``check_oracle``)
    become importable."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM, the spark-submit launcher included: no /tmp/hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # Python workers import the package and the benchmark modules.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_GRAFT_CPUS"] = str(n_cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    import tempfile

    tempfile.tempdir = tmp
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]


def stop_jvm() -> None:
    """End the py4j gateway JVM and wait for it (it exits on stdin EOF)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("analytic", "cdc_ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs (sf0.001 star schema, small CDC feed, no CDC warm-up)")
    ap.add_argument("--inject", choices=("corrupt_hash", "drop_batch"),
                    help="fault for the self-tests: a wrong expected hash, or a lost feed file")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    configure_env(work, len(os.sched_getaffinity(0)))
    from perfbench import harness

    cfg = harness.Config(args.workload, args.seed, args.seconds, bool(args.trace), work,
                         corrupt_hash=args.inject == "corrupt_hash",
                         drop_batch=args.inject == "drop_batch")
    if args.smoke:
        cfg.scale, cfg.cdc_keys, cfg.cdc_batch, cfg.cdc_warmup = 0.001, 2000, 500, 0
    try:
        res = harness.Bench(cfg).run()
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))
    res.notes["run_wall_s"] = time.perf_counter() - T_START
    print_result(res)
    return 0


def print_result(res) -> None:
    for key, val in res.notes.items():
        print(f"# {key}: {val}")
    for name, (value, unit) in res.metrics.items():
        print(f"{name} {value:.6g} {unit}")
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in res.metrics.items()},
    }))


if __name__ == "__main__":
    sys.exit(main())
