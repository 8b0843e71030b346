"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload serve_graph2 --seed 1 --seconds 30 --trace 0

Run it from the root of a checkout that holds the engine package
(`cs598vectordb_spark/`). Inputs are generated from `--seed`; scratch
files live under `perfbench/.work/` and are removed at exit, except the
span file a traced run leaves in `perfbench/.work/traces/`. See
perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "cs598vectordb_spark"


def _configure_env(work: str) -> None:
    """Point every scratch location of Spark, the JVM and Python at
    `work`, and let Spark's Python workers import the package from the
    checkout whatever their working directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    local = os.path.join(work, "spark-local")
    os.environ["SPARK_LOCAL_DIRS"] = local  # wins over spark.local.dir when set
    confs = {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads per-request task metrics back from the
        # status store; keep every job of a run
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    args = [f"--conf {k}={v}" for k, v in confs.items()]
    # no hsperfdata files: the JVM writes them under /tmp whatever tmpdir is
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    args.append(f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args) + " pyspark-shell"


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ package next to perfbench/", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    _configure_env(work)
    sys.path.append(ROOT)

    from harness import Bench

    bench = Bench(args, work)
    try:
        result = WORKLOADS[args.workload](bench)
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
