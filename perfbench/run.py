#!/usr/bin/env python3
"""Seeded forecasting benchmark for anofox_forecast_spark.

    python3 perfbench/run.py --workload batch_sql --seed 1 --seconds 8 --trace 0

Run from the repository root.  Workloads: batch_sql, batch_python,
backtest, interactive (see ``workloads.py``).  ``--trace 0`` prints the
end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced run
(and writes its spans under ``.perfbench_work/traces``).  The last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; the line before it is the full report.

The run pins its own environment and re-executes itself with it: Spark
runs on ``local[<cores>]``, every scratch file (Spark local dirs, temp
files, the compiled C filters, bytecode caches) stays under
``.perfbench_work`` in the repository, and Python workers import the
package from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
PINNED = "PERFBENCH_PINNED"
NAMES = ("batch_sql", "batch_python", "backtest", "interactive")


def pinned_env() -> dict:
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "spark-local")):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env.update({
        PINNED: "1",
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_DRIVER_MEMORY": "2g",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        "PYTHONPYCACHEPREFIX": os.path.join(WORK, "pycache"),
        "TMPDIR": tmp,
        "XDG_CACHE_HOME": os.path.join(WORK, "cache"),
        # every JVM (the launcher's too) keeps its temp files in the work dir
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS":
            "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    })
    env.pop("ANOFOX_NO_CFILTERS", None)
    return env


def parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="engine-busy time the measured loop runs for")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "anofox_forecast_spark",
                                       "__init__.py")):
        print("perfbench: anofox_forecast_spark not found next to perfbench/;"
              " run from a full checkout", file=sys.stderr)
        return 2
    if os.environ.get(PINNED) != "1":
        os.execve(sys.executable,
                  [sys.executable, os.path.abspath(__file__), *argv],
                  pinned_env())
    sys.path[:0] = [ROOT, HERE]
    import harness

    res = harness.execute(args.workload, args.seed, args.seconds,
                          bool(args.trace))
    report = res.pop("report")
    print("report " + json.dumps(report, default=str))
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
