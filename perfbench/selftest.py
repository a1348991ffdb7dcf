#!/usr/bin/env python3
"""Self-test of the benchmark: a tiny run of all four workloads.

    python3 perfbench/selftest.py

Checks that every metric named in BENCHMARK.json is printed with its unit
(end-to-end untraced, per-layer traced), that a planted fault (yhat + 1
on one series) is caught and counted as a failed request, and that the
traced spans nest inside their parents.  Exits 1 on any problem.
"""

from __future__ import annotations

import json
import os
import sys

from run import HERE, PINNED, ROOT, pinned_env

TINY_SERIES = 16     # below checks.N_REF: every series is replayed


def main() -> int:
    if os.environ.get(PINNED) != "1":
        os.execve(sys.executable, [sys.executable, os.path.abspath(__file__)],
                  pinned_env())
    sys.path[:0] = [ROOT, HERE]
    import harness
    import workloads
    from anofox_forecast_spark.session import get_spark
    from tracing import load_spans, nesting_errors

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    want = {"0": {m["name"]: m["unit"] for m in bench["end_to_end"]},
            "1": {m["name"]: m["unit"] for m in bench["per_layer"]}}
    problems = []
    spark = get_spark(app_name="perfbench-selftest")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        for name, wl in workloads.WORKLOADS.items():
            scale = TINY_SERIES / wl.spec.series
            for trace in (0, 1):
                res = harness.execute(name, 7, 0.1, bool(trace), scale,
                                      spark=spark)
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                if got != want[str(trace)]:
                    problems.append(f"{name} trace={trace}: metrics "
                                    f"{sorted(set(got) ^ set(want[str(trace)]))}"
                                    " missing or extra, or units differ")
                if not res["correct"]:
                    problems.append(f"{name} trace={trace}: "
                                    f"{res['report'].get('summary', {})}")
                if trace:
                    _, spans = load_spans(os.path.join(
                        ROOT, res["report"]["trace_file"]))
                    problems += [f"{name}: {e}" for e in nesting_errors(spans)]
            res = harness.execute(name, 7, 0.1, False, scale, perturb=True,
                                  spark=spark)
            if res["failed"] < 1:
                problems.append(f"{name}: planted fault not caught")
            print(f"{name}: ok so far" if not problems else f"{name}: "
                  f"{len(problems)} problem(s)", flush=True)
    finally:
        harness.shutdown(spark)
    for p in problems:
        print("FAIL", p)
    print("selftest", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
