#!/usr/bin/env python3
"""Reads the benchmark's trace and result files.

    python3 perfbench/read_trace.py .perfbench_work/traces/batch_sql_seed1.json
        per-layer self time of the traced run, and its tracing overhead
    python3 perfbench/read_trace.py --compare A.json B.json
        two result or trace files side by side; refused (exit 2) when they
        ran on a different core count or one had the C filters and the
        other not
    python3 perfbench/read_trace.py --targets
        the end-to-end metric and workload each per-layer metric should move
"""

from __future__ import annotations

import json
import os
import statistics
import sys

from tracing import load_spans, self_times

MEASURED_ROOTS = ("request", "probe", "batched.noop")


def layer_table(path: str) -> None:
    doc, spans = load_spans(path)
    selft = self_times(spans)
    by_id = {s.id: s for s in spans}

    def root(s):
        while s.parent is not None:
            s = by_id[s.parent]
        return s.name

    rows: dict[str, list] = {}
    for s in spans:
        r = root(s)
        if r in MEASURED_ROOTS or r == "setup":
            rows.setdefault(s.name, []).append((s.duration, selft[s.id], r))
    req_total = sum(d for d, _, r in rows.get("request", []))
    print(f"{doc['workload']} seed {doc['seed']}  ({path})")
    print(f"{'span':<22}{'n':>4}{'median s':>11}{'self med s':>12}"
          f"{'self total s':>14}{'% of requests':>15}")
    for name, vals in sorted(rows.items(), key=lambda kv: -sum(
            v[1] for v in kv[1])):
        own = [v for v in vals if v[2] == "request"] or vals
        tot = sum(v[1] for v in vals if v[2] == "request")
        pct = f"{100 * tot / req_total:.1f}" if req_total and tot else "-"
        print(f"{name:<22}{len(own):>4}"
              f"{statistics.median(v[0] for v in own):>11.4f}"
              f"{statistics.median(v[1] for v in own):>12.4f}"
              f"{sum(v[1] for v in own):>14.4f}{pct:>15}")
    u, t = doc["untraced"]["req_p50_s"], doc["traced"]["req_p50_s"]
    print(f"tracing overhead: median request {u:.4f} s untraced, "
          f"{t:.4f} s traced ({100 * doc['overhead_frac']:+.1f}%)")


def _provenance(doc: dict) -> dict:
    return doc.get("report", doc)["provenance"]


def compare(a_path: str, b_path: str) -> int:
    docs = []
    for p in (a_path, b_path):
        with open(p) as fh:
            docs.append(json.load(fh))
    pa, pb = (_provenance(d) for d in docs)
    for key in ("cores", "cfilters_loaded"):
        if pa[key] != pb[key]:
            print(f"refusing to compare: {key} differs "
                  f"({pa[key]} vs {pb[key]})", file=sys.stderr)
            return 2
    ma, mb = (d.get("metrics") or d.get("per_layer") for d in docs)
    print(f"{'metric':<36}{'A':>14}{'B':>14}{'B/A':>8}  unit")
    for k in ma:
        if k in mb:
            a, b = ma[k]["value"], mb[k]["value"]
            ratio = f"{b / a:.3f}" if a else "-"
            print(f"{k:<36}{a:>14.5g}{b:>14.5g}{ratio:>8}  {ma[k]['unit']}")
    return 0


def main(argv: list[str]) -> int:
    if argv == ["--targets"]:
        sys.path.insert(0, os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))))
        from layers import TARGETS
        for k, (metric, workload) in TARGETS.items():
            print(f"{k:<36} -> {metric} on {workload}")
        return 0
    if len(argv) == 3 and argv[0] == "--compare":
        return compare(argv[1], argv[2])
    if len(argv) == 1:
        layer_table(argv[0])
        return 0
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
