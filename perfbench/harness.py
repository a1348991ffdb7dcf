"""Runs one workload: set-up, the measured closed loop, an output check on
every request, and the end-to-end (or, traced, the per-layer) metrics."""

from __future__ import annotations

import json
import os
import platform
import shutil
import signal
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import checks as C
import gen
import hostspeed
import layers as L
import workloads as W
from tracing import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
LOOP_DEADLINE_S = 100.0   # no measured request starts later into a run
TAIL_BEYOND = 10          # samples a tail percentile must have beyond it
TAIL_LADDER = [99.9, 99.0] + [float(q) for q in range(95, 45, -5)]


@dataclass
class Ctx:
    spark: object
    wl: W.Workload
    panel: gen.Panel
    work: str
    tracer: Tracer
    perturb: bool = False
    meter: hostspeed.Meter | None = None


@dataclass
class Outcome:
    label: str
    wall: float
    series: int
    errors: list[str] = field(default_factory=list)


# ---------------------------------------------------------------------------
# one request
# ---------------------------------------------------------------------------

def run_plain(ctx: Ctx, req: W.Req, rid: str):
    """The request as a user runs it: one lazy plan, then its sink."""
    t0 = time.perf_counter()
    df = W.full_df(ctx.spark, ctx.wl, ctx.panel, req)
    out: dict = {}
    if req.kind == "backtest":
        out["bt"] = os.path.join(ctx.work, "out")
        df.write.mode("overwrite").parquet(out["bt"])
        bt = ctx.spark.read.parquet(out["bt"])
        out.update(W.error_metrics(bt), conf=W.conformal_df(bt).toPandas())
    elif ctx.wl.collect:
        out["out"] = df.toPandas()
    else:
        out["out"] = os.path.join(ctx.work, "out")
        df.write.mode("overwrite").parquet(out["out"])
    return time.perf_counter() - t0, out


def check(ctx: Ctx, req: W.Req, out: dict, rng) -> list[str]:
    if req.kind == "backtest":
        return C.check_backtest(out["bt"], out, req, ctx.panel, rng)
    if req.kind == "stats":
        return C.check_stats(out["out"], req, ctx.panel, rng)
    if req.kind == "single":
        return C.check_single(out["out"], req, ctx.panel)
    return C.check_forecast(out["out"], req, ctx.panel, rng)


def one_request(ctx: Ctx, steps: tuple[W.Req, ...], rid: str, traced: bool,
                rng) -> Outcome:
    """Run a request's steps back to back; its wall time is theirs summed,
    each step's output is checked outside the timed region."""
    runner = L.run_traced if traced else run_plain
    label = "+".join(f"{r.kind}/{r.model}" for r in steps)
    wall, errs = 0.0, []
    for j, req in enumerate(steps):
        t0 = time.perf_counter()
        try:
            dt, out = runner(ctx, req, f"{rid}.{j}")
        except Exception as exc:  # noqa: BLE001 — a failed request is counted
            # its time still counts as engine-busy, so a failing mix ends
            return Outcome(label, wall + time.perf_counter() - t0, 0,
                           [f"{req.model} raised {type(exc).__name__}: "
                            f"{str(exc)[:300]}"])
        wall += dt
        try:
            out = {k: pd.read_parquet(v) if isinstance(v, str) else v
                   for k, v in out.items()}
            if ctx.perturb:
                ctx.perturb = False
                out = C.perturb(out)
            errs += check(ctx, req, out, rng)
        except Exception as exc:  # noqa: BLE001 — a crashing check fails
            errs.append(f"check raised {type(exc).__name__}: "
                        f"{str(exc)[:300]}")
    return Outcome(label, wall, len(steps[0].series(ctx.panel)), errs)


def measure(ctx: Ctx, rngs, seconds: float, traced: bool, tag: str,
            deadline: float) -> list[Outcome]:
    """Closed loop, one client: whole cycles of the request mix, stopping
    at the cycle boundary nearest to ``seconds`` of engine-busy time.  Past
    ``deadline`` (monotonic time) no further request starts, so a run that
    slows down still ends within its time limit."""
    cyc, chk = rngs
    outs: list[Outcome] = []
    busy = 0.0
    while True:
        start = busy
        for steps in ctx.wl.cycle(cyc, ctx.panel):
            if outs and time.monotonic() >= deadline:
                return outs
            if ctx.meter is not None:
                ctx.meter.sample()
            o = one_request(ctx, steps, f"{tag}{len(outs)}", traced, chk)
            outs.append(o)
            busy += o.wall
        # stop at the cycle boundary nearest to ``seconds``
        if busy + (busy - start) / 2 >= seconds:
            return outs


def summarize(outs: list[Outcome]) -> dict:
    ok = [o for o in outs if not o.errors]
    walls = sorted(o.wall for o in ok)
    busy = sum(o.wall for o in outs) or float("nan")
    tail = next(((q, float(np.percentile(walls, q))) for q in TAIL_LADDER
                 if len(walls) * (1 - q / 100.0) >= TAIL_BEYOND), None)
    return {
        "attempted": len(outs),
        "failed": len(outs) - len(ok),
        "samples": len(walls),
        "req_p50_s": statistics.median(walls) if walls else float("nan"),
        "req_tail": ({"percentile": tail[0], "value": tail[1]}
                     if tail else None),
        "series_per_s": sum(o.series for o in ok) / busy,
        "req_per_s": len(ok) / busy,
        "fail_frac": (len(outs) - len(ok)) / max(len(outs), 1),
        "requests": [[o.label, o.wall] for o in outs],
        "errors": [f"{o.label}: {e}"
                   for o in outs for e in o.errors][:10],
    }


# ---------------------------------------------------------------------------
# set-up, processes and provenance
# ---------------------------------------------------------------------------

def _timed(tr: Tracer, name: str, fn):
    with tr.span(name) as sp:
        value = fn()
    return value, sp.duration


def setup(wl: W.Workload, seed: int, work: str, scale: float, traced: bool,
          tr: Tracer, spark=None):
    """Session start, cfilters load, input generation and warm-up: each
    distinct shape of the request mix (plan and model) runs once, then half
    a cycle runs alone, before anything is timed.  The warm-up uses the
    real panel: on a small one the JVM's JIT and heap growth were still
    pending and the first timed requests ran up to twice as long."""
    from anofox_forecast_spark import sources
    from anofox_forecast_spark.session import get_spark

    # every request pays its own scan, as a user's job does
    sources.enable_source_cache(False)
    for sub in ("input", "warm", "stage", "probe", "out"):
        shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
    phases = {}
    started = spark is None
    with tr.span("setup", request="setup"):
        if started:
            spark, phases["session"] = _timed(tr, "session.start", lambda: (
                get_spark(app_name="perfbench")))
            spark.sparkContext.setLogLevel("ERROR")
        else:
            phases["session"] = 0.0
        try:
            lib, panel = _prepare(wl, seed, work, scale, traced, tr, spark,
                                  phases)
        except BaseException:
            if started:
                shutdown(spark)
            raise
    phases["total"] = sum(phases.values())
    return spark, lib is not None, panel, phases


def _prepare(wl: W.Workload, seed: int, work: str, scale: float,
             traced: bool, tr: Tracer, spark, phases: dict):
    """The set-up after session start: cfilters, inputs and warm-up."""
    from anofox_forecast_spark.functions import cfilters

    lib, phases["cfilters"] = _timed(tr, "cfilters.load", cfilters.get_lib)
    panel, phases["gen"] = _timed(tr, "gen.inputs", lambda: gen.generate(
        wl.spec.scaled(scale), seed, os.path.join(work, "input")))
    shapes = {}
    for steps in wl.cycle(np.random.default_rng([seed, 0]), panel):
        for req in steps:
            shapes.setdefault(req.shape, req)
    reqs = list(shapes.values())

    def warm(i: int) -> None:
        # each shape writes to its own directory: shapes run concurrently
        ctx = Ctx(spark, wl, panel, os.path.join(work, "warm", str(i)),
                  Tracer())
        for traced_shape in (False, True) if traced else (False,):
            one_request(ctx, (reqs[i],), f"warm{i}", traced_shape,
                        np.random.default_rng([seed, 0, i]))

    def warm_up() -> None:
        # every shape once, side by side, compiles each plan and starts the
        # Python workers; then half a cycle alone lets the JIT settle:
        # without it the first timed cycle ran 20-40% slow, by an amount
        # that differed from run to run more than any other part of it
        with ThreadPoolExecutor(max(1, min(4, len(reqs)))) as pool:
            for f in [pool.submit(warm, i) for i in range(len(reqs))]:
                f.result()
        ctx = Ctx(spark, wl, panel, os.path.join(work, "warm", "settle"),
                  Tracer())
        cycle = wl.cycle(np.random.default_rng([seed, 0]), panel)
        for steps in cycle[:max(1, len(cycle) // 2)]:
            one_request(ctx, steps, "settle", False,
                        np.random.default_rng([seed, 0]))

    _, phases["warmup"] = _timed(tr, "warmup", warm_up)
    return lib, panel


def _ppid_map() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    out[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    return out


def descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for p, pp in _ppid_map().items():
        kids.setdefault(pp, []).append(p)
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def peak_rss_mb(skip: set[int]) -> float:
    """Sum of VmHWM over this process, the JVM and the Python workers (not
    the processes in ``skip``)."""
    total = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        if pid in skip:
            continue
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait for every process they
    started to end."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()    # the JVM exits at EOF on its stdin
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — fall through to the kill below
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in kids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in kids:
        if _alive(p):
            os.kill(p, signal.SIGKILL)


def _git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if not ref.startswith("ref: "):
            return ref
        name = ref[5:]
        path = os.path.join(ROOT, ".git", name)
        if os.path.exists(path):
            with open(path) as fh:
                return fh.read().strip()
        with open(os.path.join(ROOT, ".git", "packed-refs")) as fh:
            for line in fh:
                if line.rstrip().endswith(" " + name):
                    return line.split()[0]
    except OSError:
        pass
    return None


def provenance(spark, loaded: bool, panel: gen.Panel) -> dict:
    import hashlib

    import pyspark

    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "anofox_forecast_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith((".py", ".c")):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    sc = spark.sparkContext
    return {
        "cores": sc.defaultParallelism,
        "master": sc.master,
        "cfilters_loaded": loaded,
        "pyspark": pyspark.__version__,
        "java": sc._jvm.System.getProperty("java.version"),
        "numpy": np.__version__,
        "python": platform.python_version(),
        "commit": _git_commit(),
        "source_sha256": h.hexdigest()[:16],
        "input_hash": panel.content_hash,
    }


# ---------------------------------------------------------------------------
# a whole run
# ---------------------------------------------------------------------------

def execute(name: str, seed: int, seconds: float, trace: bool,
            scale: float = 1.0, perturb: bool = False, spark=None) -> dict:
    """Run workload ``name``; returns ``correct``/``attempted``/``failed``,
    the metrics for the mode, and a full report.  A ``spark`` passed in is
    reused and left running (the self-test); otherwise the run owns its
    session and stops it."""
    deadline = time.monotonic() + LOOP_DEADLINE_S
    wl = W.WORKLOADS[name]
    work = os.path.join(WORK, name)
    tr = Tracer()
    own = spark is None
    meter = hostspeed.Meter()
    try:
        meter.sample()
        spark, loaded, panel, phases = setup(wl, seed, work, scale, trace,
                                             tr, spark)
        meter.sample()
    except BaseException:
        meter.close()
        raise
    ctx = Ctx(spark, wl, panel, work, tr, perturb, meter)
    rngs = (np.random.default_rng([seed, 1]), np.random.default_rng([seed, 2]))
    try:
        # the traced run halves both loops to stay within its time limit
        plain = measure(ctx, rngs, seconds / 2 if trace else seconds, False,
                        "r", deadline)
        report = {"workload": name, "seed": seed, "seconds": seconds,
                  "setup": phases,
                  "provenance": provenance(spark, loaded, panel)}
        if trace:
            traced = measure(ctx, rngs, seconds / 2, True, "t", deadline)
            outs = plain + traced
            metrics = _trace_metrics(ctx, tr, seed, phases, loaded,
                                     plain, traced, report)
        else:
            outs = plain
            report["rss_mb"] = peak_rss_mb(meter.pids)
            metrics = _e2e_metrics(summarize(plain), phases, meter, report)
    finally:
        meter.close()
        if own:
            shutdown(spark)
    failed = sum(1 for o in outs if o.errors)
    result = {"correct": failed == 0, "attempted": len(outs),
              "failed": failed, "metrics": metrics}
    _save(os.path.join(WORK, "results", f"{name}_seed{seed}_trace{int(trace)}"
                                        ".json"), {**result, "report": report})
    result["report"] = report
    return result


def _e2e_metrics(s: dict, phases: dict, meter: hostspeed.Meter,
                 report: dict) -> dict:
    """The end-to-end metrics at reference host speed; the report keeps
    the wall-clock figures."""
    f = meter.factor()
    report["summary"] = s
    report["host"] = {"loop_s": meter.loop_s(), "factor": f,
                      "samples": len(meter.loops)}
    return {
        "setup_s": {"value": phases["total"] * f, "unit": "s"},
        "req_p50_s": {"value": s["req_p50_s"] * f, "unit": "s"},
        "series_per_s": {"value": s["series_per_s"] / f, "unit": "1/s"},
        "req_per_s": {"value": s["req_per_s"] / f, "unit": "1/s"},
    }


def _trace_metrics(ctx: Ctx, tr: Tracer, seed: int, phases: dict,
                   loaded: bool, plain, traced, report: dict) -> dict:
    missing = set(L.TIMED) - {s.name for s in tr.spans}
    L.probe_layers(ctx, missing)
    noop = L.probe_batched(ctx)
    ms, model_fail = L.probe_models(ctx, np.random.default_rng([seed, 3]))
    sp, st = summarize(plain), summarize(traced)
    overhead = st["req_p50_s"] / sp["req_p50_s"] - 1.0
    metrics = L.layer_metrics(tr, phases, ms, model_fail, noop,
                              ctx.spark.sparkContext.defaultParallelism,
                              overhead, loaded)
    # peak RSS varied by more than a tenth between seeds: a per-layer figure
    metrics["peak_rss_mb"] = {"value": peak_rss_mb(ctx.meter.pids),
                              "unit": "MB"}
    report.update(untraced=sp, traced=st, overhead_frac=overhead)
    path = os.path.join(WORK, "traces", f"{ctx.wl.name}_seed{seed}.json")
    _save(path, {**report, "per_layer": metrics, "spans": tr.to_json()})
    report["trace_file"] = os.path.relpath(path, ROOT)
    return metrics


def _save(path: str, doc: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(doc, fh, indent=1, default=str)
