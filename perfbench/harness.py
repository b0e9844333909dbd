"""Closed-loop driver: one client, each operation waits for the
previous one. Set-up, a warm-up of each operation kind, then timed
iterations until ``seconds`` of operation time have passed; every
output is checked outside the timed region. End-to-end times are
medians over the timed iterations."""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import subprocess
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

from perfbench import eventlog, host
from perfbench.spans import Tracer
from perfbench.workloads import Workload

SETUP_REPEATS = 3
SESSION_CONF = {"spark.ui.showConsoleProgress": "false"}


@dataclass
class Loop:
    """Timings and outcome counts of one closed loop."""

    times: dict = field(default_factory=dict)   # op kind -> [wall seconds]
    warm: dict = field(default_factory=dict)    # same, warm-up iteration
    # one entry per timed iteration: op kind -> wall seconds, op kind ->
    # CPU seconds, and input rows
    per_it: list = field(default_factory=list)
    cpu_it: list = field(default_factory=list)
    rows_it: list = field(default_factory=list)
    seconds: float = 0.0
    steal_s: float = 0.0  # vCPU time the hypervisor took during timed operations
    iterations: int = 0
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)


def start_session(trace_dir: str | None = None):
    from geos_spark.session import get_spark

    conf = dict(SESSION_CONF)
    if trace_dir:
        conf.update(eventlog.session_conf(trace_dir))
    return get_spark(app_name="perfbench", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop the context and the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # must not leave the JVM behind
            proc.kill()
            proc.wait()


def jvm_pid():
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def run_op(w, op, loop: Loop, timed: bool) -> None:
    """Run one operation, then check its output (untimed) and count it."""
    c0, s0 = host.tree_cpu_s(), host.steal_s()
    t = time.perf_counter()
    try:
        out, err = op.run(), None
    except Exception:  # noqa: BLE001 - a failed operation is a result
        out, err = None, traceback.format_exc(limit=3)
    dt = time.perf_counter() - t
    cpu, steal = host.tree_cpu_s() - c0, host.steal_s() - s0
    errs = [err] if err else op.check(out)
    loop.attempted += 1
    if errs:
        loop.failed += 1
        loop.errors.append({"op": op.kind, "errors": [str(e)[:500] for e in errs[:3]]})
    if timed:
        loop.times.setdefault(op.kind, []).append(dt)
        for it, v in ((loop.per_it[-1], dt), (loop.cpu_it[-1], cpu)):
            it[op.kind] = it.get(op.kind, 0.0) + v
        loop.rows_it[-1] += op.rows_in
        loop.seconds += dt
        loop.steal_s += steal
    else:
        loop.warm.setdefault(op.kind, []).append(dt)
    w.spark.catalog.clearCache()


def warm_up(w, loop: Loop) -> None:
    """The first operation of each kind of iteration 0, untimed and
    untraced, checked like any other: it pays the first-call costs
    (Python workers, JIT, code generation)."""
    w.tracer = Tracer()
    seen = set()
    for op in w.iteration(0):
        if op.kind not in seen:
            seen.add(op.kind)
            run_op(w, op, loop, timed=False)


def timed_loop(w, tracer: Tracer, seconds: float, loop: Loop) -> Loop:
    """Timed iterations until ``seconds`` of operation time have passed,
    and at least one."""
    w.tracer = tracer
    w.counts = {}
    with tracer.probes(w.probes):
        while loop.iterations == 0 or loop.seconds < seconds:
            loop.iterations += 1
            loop.per_it.append({})
            loop.cpu_it.append({})
            loop.rows_it.append(0)
            for op in w.iteration(loop.iterations):
                run_op(w, op, loop, timed=True)
    return loop


def tail(values: list) -> tuple[float, float]:
    """Highest percentile with at least ten samples beyond it, and
    that percentile; with fewer than eleven samples, the maximum."""
    v = sorted(values)
    n = len(v)
    if n < 11:
        return v[-1], 100.0
    return v[n - 11], 100.0 * (n - 10) / n


def named_metrics(w, loop: Loop) -> dict:
    """The workload's own metric names (pip_s, lookup_ms p50/tail, ...)
    with sample counts."""
    out = {}
    for kind, (name, _) in w.slots.items():
        v = loop.times.get(kind, [])
        if not v:
            continue
        if name.endswith("_ms"):
            base = name[: -len("_ms")]
            t, pct = tail(v)
            out[f"{base}_p50_ms"] = {"value": 1000 * statistics.median(v), "unit": "ms", "n": len(v)}
            out[f"{base}_tail_ms"] = {"value": 1000 * t, "unit": "ms", "n": len(v),
                                      "percentile": round(pct, 1)}
        else:
            out[name] = {"value": statistics.median(v), "unit": "s", "n": len(v)}
    return out


def group_times(w, its: list, suffix: str) -> dict:
    """``<group><suffix>``: the median over timed iterations of the
    seconds an iteration spent in the group's op kinds."""
    slots = sorted({slot for _, slot in w.slots.values()})
    return {f"{slot}{suffix}": {"value": statistics.median(
                sum(t for kind, t in it.items() if w.slots[kind][1] == slot) for it in its),
                "unit": "s"} for slot in slots}


def end_to_end(w, loop: Loop, setup_cpu_s: float) -> dict:
    """The result's metrics. Times are CPU seconds of the benchmark's
    process tree; ``rows_per_cpu_s`` is the median of each iteration's
    input rows over its operation CPU time."""
    rates = [r / sum(it.values()) for r, it in zip(loop.rows_it, loop.cpu_it)]
    m = {
        "setup_s": {"value": setup_cpu_s, "unit": "s"},
        "rows_per_cpu_s": {"value": statistics.median(rates), "unit": "1/s"},
        **group_times(w, loop.cpu_it, "_cpu_s"),
    }
    return dict(sorted(m.items()))


def wall_metrics(w, loop: Loop, setup_wall_s: float) -> dict:
    """The wall-clock counterparts of :func:`end_to_end`, for the report."""
    rates = [r / sum(it.values()) for r, it in zip(loop.rows_it, loop.per_it)]
    return {"setup_wall_s": {"value": setup_wall_s, "unit": "s"},
            "rows_per_s": {"value": statistics.median(rates), "unit": "1/s"},
            **group_times(w, loop.per_it, "_s")}


def run(workload: str, seed: int, seconds: float, trace: bool, size: str,
        root: Path, work: Path) -> tuple[dict, dict]:
    """Run one workload; returns (report, result).

    With ``trace`` the session writes an event log from the start; after
    the untraced loop, one more iteration runs with spans on (no second
    warm-up) and the log is folded into per-layer metrics, which are
    therefore figures of one iteration. The
    untraced loop of a traced run therefore also pays for the event
    log: its end-to-end numbers are reported only as the baseline of
    the tracing overhead, never as the result."""
    hostinfo = host.fit(root, work)
    run_dir = work / f"run-{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    ev_dir = run_dir / "eventlog"
    w = Workload(workload, seed, size, str(run_dir))
    spark = None
    try:
        if trace:
            ev_dir.mkdir()
        c, t = host.tree_cpu_s(), time.perf_counter()
        spark = start_session(str(ev_dir) if trace else None)
        spark.range(1).count()
        session_s, session_cpu = time.perf_counter() - t, host.tree_cpu_s() - c
        w.stage(str(run_dir / "inputs"))
        loads, load_cpu = [], []
        for _ in range(SETUP_REPEATS):
            c, t = host.tree_cpu_s(), time.perf_counter()
            w.reopen(spark)
            loads.append(time.perf_counter() - t)
            load_cpu.append(host.tree_cpu_s() - c)
        setup_cpu_s = session_cpu + statistics.median(load_cpu)
        setup_wall_s = session_s + statistics.median(loads)
        fp = host.fingerprint(root, spark, seed, hostinfo)
        t = time.perf_counter()
        w.prepare()
        prepare_s = time.perf_counter() - t

        t = time.perf_counter()
        plain = Loop()
        warm_up(w, plain)
        timed_loop(w, Tracer(), seconds, plain)
        loop_wall_s = time.perf_counter() - t
        rss = host.peak_rss_mb(jvm_pid())
        e2e = end_to_end(w, plain, setup_cpu_s)
        report = {
            "workload": workload, "parts": [p.name for p in w.parts],
            "seed": seed, "seconds": seconds, "size": size,
            "host": fp, "setup": {"session_start_s": session_s, "load_s": loads,
                                  "session_start_cpu_s": session_cpu, "load_cpu_s": load_cpu},
            "named": named_metrics(w, plain), "end_to_end": e2e,
            "wall": wall_metrics(w, plain, setup_wall_s), "steal_s": plain.steal_s,
            "peak_rss_mb": rss,
            "warm_up_s": plain.warm, "iterations": plain.iterations,
            "wall_s": {"oracle_prepare": prepare_s, "loop": loop_wall_s},
            "attempted": plain.attempted, "failed": plain.failed,
            "fail_ratio": plain.failed / plain.attempted, "errors": plain.errors[:10],
        }
        result = {"correct": plain.failed == 0, "attempted": plain.attempted,
                  "failed": plain.failed, "metrics": e2e}
        if trace:
            traced = timed_loop(w, Tracer(spark.sparkContext), 0.0, Loop())
            stop_session(spark)
            spark = None
            files = sorted(glob.glob(str(ev_dir / "**" / "events_*"), recursive=True))
            layers = eventlog.fold(files, w.tracer.spans, w.counts, session_s)
            t_e2e = end_to_end(w, traced, setup_cpu_s)
            report.update({
                "per_layer": layers,
                "trace_overhead": {
                    k: {"untraced": e2e[k]["value"], "traced": t_e2e[k]["value"],
                        "diff": t_e2e[k]["value"] - e2e[k]["value"], "unit": e2e[k]["unit"]}
                    for k in e2e if k != "setup_s"},
                "traced_named": named_metrics(w, traced), "traced_errors": traced.errors[:10],
            })
            failed = plain.failed + traced.failed
            result = {"correct": failed == 0, "attempted": plain.attempted + traced.attempted,
                      "failed": failed, "metrics": layers}
        return report, result
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
