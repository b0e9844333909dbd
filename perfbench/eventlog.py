"""Fold a Spark event log into per-layer metrics.

The traced run turns on an uncompressed event log and tags every job
with the innermost benchmark span (``spans.py``) as its job group.
This module reads the log back and charges what it finds to layers:

* task metrics (run time, GC, shuffle write, spill, peak execution
  memory, input/output bytes) -> the layer of the span whose job ran
  the task;
* SQL node metrics -> by node: ``Generate`` nodes of the tile explode
  -> ``hilbert_native``; the ``__cell`` equijoin -> ``spatial_join``
  candidates; Python/pandas eval nodes -> the span's pUDF layer (its
  worker run time is moved out of the calling layer's task
  time); file scans and writes -> the span's layer;
* block updates (broadcast pieces, cached and checkpointed RDD
  blocks) -> the span active when the block was stored.

Exchange and scan work has no span of its own: it is charged to the
layer whose span was running, as the task metrics of that span.
"""

from __future__ import annotations

import json
from collections import defaultdict

LAYERS = ("session", "hilbert_native", "spatial_join", "pip", "knn", "tiling",
          "checkpoint", "raster", "cluster", "st", "relate", "text", "lm")
GENERIC = (("task_s", "s"), ("gc_s", "s"), ("shuffle_write_bytes", "bytes"),
           ("spill_bytes", "bytes"), ("peak_exec_mem_bytes", "bytes"), ("self_s", "s"))
SPECIFIC = (
    ("session.start_s", "s"),
    ("hilbert_native.cells_out", "count"), ("hilbert_native.cells_per_row", "ratio"),
    ("spatial_join.call_s", "s"), ("spatial_join.candidates", "count"),
    ("spatial_join.hit_ratio", "ratio"), ("spatial_join.broadcast_bytes", "bytes"),
    ("pip.py_start_s", "s"), ("pip.py_init_s", "s"), ("pip.py_run_s", "s"),
    ("pip.py_rows", "count"), ("pip.py_bytes_sent", "bytes"),
    ("knn.call_s", "s"), ("knn.jobs", "count"), ("knn.cache_bytes", "bytes"),
    ("tiling.fragments_per_row", "ratio"),
    ("checkpoint.call_s", "s"), ("checkpoint.bytes_written", "bytes"),
    ("checkpoint.files_written", "count"),
    ("scan.bytes_read", "bytes"), ("scan.rows_read_per_row_returned", "ratio"),
    ("raster.call_s", "s"), ("raster.set_pixels", "count"),
    ("cluster.jobs", "count"), ("cluster.materialized_bytes", "bytes"),
    ("st.py_init_s", "s"), ("st.py_run_s", "s"), ("st.py_rows", "count"),
    ("st.null_rows", "count"), ("relate.pairs", "count"), ("relate.hit_ratio", "ratio"),
    ("lm.call_s", "s"), ("lm.materialized_bytes", "bytes"),
)

PY_START = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
ROWS = "number of output rows"
SQL_EVENT = "org.apache.spark.sql.execution.ui."


def metric_units() -> dict:
    """Every per-layer metric name -> unit, in report order."""
    out = dict(SPECIFIC)
    for layer in LAYERS:
        for name, unit in GENERIC:
            out[f"{layer}.{name}"] = unit
    return out


def session_conf(directory: str) -> dict:
    """Conf that makes a session write the log this module reads."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": directory,
        "spark.eventLog.compress": "false",
        "spark.eventLog.logBlockUpdates.enabled": "true",
    }


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _nodes(info, out=None):
    """Flatten a sparkPlanInfo tree into a list of its nodes."""
    out = [] if out is None else out
    out.append(info)
    for c in info.get("children", []):
        _nodes(c, out)
    return out


class Log:
    """Everything the fold needs, read in one pass over the events."""

    def __init__(self):
        self.job_group: dict = {}
        self.stage_job: dict = {}
        self.exec_group: dict = {}
        self.meta: dict = {}             # accumulator id -> (exec, node, metric, type)
        self.acc = defaultdict(float)    # accumulator id -> summed value
        self.tasks = defaultdict(lambda: defaultdict(float))  # group -> totals
        self.blocks: dict = {}           # block id -> (group, kind, bytes)
        self.group_jobs = defaultdict(int)
        self._cur = None

    def read(self, lines) -> "Log":
        for line in lines:
            line = line.strip()
            if line:
                self.event(json.loads(line))
        return self

    def _plan(self, exec_id, info):
        for node in _nodes(info):
            for m in node.get("metrics", []):
                self.meta[m["accumulatorId"]] = (exec_id, node, m["name"], m["metricType"])

    def event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            g = props.get("spark.jobGroup.id")
            self.job_group[e["Job ID"]] = g
            for s in e.get("Stage IDs", []):
                self.stage_job[s] = e["Job ID"]
            ex = props.get("spark.sql.execution.id")
            if ex is not None and g is not None:
                self.exec_group.setdefault(int(ex), g)
            if g is not None:
                self.group_jobs[g] += 1
            self._cur = g
        elif kind == SQL_EVENT + "SparkListenerSQLExecutionStart":
            g = e.get("jobGroupId")
            if g:
                self.exec_group[e["executionId"]] = g
                self._cur = g
            self._plan(e["executionId"], e["sparkPlanInfo"])
        elif kind == SQL_EVENT + "SparkListenerSQLAdaptiveExecutionUpdate":
            self._plan(e["executionId"], e["sparkPlanInfo"])
        elif kind == SQL_EVENT + "SparkListenerDriverAccumUpdates":
            for acc_id, v in e.get("accumUpdates", []):
                self.acc[acc_id] += _num(v)
        elif kind == "SparkListenerTaskEnd":
            info = e.get("Task Info") or {}
            for a in info.get("Accumulables", []):
                if "Update" in a:
                    self.acc[a["ID"]] += _num(a["Update"])
            g = self.job_group.get(self.stage_job.get(e.get("Stage ID")))
            tm = e.get("Task Metrics")
            if g is None or not tm:
                return
            t = self.tasks[g]
            t["task_ms"] += _num(tm.get("Executor Run Time"))
            t["gc_ms"] += _num(tm.get("JVM GC Time"))
            t["shuffle_write"] += _num((tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written"))
            t["spill"] += _num(tm.get("Memory Bytes Spilled")) + _num(tm.get("Disk Bytes Spilled"))
            t["peak_mem"] = max(t["peak_mem"], _num(tm.get("Peak Execution Memory")))
            t["input_bytes"] += _num((tm.get("Input Metrics") or {}).get("Bytes Read"))
            t["output_bytes"] += _num((tm.get("Output Metrics") or {}).get("Bytes Written"))
        elif kind == "SparkListenerBlockUpdated":
            b = e["Block Updated Info"]
            bid = b["Block ID"]
            size = _num(b.get("Memory Size")) + _num(b.get("Disk Size"))
            if size > 0 and bid not in self.blocks:
                k = "rdd" if bid.startswith("rdd_") else "broadcast" if bid.startswith("broadcast_") else "other"
                self.blocks[bid] = (self._cur, k, size)

    def node_value(self, node, metric) -> float:
        for m in node.get("metrics", []):
            if m["name"] == metric:
                return self._scaled(m["accumulatorId"], m["metricType"])
        return 0.0

    def _scaled(self, acc_id, mtype) -> float:
        v = self.acc.get(acc_id, 0.0)
        if mtype == "timing":
            return v / 1e3
        if mtype == "nsTiming":
            return v / 1e9
        return v

    def rows_into(self, node) -> float:
        """Rows a node consumed: output rows of its nearest descendant
        that counts them."""
        frontier = list(node.get("children", []))
        while frontier:
            n = frontier.pop(0)
            if any(m["name"] == ROWS for m in n.get("metrics", [])):
                return self.node_value(n, ROWS)
            frontier.extend(n.get("children", []))
        return 0.0


def _is_python(name: str) -> bool:
    return "Python" in name or "InPandas" in name or "InArrow" in name


def fold(files, spans, counts: dict, session_s: float) -> dict:
    """Per-layer metrics as ``{name: {"value", "unit"}}`` for every
    name in :func:`metric_units`."""
    log = Log()
    for f in files:
        with open(f) as fh:
            log.read(fh)
    by_id = {s.sid: s for s in spans}
    val = defaultdict(float)

    span_of = {s.group: s for s in spans}.get

    # -- wall time: self time per layer, call time of outermost spans
    child_ms = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child_ms[s.parent] += s.end_ms - s.start_ms
    for s in spans:
        val[f"{s.layer}.self_s"] += (s.end_ms - s.start_ms - child_ms[s.sid]) / 1e3
        parent = by_id.get(s.parent)
        if parent is None or parent.layer != s.layer:
            val[f"{s.layer}.call_s"] += (s.end_ms - s.start_ms) / 1e3

    # -- task metrics
    for g, t in log.tasks.items():
        s = span_of(g)
        if s is None:
            continue
        L = s.layer
        val[f"{L}.task_s"] += t["task_ms"] / 1e3
        val[f"{L}.gc_s"] += t["gc_ms"] / 1e3
        val[f"{L}.shuffle_write_bytes"] += t["shuffle_write"]
        val[f"{L}.spill_bytes"] += t["spill"]
        val[f"{L}.peak_exec_mem_bytes"] = max(val[f"{L}.peak_exec_mem_bytes"], t["peak_mem"])
        val[f"{L}.input_bytes"] += t["input_bytes"]
        val[f"{L}.output_bytes"] += t["output_bytes"]
    for g, n in log.group_jobs.items():
        s = span_of(g)
        if s is not None:
            val[f"{s.layer}.jobs"] += n

    # -- SQL node metrics
    # a plan node appears once per plan version (AQE re-plans), always
    # with the same accumulators: key it by its smallest one
    nodes, moves = {}, []
    for ex, node, _, _ in log.meta.values():
        key = (ex, min(m["accumulatorId"] for m in node["metrics"]))
        nodes[key] = node
    for (ex, _), node in nodes.items():
        s = span_of(log.exec_group.get(ex))
        if s is None:
            continue
        name, simple = node.get("nodeName", ""), node.get("simpleString", "")
        if _is_python(name):
            P = s.pudf or s.layer
            start, init, run = (log.node_value(node, m) for m in (PY_START, PY_INIT, PY_RUN))
            val[f"{P}.py_start_s"] += start
            val[f"{P}.py_init_s"] += init
            val[f"{P}.py_run_s"] += run
            val[f"{P}.py_rows"] += log.node_value(node, ROWS)
            val[f"{P}.py_bytes_sent"] += log.node_value(node, PY_SENT)
            if P != s.layer:
                moves.append((s.layer, P, run))
        elif name == "Generate" and "__gy" in simple:
            val["hilbert_native.cells_out"] += log.node_value(node, ROWS)
        elif name == "Generate" and "__gx" in simple:
            val["hilbert_native.rows_in"] += log.rows_into(node)
        elif name.endswith("Join") and "__cell" in simple and s.layer == "spatial_join":
            val["spatial_join.candidates"] += log.node_value(node, ROWS)
        elif name.startswith("Scan") and s.layer == "scan":
            val["scan.rows_read"] += log.node_value(node, ROWS)
        for m in node.get("metrics", []):
            if m["name"] == "number of written files":
                val[f"{s.layer}.files_written"] += log._scaled(m["accumulatorId"], m["metricType"])

    # -- block updates
    for g, kind, size in log.blocks.values():
        s = span_of(g)
        if s is None:
            continue
        if kind == "broadcast":
            val[f"{s.layer}.broadcast_bytes"] += size
        elif kind == "rdd":
            val[f"{s.layer}.materialized_bytes"] += size

    # -- the pUDF's "time to run Python workers" moves from the calling
    # layer's task time to the pUDF layer (Spark's Python time metrics
    # are per-task sums that can overlap, hence the cap)
    for L, P, run in moves:
        moved = min(run, val[f"{L}.task_s"])
        val[f"{L}.task_s"] -= moved
        val[f"{P}.task_s"] += moved

    def ratio(a, b):
        return a / b if b else 0.0

    val["session.start_s"] = session_s
    val["hilbert_native.cells_per_row"] = ratio(val["hilbert_native.cells_out"],
                                                val["hilbert_native.rows_in"])
    val["spatial_join.hit_ratio"] = ratio(counts.get("spatial_join.rows_out", 0),
                                          val["spatial_join.candidates"])
    val["knn.cache_bytes"] = val["knn.materialized_bytes"]
    val["tiling.fragments_per_row"] = ratio(counts.get("tiling.rows_out", 0),
                                            counts.get("tiling.rows_in", 0))
    val["checkpoint.bytes_written"] = val["checkpoint.output_bytes"]
    val["scan.bytes_read"] = val["scan.input_bytes"]
    val["scan.rows_read_per_row_returned"] = ratio(val["scan.rows_read"],
                                                   counts.get("scan.rows_returned", 0))
    val["raster.set_pixels"] = counts.get("raster.set_pixels", 0)
    val["st.null_rows"] = counts.get("st.null_rows", 0)
    val["relate.pairs"] = val["relate.py_rows"]
    val["relate.hit_ratio"] = ratio(counts.get("relate.rows_out", 0), val["relate.pairs"])
    return {name: {"value": float(val.get(name, 0.0)), "unit": unit}
            for name, unit in metric_units().items()}
