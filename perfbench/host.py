"""Fit the engine to the host and fingerprint the run.

Cores come from the CPU affinity mask (what ``nproc`` prints) and
driver memory from ``MemTotal``; both reach the engine only through
its existing deployment settings (``SPARK_GRAFT_CPUS``,
``SPARK_GRAFT_DRIVER_MEM``, ``SPARK_LOCAL_DIRS``). Every other engine
setting stays at its default.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
from pathlib import Path


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def fit(root: Path, workdir: Path) -> dict:
    """Set the deployment environment for a ``local[nproc]`` session
    whose scratch space stays inside ``workdir``."""
    cores = len(os.sched_getaffinity(0))
    mem = mem_total_mb()
    # local mode runs executors inside the driver JVM: an eighth of the
    # host (the inputs are small), so the Python workers, the page cache
    # and other tenants keep the rest; a heap the run fills also keeps
    # the peak resident set steady from run to run
    driver_mb = max(1024, min(mem // 8, 4096))
    tmp = workdir / "tmp"
    local = workdir / "spark-local"
    tmp.mkdir(parents=True, exist_ok=True)
    local.mkdir(parents=True, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_GRAFT_DRIVER_MEM": f"{driver_mb}m",
            "SPARK_LOCAL_DIRS": str(local),
            "PYTHONPATH": os.pathsep.join(
                [str(root)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
            ),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "TMPDIR": str(tmp),
            "PYSPARK_SUBMIT_ARGS": (
                f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
            ),
        }
    )
    return {"nproc": cores, "mem_total_mb": mem, "driver_mem": f"{driver_mb}m"}


def source_id(root: Path) -> dict:
    """Git sha when the tree is a checkout, and always a digest of the
    engine sources (the benchmark also runs from plain exports)."""
    out = {}
    try:
        sha = subprocess.run(
            ["git", "-C", str(root), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        if sha.returncode == 0:
            out["git_sha"] = sha.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    for p in sorted((root / "geos_spark").rglob("*.py")):
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    out["src_sha256"] = h.hexdigest()[:16]
    return out


def fingerprint(root: Path, spark, seed: int, host: dict) -> dict:
    conf = dict(spark.sparkContext.getConf().getAll())
    return {
        **host,
        **source_id(root),
        "seed": seed,
        "spark_version": spark.version,
        "python": sys.version.split()[0],
        "spark_conf": {k: conf[k] for k in sorted(conf)
                       if not k.startswith(("spark.app.id", "spark.driver.port", "spark.app.startTime"))},
    }


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set (``VmHWM``) of the driver Python process plus
    the JVM, each since it started."""
    kb = _vm_hwm_kb(os.getpid())
    if jvm_pid:
        kb += _vm_hwm_kb(jvm_pid)
    return kb / 1024.0


def tree_cpu_s(root_pid: int | None = None) -> float:
    """CPU seconds (user + system) of ``root_pid`` (default: this
    process) and every process below it (the JVM and its Python
    workers), including children they have already reaped."""
    root_pid = root_pid or os.getpid()
    parent, cpu = {}, {}
    tick = os.sysconf("SC_CLK_TCK")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(d)] = int(fields[1])
        cpu[int(d)] = sum(int(x) for x in fields[11:15]) / tick
    total = 0.0
    for pid in cpu:
        p = pid
        while p in parent and p != root_pid:
            p = parent[p]
        if p == root_pid:
            total += cpu[pid]
    return total


def steal_s() -> float:
    """Seconds of CPU time the hypervisor gave to other guests, summed
    over this machine's CPUs (``steal`` in ``/proc/stat``)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")
