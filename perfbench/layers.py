"""Read-only probes of the engine around a run: Spark's own SQL metrics for
the Python UDF node, the Python workers' peak RSS, and the box record.

Nothing here changes the engine; every probe reads state Spark or the OS
already keeps.
"""

from __future__ import annotations

import hashlib
import os
import re
import subprocess
from pathlib import Path

# PythonSQLMetrics names (Spark 4.x) -> benchmark metric suffix + kind
PY_METRICS = {
    "time to start Python workers": ("py_boot_s", "time"),
    "time to initialize Python workers": ("py_init_s", "time"),
    "time to run Python workers": ("py_run_s", "time"),
    "data sent to Python workers": ("bytes_to_py", "size"),
    "data returned from Python workers": ("bytes_from_py", "size"),
}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
               "TiB": 1 << 40}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str, kind: str) -> float:
    """A status-store metric string -> seconds or bytes. Multi-task values
    read 'total (min, med, max (stageId: taskId))\\n<total> (...)'; the
    total is the first value on the last line."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line)
    if not m:
        raise ValueError(f"unparsable SQL metric {text!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2) or ""
    table = _TIME_UNITS if kind == "time" else _SIZE_UNITS
    if unit not in table:
        raise ValueError(f"unknown unit {unit!r} in SQL metric {text!r}")
    return num * table[unit]


def last_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    n = execs.size()
    return -1 if n == 0 else max(execs.apply(i).executionId() for i in range(n))


def python_udf_metrics(spark, since_id: int) -> dict[str, float]:
    """Summed PythonSQLMetrics of every Python-evaluation plan node in the
    SQL executions after `since_id` (one action = one or more executions)."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    out = {name: 0.0 for name, _ in PY_METRICS.values()}
    for i in range(execs.size()):
        eid = execs.apply(i).executionId()
        if eid <= since_id:
            continue
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            if "EvalPython" not in node.name():
                continue
            ms = node.metrics().iterator()
            while ms.hasNext():
                m = ms.next()
                spec = PY_METRICS.get(m.name())
                v = values.get(m.accumulatorId())
                if spec is not None and v.isDefined():
                    out[spec[0]] += parse_metric(v.get(), spec[1])
    return out


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            stat = (d / "stat").read_text()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d.name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def worker_peak_rss_mb() -> float:
    """Largest VmHWM among this process's PySpark Python workers (the
    daemon and the workers it forks, all descendants of this process's
    JVM)."""
    best = 0
    for pid in _descendants(os.getpid()):
        try:
            cmd = Path(f"/proc/{pid}/cmdline").read_bytes()
            if b"pyspark.daemon" not in cmd and b"pyspark.worker" not in cmd:
                continue
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    best = max(best, int(line.split()[1]))
        except OSError:
            continue
    return best / 1024.0


def cpu_steal_s() -> float | None:
    """Seconds of CPU time the hypervisor gave to other guests since boot
    (the `steal` column of /proc/stat): host contention, which slows a
    run without showing in its own CPU time."""
    try:
        fields = Path("/proc/stat").read_text().splitlines()[0].split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def source_sha256(root: Path) -> str:
    """Content hash of the program's package, for checkouts without git."""
    h = hashlib.sha256()
    for p in sorted((root / "cld2_spark").rglob("*")):
        if p.is_file() and "__pycache__" not in p.parts:
            h.update(str(p.relative_to(root)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def git_sha(root: Path) -> str | None:
    try:
        r = subprocess.run(["git", "-C", str(root), "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout.strip() if r.returncode == 0 else None


def box_record(spark, root: Path, steal_at_start: float | None) -> dict:
    import numpy as np
    import pyspark

    blas = None
    try:
        cfg = np.show_config(mode="dicts")
        b = cfg["Build Dependencies"]["blas"]
        blas = {k: b.get(k) for k in ("name", "version", "openblas configuration")}
    except (TypeError, KeyError):  # NumPy < 1.25 has no dict mode
        pass
    steal = cpu_steal_s()
    return {
        "nproc": os.cpu_count(),
        "sched_cpus": len(os.sched_getaffinity(0)),
        "spark_master": spark.sparkContext.master,
        "pyspark": pyspark.__version__,
        "numpy": np.__version__,
        "numpy_blas": blas,
        "OPENBLAS_CORETYPE": os.environ.get("OPENBLAS_CORETYPE"),
        "malloc_env": {k: v for k, v in sorted(os.environ.items())
                       if k.startswith("MALLOC_")},
        "cpu_steal_s": (None if steal is None or steal_at_start is None
                        else steal - steal_at_start),
        "loadavg": os.getloadavg(),
        "git_sha": git_sha(root),
        "source_sha256": source_sha256(root),
    }
