"""Spark's own records of a traced job, reduced to named per-layer metrics.

Reads Spark's REST status API (the live UI on 127.0.0.1): the SQL
executions with their plan-node metrics, the jobs they ran, and those
jobs' stages and tasks. Nothing here touches the program; it only reads
what Spark recorded while the program ran.
"""

from __future__ import annotations

import json
import re
import statistics
import urllib.request

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_NUM = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def metric_value(text: str) -> float:
    """Parse a SQL metric as the UI prints it, into seconds, bytes or a
    count: ``"1,234"``, ``"3.1 MiB"`` or, for per-task metrics,
    ``"total (min, med, max ...)\\n243 ms (48 ms, ...)"`` (the total)."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _NUM.match(text)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


class SparkRecords:
    """REST client bound to one live SparkContext."""

    def __init__(self, sc) -> None:
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self.sc = sc

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def mark(self) -> tuple[int, int]:
        """Highest SQL execution id and job id recorded so far."""
        self._drain()
        sql = self._get("sql?details=false&length=100000")
        jobs = self._get("jobs")
        return (
            max((e["id"] for e in sql), default=-1),
            max((j["jobId"] for j in jobs), default=-1),
        )

    def _drain(self) -> None:
        # the UI store is fed by the listener bus; let it catch up
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def since(self, mark: tuple[int, int]) -> dict:
        """Executions, jobs, stages and task durations after ``mark``."""
        self._drain()
        sql_mark, job_mark = mark
        execs = [
            e
            for e in self._get("sql?details=true&planDescription=false&length=100000")
            if e["id"] > sql_mark
        ]
        jobs = [j for j in self._get("jobs") if j["jobId"] > job_mark]
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        stages, task_s = [], []
        for sid in stage_ids:
            for st in self._get(f"stages/{sid}?details=false"):
                if st["status"] != "COMPLETE":
                    continue
                stages.append(st)
                tasks = self._get(
                    f"stages/{sid}/{st['attemptId']}/taskList?length=100000"
                )
                task_s += [t["duration"] / 1e3 for t in tasks if "duration" in t]
        return {"execs": execs, "jobs": jobs, "stages": stages, "task_s": task_s}


def node_metrics(execs: list[dict], node_prefix: str) -> dict[str, float]:
    """Sum each metric over every plan node whose name starts with
    ``node_prefix``, across ``execs``."""
    out: dict[str, float] = {}
    for e in execs:
        for node in e.get("nodes", []):
            if node["nodeName"].startswith(node_prefix):
                for m in node.get("metrics", []):
                    out[m["name"]] = out.get(m["name"], 0.0) + metric_value(m["value"])
    return out


def is_write(e: dict) -> bool:
    return any(n["nodeName"].startswith("Execute InsertInto") for n in e.get("nodes", []))


MB = 2.0**20


def reduce_records(rec: dict) -> dict[str, float]:
    """The ``scan.*``, ``boundary.*``, ``spark.*``, ``tasks.*`` and
    ``sink.*`` metrics of one traced job unit."""
    execs, stages, task_s = rec["execs"], rec["stages"], rec["task_s"]
    scan = node_metrics(execs, "Scan parquet")
    py = node_metrics(execs, "MapInPandas")
    sink = node_metrics(execs, "Execute InsertInto")
    return {
        "scan.s": scan.get("scan time", 0.0),
        "scan.mb": scan.get("size of files read", 0.0) / MB,
        "boundary.sent_mb": py.get("data sent to Python workers", 0.0) / MB,
        "boundary.received_mb": py.get("data returned from Python workers", 0.0) / MB,
        "boundary.python_s": py.get("time to run Python workers", 0.0),
        "boundary.boot_s": py.get("time to start Python workers", 0.0),
        "boundary.init_s": py.get("time to initialize Python workers", 0.0),
        "spark.executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
        "spark.executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "spark.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
        "tasks.n": float(len(task_s)),
        "tasks.p50_s": statistics.median(task_s) if task_s else 0.0,
        "tasks.max_s": max(task_s, default=0.0),
        "sink.mb": sink.get("written output", 0.0) / MB,
        "sink.files": sink.get("number of written files", 0.0),
        "sink.task_commit_s": sink.get("task commit time", 0.0),
        "sink.job_commit_s": sink.get("job commit time", 0.0),
    }


def reduce_lineage(rec: dict) -> dict[str, float]:
    """The ``lineage.*`` metrics Spark recorded for a job-plus-resume unit:
    ``persist_s`` is the action that fills the extraction cache (its
    description is a ``count``), ``commit_s`` the commit-group writes."""
    execs = rec["execs"]
    writes = [e for e in execs if is_write(e)]
    sink = node_metrics(writes, "Execute InsertInto")
    return {
        "lineage.jobs": float(len(rec["jobs"])),
        "lineage.persist_s": sum(
            e["duration"] for e in execs if e["description"].startswith("count at")
        ) / 1e3,
        "lineage.commit_s": sum(e["duration"] for e in writes) / 1e3,
        "lineage.written_mb": sink.get("written output", 0.0) / MB,
        "lineage.dynamic_parts": sink.get("number of dynamic part", 0.0),
    }


def reduce_leaf(key: str, secs: float, rec: dict) -> dict[str, float]:
    """The ``leaf.<key>.*`` metrics of one curate key: its wall, the
    shuffle and spill of its stages, and its plans' parquet scans."""
    stages = rec["stages"]
    scans = sum(
        1
        for e in rec["execs"]
        for n in e.get("nodes", [])
        if n["nodeName"].startswith("Scan parquet")
    )
    return {
        f"leaf.{key}.s": secs,
        f"leaf.{key}.shuffle_mb": sum(s["shuffleWriteBytes"] for s in stages) / MB,
        f"leaf.{key}.stages": float(len(stages)),
        f"leaf.{key}.spill_mb": sum(s["diskBytesSpilled"] for s in stages) / MB,
        f"leaf.{key}.scans": float(scans),
    }
