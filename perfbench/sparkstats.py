"""Read Spark's own bookkeeping from outside the program.

Everything here is read after the timed work, from the application
status store (jobs, stages), the SQL status store (executions and their
operator metrics) and the file-source log of a streaming checkpoint. The
lists are serialised to JSON inside the JVM with the Jackson mapper that
Spark's REST API uses, so one gateway call returns a whole list.

Attribution is by wall-clock window: a job or SQL execution belongs to
the window that contains its submission time. JVM and Python read the
same system clock.
"""

from __future__ import annotations

import json
import os
import re

from spans import covered

_UNITS = {
    "ns": 1e-6, "us": 1e-3, "µs": 1e-3, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6,
    "B": 1.0, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}
_VALUE = re.compile(r"(-?[\d.,]+)\s*([A-Za-zµ]+)?")

# SQL metric name -> layer metric. Timings are in ms, sizes in bytes.
PYTHON_METRICS = {
    "time to initialize Python workers": "python_worker_init_ms",
    "time to start Python workers": "python_worker_start_ms",
    "data sent to Python workers": "python_bytes_sent",
}


def metric_value(text: str) -> float:
    """Total of one formatted SQL metric, in ms (timings) or bytes (sizes).

    Spark formats a metric either as ``"413 ms"`` or, for several tasks,
    as ``"total (min, med, max (stageId: taskId))\\n206 ms (43 ms, ...)"``;
    the total is the first value after the header.
    """
    body = text.split("\n", 1)[1] if text.startswith("total") and "\n" in text else text
    m = _VALUE.match(body.strip())
    if not m:
        return 0.0
    number = float(m.group(1).replace(",", ""))
    return number * _UNITS.get(m.group(2) or "", 1.0)


class StatusReader:
    """JSON views of the application and SQL status stores."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        scala_module = getattr(
            getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"),
            "MODULE$",
        )
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(scala_module)
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._empty = jvm.java.util.ArrayList()
        self._executions: list[dict] | None = None

    def _json(self, obj) -> list | dict:
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self) -> list[dict]:
        return self._json(self._store.jobsList(self._empty))

    def stages(self) -> list[dict]:
        store = self._store
        defaults = [getattr(store, f"stageList$default${i}")() for i in (2, 3, 4, 5)]
        return self._json(store.stageList(self._empty, *defaults))

    def executions(self) -> list[dict]:
        """SQL executions with only the fields attribution needs (read
        once: the list carries every plan description)."""
        if self._executions is None:
            keep = ("executionId", "submissionTime", "completionTime", "metrics")
            self._executions = [
                {k: e.get(k) for k in keep}
                for e in self._json(self._sql.executionsList())
            ]
        return self._executions

    def execution_metrics(self, execution_id: int) -> dict[str, str]:
        return self._json(self._sql.executionMetrics(execution_id))


def in_windows(t_ms: float | None, windows: list[tuple[float, float]]) -> bool:
    return t_ms is not None and any(lo <= t_ms <= hi for lo, hi in windows)


def jobs_and_stages(
    reader: StatusReader, windows: list[tuple[float, float]]
) -> tuple[list[dict], list[dict]]:
    """Jobs submitted in ``windows`` (epoch ms) and their stages that ran."""
    jobs = [j for j in reader.jobs() if in_windows(j.get("submissionTime"), windows)]
    stage_ids = {s for j in jobs for s in j.get("stageIds", [])}
    stages = {}
    for s in reader.stages():
        if s["stageId"] in stage_ids and s.get("status") != "SKIPPED":
            stages[(s["stageId"], s.get("attemptId", 0))] = s
    return jobs, list(stages.values())


def scheduler_counters(
    reader: StatusReader, windows: list[tuple[float, float]], cpus: int
) -> dict[str, float]:
    """Jobs, stages, tasks and their task metrics submitted in ``windows``
    (epoch ms), plus the wall time in the windows with no job running."""
    jobs, st = jobs_and_stages(reader, windows)
    task_ms = sum(s.get("executorRunTime", 0) for s in st)
    wall = sum(hi - lo for lo, hi in windows)
    busy = [
        (j["submissionTime"], j.get("completionTime") or j["submissionTime"])
        for j in jobs
    ]
    idle = sum((hi - lo) - covered(busy, lo, hi) for lo, hi in windows)
    return {
        "jobs": len(jobs),
        "stages": len(st),
        "tasks": sum(s.get("numCompleteTasks", 0) for s in st),
        "task_ms": task_ms,
        "task_cpu_ms": sum(s.get("executorCpuTime", 0) for s in st) / 1e6,
        "idle_ms": idle,
        "core_busy_frac": task_ms / (wall * cpus) if wall > 0 else 0.0,
        "shuffle_read_mb": sum(s.get("shuffleReadBytes", 0) for s in st) / 2**20,
        "shuffle_write_mb": sum(s.get("shuffleWriteBytes", 0) for s in st) / 2**20,
        "spill_mb": sum(
            s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in st
        ) / 2**20,
        "bytes_written_mb": sum(s.get("outputBytes", 0) for s in st) / 2**20,
        "write_task_ms": sum(
            s.get("executorRunTime", 0) for s in st if s.get("outputBytes", 0) > 0
        ),
    }


def input_records(reader: StatusReader, windows: list[tuple[float, float]]) -> int:
    """Records read from data sources by the jobs submitted in ``windows``."""
    return sum(s.get("inputRecords", 0) for s in jobs_and_stages(reader, windows)[1])


def python_counters(
    reader: StatusReader, windows: list[tuple[float, float]]
) -> dict[str, float]:
    """Python-worker SQL metrics summed over executions in ``windows``."""
    out = {v: 0.0 for v in PYTHON_METRICS.values()}
    for e in reader.executions():
        if not in_windows(e.get("submissionTime"), windows):
            continue
        ids = {
            str(m["accumulatorId"]): PYTHON_METRICS[m["name"]]
            for m in e.get("metrics") or []
            if m.get("name") in PYTHON_METRICS
        }
        if not ids:
            continue
        for acc, text in reader.execution_metrics(e["executionId"]).items():
            if acc in ids:
                out[ids[acc]] += metric_value(text)
    return {
        "python_worker_init_ms": out["python_worker_init_ms"],
        "python_worker_start_ms": out["python_worker_start_ms"],
        "python_bytes_sent_mb": out["python_bytes_sent"] / 2**20,
    }


def planning_ms(reader: StatusReader, action_starts_ms: list[float]) -> float:
    """Sum over actions of (action call -> first SQL execution start).

    Spark stamps an execution's start after it has built the executed
    plan, so the gap is optimisation plus physical planning."""
    starts = sorted(
        e["submissionTime"] for e in reader.executions() if e.get("submissionTime")
    )
    total = 0.0
    for t in action_starts_ms:
        later = [s for s in starts if s >= t]
        if later:
            total += later[0] - t
    return total


def file_source_batches(checkpoint_dir: str) -> dict[str, int]:
    """Map of file path -> micro-batch id, from the file source's log in
    a streaming checkpoint (``sources/0/<n>`` and ``<n>.compact``)."""
    log_dir = os.path.join(checkpoint_dir, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name), encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[entry["path"]] = int(entry["batchId"])
    return out
