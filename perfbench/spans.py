"""Traced-run recorder: spans around calls into the engine, and readers
for Spark's own status store and streaming progress.

A span has an id, a name, a start, an end and the span that caused it.
Each span opened with ``Tracer.span`` runs under its own Spark job
group, so the stage data and SQL metrics of the jobs it started can be
attributed to it after the run. Spans stay in memory until ``dump``.

With tracing off every ``span`` is a no-op: the untraced run pays no
job-group calls and reads no status store.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import re
import statistics
import time

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_TOTAL = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_sql_metric(text: str) -> float:
    """A SQL metric string as Spark renders it, in seconds, bytes or
    count: ``"1.2 s"``, ``"155.9 KiB"``, ``"7,646"``, or the multi-task
    form ``"total (min, med, max ...)\\n1.2 s (...)"``."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _TOTAL.match(line)
    if not m:
        raise ValueError(f"unparsed SQL metric {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return value * _UNITS[unit] if unit in _UNITS else value


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # time spent in span bookkeeping
        self._ids = itertools.count(1)
        self._stack: list[dict] = []

    def _set_group(self, group: str | None, desc: str | None) -> None:
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", group)
        sc.setLocalProperty("spark.job.description", desc)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent["id"] if parent else None,
               "group": f"pb-{sid}", **attrs}
        self._stack.append(rec)
        self._set_group(rec["group"], name)
        self.overhead_s += time.perf_counter() - t
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            t = time.perf_counter()
            self._stack.pop()
            if parent:
                self._set_group(parent["group"], parent["name"])
            else:
                self._set_group(None, None)
            self.spans.append(rec)
            self.overhead_s += time.perf_counter() - t

    def add(self, name: str, start: float, end: float, parent: dict | None = None, **attrs) -> dict:
        """Record a span measured elsewhere (a micro-batch from progress)."""
        rec = {"id": next(self._ids), "name": name, "start": start, "end": end,
               "parent": parent["id"] if parent else None, **attrs}
        if self.enabled:
            self.spans.append(rec)
        return rec

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _conv(spark):
    return spark._jvm.scala.jdk.javaapi.CollectionConverters


def job_groups(spark) -> dict[int, str | None]:
    """Job id -> job group of every job the status store retains."""
    conv = _conv(spark)
    store = spark.sparkContext._jsc.sc().statusStore()
    out = {}
    for j in conv.asJava(store.jobsList(None)):
        g = j.jobGroup()
        out[int(j.jobId())] = g.get() if g.isDefined() else None
    return out


STAGE_KEYS = ("executor_cpu_s", "executor_run_s", "gc_s", "input_bytes", "input_rows",
              "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "tasks")


def stage_metrics(spark, min_job: int) -> tuple[dict[str, float], dict[str, dict]]:
    """Stage data of every job from ``min_job`` on: executor CPU, run
    and GC time, input, shuffle, spill, task count, peak execution
    memory and task skew (max / median task run time; the median over
    stages of four or more tasks). Returns the totals and the sums per
    job group, so a span's jobs can be read back by its group."""
    conv = _conv(spark)
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    quantiles = sc._gateway.new_array(spark._jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    total = dict.fromkeys(STAGE_KEYS, 0.0) | {"peak_exec_memory_mb": 0.0, "jobs": 0.0}
    by_group: dict[str, dict] = {}
    skews = []
    for j in conv.asJava(store.jobsList(None)):
        if int(j.jobId()) < min_job:
            continue
        g = j.jobGroup()
        grp = by_group.setdefault(g.get() if g.isDefined() else "", dict.fromkeys(STAGE_KEYS, 0.0))
        total["jobs"] += 1
        for sid in conv.asJava(j.stageIds()):
            for sd in conv.asJava(store.stageData(sid, False, None, False, None)):
                if sd.status().toString() == "SKIPPED":
                    continue
                vals = {
                    "executor_cpu_s": sd.executorCpuTime() / 1e9,
                    "executor_run_s": sd.executorRunTime() / 1e3,
                    "gc_s": sd.jvmGcTime() / 1e3,
                    "input_bytes": sd.inputBytes(),
                    "input_rows": sd.inputRecords(),
                    "shuffle_write_bytes": sd.shuffleWriteBytes(),
                    "shuffle_read_bytes": sd.shuffleReadBytes(),
                    "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                    "tasks": sd.numCompleteTasks(),
                }
                for k, v in vals.items():
                    total[k] += v
                    grp[k] += v
                total["peak_exec_memory_mb"] = max(
                    total["peak_exec_memory_mb"], sd.peakExecutionMemory() / 2**20)
                if sd.numCompleteTasks() >= 4:
                    summ = store.taskSummary(sid, sd.attemptId(), quantiles)
                    if summ.isDefined():
                        med, mx = list(conv.asJava(summ.get().executorRunTime()))
                        if med > 0:
                            skews.append(mx / med)
    total["task_skew"] = statistics.median(skews) if skews else 1.0
    return total, by_group


SQL_METRICS = {
    "scan time": "scan_s",
    "time to start Python workers": "pyworker_start_s",
    "time to initialize Python workers": "pyworker_init_s",
    "time to run Python workers": "pyworker_run_s",
    "data sent to Python workers": "pyworker_bytes_sent",
    "data returned from Python workers": "pyworker_bytes_returned",
}


def sql_metrics(spark, min_job: int) -> dict[str, float]:
    """Selected SQL plan metrics summed over the executions that ran a
    job numbered ``min_job`` or later."""
    conv = _conv(spark)
    store = spark._jsparkSession.sharedState().statusStore()
    out = dict.fromkeys(SQL_METRICS.values(), 0.0)
    for e in conv.asJava(store.executionsList()):
        job_ids = [int(k) for k in conv.asJava(e.jobs()).keySet()]
        if not job_ids or max(job_ids) < min_job:
            continue
        wanted = {pm.accumulatorId(): SQL_METRICS[pm.name()]
                  for pm in conv.asJava(e.metrics()) if pm.name() in SQL_METRICS}
        if not wanted:
            continue
        values = conv.asJava(store.executionMetrics(e.executionId()))
        for acc_id, key in wanted.items():
            text = values.get(acc_id)
            if text:
                out[key] += parse_sql_metric(text)
    return out


def progress_metrics(progress: list) -> dict[str, float]:
    """Trigger-phase times and state-store figures summed over the
    micro-batches of one streaming query's progress list."""
    keys = {"triggerExecution": "trigger_s", "addBatch": "add_batch_s",
            "queryPlanning": "query_planning_s", "walCommit": "wal_commit_s",
            "commitOffsets": "commit_offsets_s", "latestOffset": "latest_offset_s"}
    out = dict.fromkeys(keys.values(), 0.0)
    out.update(batches=0.0, state_rows=0.0, state_memory_mb=0.0, state_commit_s=0.0,
               watermark_dropped_rows=0.0)
    for p in progress:
        if int(p["numInputRows"]) == 0:
            continue
        out["batches"] += 1
        for k, name in keys.items():
            out[name] += float(p["durationMs"].get(k, 0)) / 1e3
        for op in p["stateOperators"] or []:
            out["state_commit_s"] += float(op["commitTimeMs"]) / 1e3
            out["watermark_dropped_rows"] += float(op["numRowsDroppedByWatermark"])
    last = [p for p in progress if p["stateOperators"]]
    if last:
        ops = last[-1]["stateOperators"]
        out["state_rows"] = float(sum(int(op["numRowsTotal"]) for op in ops))
        out["state_memory_mb"] = sum(int(op["memoryUsedBytes"]) for op in ops) / 2**20
    return out


def trigger_span(p) -> tuple[float, float]:
    """Wall-clock (start, end) of a micro-batch: its start stamp and
    that plus its trigger execution time."""
    import datetime as dt

    start = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc).timestamp()
    return start, start + float(p["durationMs"]["triggerExecution"]) / 1e3
