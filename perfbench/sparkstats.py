"""Spark's own counters, read through its status APIs after each op.

Jobs are found by job group (``StatusTracker.getJobIdsForGroup``); their
stages are read from the in-process status store, which works with the UI
disabled. Python worker time comes from the SQL metrics of the Python exec
nodes of each SQL execution the op started. Streaming counters come
from ``StreamingQuery.recentProgress``.
"""

from __future__ import annotations

import json
import re
import statistics

from tracing import covered_s

STAGE_FIELDS = (
    "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_records",
)
#: SQL metrics of Python exec nodes (Arrow UDFs, Python data sources)
PY_METRICS = {
    "time to run Python workers": "python.eval_s",
    "data returned from Python workers": "python.bytes_returned",
}
_VALUE = re.compile(r"([\d.,]+)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB)(?![\w])")
_SCALE = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class SparkStats:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()

    def sql_mark(self) -> int:
        return self.sql_store.executionsCount()

    def jobs(self, group: str | None) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def job_stats(self, job_ids) -> tuple[dict, list[tuple[int, float, float]]]:
        """Totals over the jobs' stages, and (job id, start, end) per job."""
        tot = dict.fromkeys(("jobs", "job_idle_s") + STAGE_FIELDS, 0.0)
        spans = []
        for jid in job_ids:
            jd = self.store.job(jid)
            start, end = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
            if start is None or end is None:
                continue
            tot["jobs"] += 1
            spans.append((jid, start, end))
            busy = []
            for sid in self.sc.statusTracker().getJobInfo(jid).stageIds:
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — stage evicted from the store
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["tasks"] += sd.numCompleteTasks()
                tot["executor_run_s"] += sd.executorRunTime() / 1e3
                tot["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                tot["gc_s"] += sd.jvmGcTime() / 1e3
                tot["shuffle_read_bytes"] += sd.shuffleReadBytes()
                tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                tot["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                tot["input_records"] += sd.inputRecords()
                first, done = _opt_ms(sd.firstTaskLaunchedTime()), _opt_ms(sd.completionTime())
                if first is not None and done is not None:
                    busy.append((max(first, start), min(done, end)))
            tot["job_idle_s"] += max(0.0, (end - start) - covered_s(busy))
        return tot, spans

    def python_metrics(self, since: int) -> dict[str, float]:
        """:data:`PY_METRICS` summed over the SQL executions since ``since``
        (an earlier :meth:`sql_mark`). A Python data source scan reports
        bytes but no time."""
        out = dict.fromkeys(PY_METRICS.values(), 0.0)
        n = self.sql_store.executionsCount()
        if n <= since:
            return out
        execs = self.sql_store.executionsList(since, n - since)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            wanted = []
            nodes = self.sql_store.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                ms = nodes.apply(k).metrics()
                for j in range(ms.size()):
                    name = PY_METRICS.get(ms.apply(j).name())
                    if name is not None:
                        wanted.append((ms.apply(j).accumulatorId(), name))
            if not wanted:
                continue
            values = self.sql_store.executionMetrics(eid)
            for acc, name in wanted:
                v = values.get(acc)
                if v.isDefined():
                    out[name] += parse_metric(v.get())
        return out

    def persisted_rdds(self) -> int:
        return len(self.sc._jsc.getPersistentRDDs())


def parse_metric(text: str) -> float:
    """Spark's formatted SQL metric ("24 ms", "8.5 KiB", or a "total (min,
    med, max ...)" header over "10.9 s (...)") → seconds or bytes."""
    m = _VALUE.search(text.strip().splitlines()[-1])
    return float(m.group(1).replace(",", "")) * _SCALE[m.group(2)] if m else 0.0


def progress(query) -> list[dict]:
    """``recentProgress`` as plain dicts, whatever the PySpark version returns."""
    out = []
    for p in query.recentProgress:
        out.append(json.loads(p.json) if hasattr(p, "json") else dict(p))
    return out


def trigger_stats(prog: list[dict]) -> dict:
    """Per-trigger medians of the micro-batch phases and the state store."""
    def med(key):
        vals = [p["durationMs"].get(key, 0) for p in prog]
        return statistics.median(vals) if vals else 0.0

    data = [p["numInputRows"] for p in prog if p["numInputRows"]]
    state = [op for p in prog for op in p.get("stateOperators", [])]
    last = prog[-1].get("stateOperators", []) if prog else []
    return {
        "triggers": len(prog),
        "input_rows_per_trigger": statistics.median(data) if data else 0.0,
        "latest_offset_ms": med("latestOffset"),
        "get_batch_ms": med("getBatch"),
        "query_planning_ms": med("queryPlanning"),
        "add_batch_ms": med("addBatch"),
        "wal_commit_ms": med("walCommit"),
        "state_rows": sum(op["numRowsTotal"] for op in last),
        "state_bytes": sum(op["memoryUsedBytes"] for op in last),
        "state_commit_ms": statistics.median([op["commitTimeMs"] for op in state]) if state else 0.0,
    }
