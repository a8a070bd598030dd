"""Spans and Spark counters for the traced run.

Spans are taken only here, in the benchmark, around its calls into the
engine: workload → pass → operation → {build, plan, execute}, plus a
``harvest`` span for reading Spark's status stores.  Every span records its
name, start, end, parent and run id; spans stay in memory until the run
writes them out.

Jobs are attributed to an operation phase with ``setJobGroup``; job, stage
and task numbers come from ``statusTracker()`` and the core status store
(``lastStageAttempt``), which Spark keeps with the UI disabled.  Python
worker traffic and file-scan bytes come from the SQL status store's
plan-graph metrics.
Nothing here changes a Spark conf.
"""

from __future__ import annotations

import contextlib
import re
import time

#: The SQL metric of the Python-evaluation plan nodes (ArrowEvalPython,
#: MapInPandas, ...) that counts the bytes they ship to Python workers.
PYTHON_SENT = "data sent to Python workers"
#: The SQL metric of the file-scan nodes (Scan csv, Scan parquet, ...): the
#: bytes of the files the scan opened.  Reads of persisted blocks have no
#: such node, so they are not counted.
FILES_READ = "size of files read"
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def parse_size_metric(text: str) -> float:
    """Bytes from a SQL size metric as the status store renders it, e.g.
    ``"total (min, med, max (stageId: taskId))\\n1.5 MiB (...)"`` or
    ``"1.5 MiB"``."""
    m = re.search(r"([0-9][0-9.,]*)\s*(B|KiB|MiB|GiB|TiB)\b", text.split("\n")[-1])
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)] if m else 0.0


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - union_length(children.get(s["id"], []))
        for s in spans
    }


class Py4jCounter:
    """Counts commands sent over the py4j gateway while installed."""

    def __init__(self, spark):
        self.client = spark.sparkContext._gateway._gateway_client
        self.count = 0

    def __enter__(self):
        send = type(self.client).send_command.__get__(self.client)

        def counting_send(*args, **kwargs):
            self.count += 1
            return send(*args, **kwargs)

        self.client.send_command = counting_send
        return self

    def __exit__(self, *exc):
        del self.client.send_command


class Tracer:
    """Span recorder plus Spark status harvesting for one traced run."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        # A job lists the stages it reuses from earlier jobs (AQE submits a
        # job per query stage), and lastStageAttempt reports them COMPLETE:
        # count each stage once, with the job that ran it first.
        self._seen_stages: set[int] = set()

    @contextlib.contextmanager
    def span(self, name: str, **fields):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **fields,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    # -- Spark status ----------------------------------------------------

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self.sc._jsc.clearJobGroup()

    def sql_execution_count(self) -> int:
        return int(self.spark._jsparkSession.sharedState().statusStore().executionsCount())

    def jobs(self, group: str) -> list[dict]:
        """Per-job intervals (epoch seconds) and stage totals for a group."""
        store = self.sc._jsc.sc().statusStore()
        out = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            rec = {
                "job": jid,
                "start": sub.get().getTime() / 1000 if sub.isDefined() else None,
                "end": done.get().getTime() / 1000 if done.isDefined() else None,
                "stages": 0, "tasks": 0, "task_s": 0.0, "cpu_s": 0.0,
                "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
                "spill_bytes": 0,
            }
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in self._seen_stages:
                    continue
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                self._seen_stages.add(sid)
                rec["stages"] += 1
                rec["tasks"] += st.numTasks()
                rec["task_s"] += st.executorRunTime() / 1e3
                rec["cpu_s"] += st.executorCpuTime() / 1e9
                rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
                rec["shuffle_read_bytes"] += st.shuffleReadBytes()
                rec["spill_bytes"] += st.diskBytesSpilled()
            out.append(rec)
        return out

    def sql_size_metrics(self, first_execution: int, names: tuple[str, ...]) -> dict[str, float]:
        """Bytes per SQL size metric in ``names``, summed over the plan nodes
        of the SQL executions started since ``first_execution`` (an earlier
        ``sql_execution_count()``)."""
        totals = dict.fromkeys(names, 0.0)
        store = self.spark._jsparkSession.sharedState().statusStore()
        n = int(store.executionsCount()) - first_execution
        if n <= 0:
            return totals
        execs = store.executionsList(first_execution, n)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            values = store.executionMetrics(eid)
            nodes = store.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                metrics = nodes.apply(j).metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    if m.name() in totals:
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            totals[m.name()] += parse_size_metric(v.get())
        return totals

    def storage(self) -> tuple[int, int]:
        """(bytes, blocks) currently persisted, from ``getRDDStorageInfo``."""
        nbytes = blocks = 0
        for info in self.sc._jsc.sc().getRDDStorageInfo():
            nbytes += info.memSize() + info.diskSize()
            blocks += info.numCachedPartitions()
        return nbytes, blocks
