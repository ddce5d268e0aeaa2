"""Spans around calls into the package, with Spark's own ledger per span.

Each span tags the Spark jobs it starts with ``setJobGroup(<span>)``.
After the run, stages and SQL executions are read back from Spark's status
stores (these work with ``spark.ui.enabled=false``) and summed per span:
task time, CPU, GC, shuffle, spill, input bytes and files read. Python
worker CPU is read from ``/proc`` at each span boundary.

Spans (name, start, end, parent) stay in memory and are written once, by
``Tracer.write``. A span's self time is its duration minus its children's.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from perfbench import procs

_STAGE_FIELDS = (
    "executorRunTime", "executorCpuTime", "jvmGcTime", "shuffleReadBytes",
    "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled",
    "inputBytes", "outputBytes", "numTasks", "numFailedTasks",
)


def _jlist(jobj) -> list:
    out, it = [], jobj.iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def _opt(jopt) -> str | None:
    return jopt.get() if jopt.isDefined() else None


class Tracer:
    def __init__(self, spark, worker_pids):
        self._sc = spark.sparkContext
        self._spark = spark
        self._worker_pids = worker_pids
        self._stack: list[dict] = []
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1]["name"] if self._stack else None
        rec = {"name": name, "parent": parent}
        self._stack.append(rec)
        self._sc.setJobGroup(name, name)
        cpu0 = procs.cpu_seconds(self._worker_pids())
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["python_cpu_s"] = procs.cpu_seconds(self._worker_pids()) - cpu0
            self._stack.pop()
            if parent is None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            else:
                self._sc.setJobGroup(parent, parent)
            self.spans.append(rec)

    def get(self, name: str) -> dict:
        return next(s for s in self.spans if s["name"] == name)

    def self_s(self, name: str) -> float:
        rec = self.get(name)
        children = sum(
            s["end"] - s["start"] for s in self.spans if s["parent"] == name
        )
        return rec["end"] - rec["start"] - children

    def collect_ledger(self) -> None:
        """Attach the Spark stage and SQL-scan totals to every span."""
        jvm = self._sc._jvm
        store = self._sc._jsc.sc().statusStore()
        empty = jvm.java.util.ArrayList()
        stages = _jlist(store.stageList(
            empty, False, False, self._sc._gateway.new_array(jvm.double, 0), empty
        ))
        by_span: dict[str, dict] = {}
        for st in stages:
            desc = _opt(st.description())
            if desc is None or st.status().toString() == "SKIPPED":
                continue
            acc = by_span.setdefault(desc, dict.fromkeys(_STAGE_FIELDS, 0) | {"stages": 0})
            acc["stages"] += 1
            for f in _STAGE_FIELDS:
                acc[f] += int(getattr(st, f)())
        jobs: dict[str, int] = {}
        for job in _jlist(store.jobsList(empty)):
            group = _opt(job.jobGroup())
            if group is not None:
                jobs[group] = jobs.get(group, 0) + 1
        files: dict[str, int] = {}
        sql = self._spark._jsparkSession.sharedState().statusStore()
        names = {rec["name"] for rec in self.spans}
        for ex in _jlist(sql.executionsList()):
            desc = ex.description()
            if desc not in names:
                continue
            metrics = sql.executionMetrics(ex.executionId())
            for node in _jlist(sql.planGraph(ex.executionId()).allNodes()):
                if not node.name().startswith("Scan"):
                    continue
                for m in _jlist(node.metrics()):
                    if m.name() == "number of files read":
                        v = metrics.get(m.accumulatorId())
                        if v.isDefined():
                            files[desc] = files.get(desc, 0) + int(v.get().replace(",", ""))
        for rec in self.spans:
            rec["spark"] = by_span.get(rec["name"], dict.fromkeys(_STAGE_FIELDS, 0) | {"stages": 0})
            rec["spark"]["jobs"] = jobs.get(rec["name"], 0)
            rec["spark"]["files_read"] = files.get(rec["name"], 0)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1, sort_keys=True)
