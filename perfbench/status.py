"""Counters from Spark's own status stores (works with the UI disabled).

Two JVM stores are read through py4j:

* ``sc._jsc.sc().statusStore()`` - the core ``AppStatusStore``: jobs,
  stages, task metrics.
* ``spark._jsparkSession.sharedState().statusStore()`` - the SQL
  ``SQLAppStatusStore``: one entry per SQL execution with its physical plan.

The stores keep only the most recent ~1000 jobs, stages and executions, so
callers take a :class:`Snapshot` per span (:meth:`StatusReader.delta`)
instead of reading the stores once at the end.
"""

from __future__ import annotations

import re
import statistics
from dataclasses import dataclass, field

# Physical-plan nodes that run Python code in the Python workers.
PYTHON_NODES = re.compile(
    r"\b(ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas|FlatMapGroupsInArrow|"
    r"MapInPandas|MapInArrow|FlatMapCoGroupsInPandas|AggregateInPandas|"
    r"WindowInPandas|PythonMapInArrow)\b"
)

COUNTERS = (
    "jobs", "stages", "tasks", "sql_execs", "executor_run_s", "executor_cpu_s",
    "gc_s", "shuffle_write_bytes", "shuffle_read_bytes", "input_bytes",
    "spill_bytes", "python_node_runs",
)


def _seq(jvm_seq) -> list:
    """A Scala ``Seq`` as a Python list."""
    it = jvm_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


@dataclass
class Snapshot:
    """Counters of the jobs and SQL executions that finished in a span."""

    counters: dict = field(default_factory=lambda: {k: 0 for k in COUNTERS})
    stage_ids: list = field(default_factory=list)
    plans: list = field(default_factory=list)  # physical plan text per execution
    task_s: list = field(default_factory=list)  # task durations, if requested

    def count_plans(self, pattern: str) -> int:
        """SQL executions whose physical plan mentions ``pattern``."""
        return sum(1 for p in self.plans if pattern in p)


class StatusReader:
    """Reads the two status stores of one live SparkSession."""

    def __init__(self, spark):
        self.spark = spark
        self.core = spark.sparkContext._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._jobs_seen = self._job_ids()
        self._execs_seen = self._exec_ids()

    def _job_ids(self) -> set[int]:
        return {int(j.jobId()) for j in _seq(self.core.jobsList(None))}

    def _exec_ids(self) -> set[int]:
        return {int(e.executionId()) for e in _seq(self.sql.executionsList())}

    def mark(self) -> None:
        """Forget everything finished so far; the next delta starts here."""
        self._jobs_seen = self._job_ids()
        self._execs_seen = self._exec_ids()

    def delta(self, tasks: bool = False) -> Snapshot:
        """Counters of the jobs and executions since the last mark/delta."""
        snap = Snapshot()
        c = snap.counters
        jobs = [j for j in _seq(self.core.jobsList(None)) if int(j.jobId()) not in self._jobs_seen]
        for j in jobs:
            self._jobs_seen.add(int(j.jobId()))
            c["jobs"] += 1
            snap.stage_ids.extend(int(s) for s in _seq(j.stageIds()))
        for sid in sorted(set(snap.stage_ids)):
            for st in _seq(self.core.stageData(sid, False, None, False, None)):
                if str(st.status()) == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += int(st.numCompleteTasks())
                c["executor_run_s"] += int(st.executorRunTime()) / 1e3
                c["executor_cpu_s"] += int(st.executorCpuTime()) / 1e9
                c["gc_s"] += int(st.jvmGcTime()) / 1e3
                c["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
                c["shuffle_read_bytes"] += int(st.shuffleReadBytes())
                c["input_bytes"] += int(st.inputBytes())
                c["spill_bytes"] += int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
                if tasks:
                    for t in _seq(self.core.taskList(sid, int(st.attemptId()), 100000)):
                        d = t.duration()
                        if d.isDefined():
                            snap.task_s.append(int(d.get()) / 1e3)
        for e in _seq(self.sql.executionsList()):
            eid = int(e.executionId())
            if eid in self._execs_seen:
                continue
            self._execs_seen.add(eid)
            c["sql_execs"] += 1
            plan = str(e.physicalPlanDescription())
            snap.plans.append(plan)
            c["python_node_runs"] += len(PYTHON_NODES.findall(plan.split("\n\n")[0]))
        return snap


def task_skew(task_s: list[float]) -> float:
    """max / median task time (1.0 = perfectly even)."""
    if not task_s:
        return 0.0
    med = statistics.median(task_s)
    return max(task_s) / med if med > 0 else 0.0
