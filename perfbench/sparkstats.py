"""Spark engine metrics read from the benchmark's side, with no change to
the library: stage and task data from the status store, SQL-plan metrics
from the SQL status store (the AQE final plan), both through py4j; and the
Python workers' peak RSS from /proc."""

from __future__ import annotations

import re
from pathlib import Path

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def parse_metric(text: str) -> float:
    """A formatted SQL metric value in base units (bytes, seconds, count).
    Multi-task metrics read 'total (min, med, max ...)\\n<total> (...)'."""
    if "\n" in text:
        text = text.rsplit("\n", 1)[1]
    text = text.split(" (", 1)[0].strip().replace(",", "")
    m = re.fullmatch(r"(-?[0-9.]+)(?:\s*([A-Za-z]+))?", text)
    if not m:
        raise ValueError(f"unparsed SQL metric value {text!r}")
    return float(m.group(1)) * _UNITS.get(m.group(2) or "", 1)


PYTHON_METRICS = ("time to run Python workers", "data sent to Python workers")


class StatusStore:
    """Access to the live application status (jobs, stages, tasks, SQL
    executions). ``snapshot`` reads jobs and stages once; every py4j call
    is a round trip, so per-span lookups use the snapshot."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._jvm = sc._jvm
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.jobs: list[dict] = []
        self.stages: dict[int, dict] = {}

    def sync(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self._jsc.listenerBus().waitUntilEmpty()

    def _list(self, seq) -> list:
        return list(self._conv.asJava(seq))

    def snapshot(self) -> None:
        from pyspark import SparkContext

        self.sync()
        self.jobs = []
        for j in self._list(self._store.jobsList(None)):
            group = j.jobGroup()
            self.jobs.append({
                "id": j.jobId(),
                "group": group.get() if group.isDefined() else None,
                "stages": [int(s) for s in self._list(j.stageIds())],
            })
        quantiles = SparkContext._gateway.new_array(self._jvm.double, 0)
        self.stages = {}
        for st in self._list(self._store.stageList(None, False, False, quantiles, None)):
            rec = self.stages.setdefault(st.stageId(), {
                "attempt": 0, "tasks": 0, "run_ms": 0, "gc_ms": 0,
                "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "fetch_wait_ms": 0,
            })
            rec["attempt"] = max(rec["attempt"], st.attemptId())
            rec["tasks"] += st.numCompleteTasks()
            rec["run_ms"] += st.executorRunTime()
            rec["gc_ms"] += st.jvmGcTime()
            rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
            rec["shuffle_read_bytes"] += st.shuffleReadBytes()
            rec["fetch_wait_ms"] += st.shuffleFetchWaitTime()

    def group_stages(self, groups: set[str]) -> list[tuple[int, dict]]:
        """(stage id, stage record) of the jobs run under the job groups."""
        ids = sorted({s for j in self.jobs if j["group"] in groups for s in j["stages"]})
        return [(s, self.stages[s]) for s in ids if s in self.stages]

    def task_run_ms(self, stage_id: int, attempt: int) -> list[int]:
        out = []
        for t in self._list(self._store.taskList(stage_id, attempt, 100_000)):
            m = t.taskMetrics()
            if m.isDefined():
                out.append(m.get().executorRunTime())
        return out

    def last_execution_id(self) -> int:
        ids = [e.executionId() for e in self._list(self._sql.executionsList())]
        return max(ids) if ids else -1

    def python_metrics(self, after_id: int, upto_id: int, job_ids: set[int]) -> dict[str, float]:
        """Sums of PYTHON_METRICS over the Python nodes of the final (AQE)
        plans of the SQL executions with after_id < id <= upto_id that ran
        any of ``job_ids``."""
        out = dict.fromkeys(PYTHON_METRICS, 0.0)
        for e in self._list(self._sql.executionsList()):
            eid = e.executionId()
            if not after_id < eid <= upto_id:
                continue
            if not {int(j) for j in self._conv.asJava(e.jobs().keySet())} & job_ids:
                continue
            values = self._conv.asJava(self._sql.executionMetrics(eid))
            for node in self._list(self._sql.planGraph(eid).allNodes()):
                for m in self._list(node.metrics()):
                    name = m.name()
                    if name in out:
                        v = values.get(m.accumulatorId())
                        if v is not None:
                            out[name] += parse_metric(v)
        return out


def engine_metrics(store: StatusStore, groups: set[str], exec_window: tuple[int, int],
                   wall_s: float, cores: int) -> dict[str, float]:
    """The spark.* per-layer metrics over the jobs run under ``groups``."""
    st = [rec for _, rec in store.group_stages(groups)]
    run_s = sum(s["run_ms"] for s in st) / 1000.0
    job_ids = {j["id"] for j in store.jobs if j["group"] in groups}
    py = store.python_metrics(*exec_window, job_ids)
    return {
        "spark.jobs": float(len(job_ids)),
        "spark.tasks": float(sum(s["tasks"] for s in st)),
        "spark.executor_run_s": run_s,
        "spark.core_busy_ratio": run_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "spark.shuffle_write_bytes": float(sum(s["shuffle_write_bytes"] for s in st)),
        "spark.shuffle_fetch_wait_s": sum(s["fetch_wait_ms"] for s in st) / 1000.0,
        "spark.gc_s": sum(s["gc_ms"] for s in st) / 1000.0,
        "spark.python_total_s": py["time to run Python workers"],
        "spark.python_data_sent_bytes": py["data sent to Python workers"],
    }


def _children(pid_root: int) -> list[int]:
    parent: dict[int, int] = {}
    for entry in Path("/proc").iterdir():
        if not entry.name.isdigit():
            continue
        try:
            stat = (entry / "stat").read_text()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        parent[int(entry.name)] = ppid
    out, frontier = [], [pid_root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def python_worker_peak_rss_mb(jvm_pid: int) -> float:
    """Max VmHWM (the kernel's own RSS high-water mark) over the Python
    processes the JVM started (the pyspark daemon and its workers)."""
    peak_kb = 0
    for pid in _children(jvm_pid):
        try:
            cmd = Path(f"/proc/{pid}/cmdline").read_bytes()
            if b"pyspark" not in cmd:
                continue
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    peak_kb = max(peak_kb, int(line.split()[1]))
        except OSError:
            continue
    return peak_kb / 1024.0


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid
