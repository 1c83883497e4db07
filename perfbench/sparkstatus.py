"""Spark's own status surfaces, read through py4j.

``get_spark`` turns the UI off, so there is no REST API; the
AppStatusStore that backs it still records every job and stage. One
Jackson call serializes each list, so a snapshot costs two py4j round-trips
however many stages the run made. Retention is raised in ``SPARK_CONF`` so
that no early stage is evicted before the snapshot.

Attribution follows ``contrib/shuffle_profile.py``: the benchmark runs a
tiny marker job in job group ``<MARKER><label>`` after each unit of work,
and every job whose id falls between two markers belongs to the unit the
second marker closes. Each stage is charged once, to the first job that
lists it, and only its newest COMPLETE attempt counts.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

MARKER = "__perfbench__"

# Keys summed per unit. executorCpuTime is in ns; the rest in ms or bytes.
STAGE_FIELDS = (
    "executorCpuTime", "executorRunTime", "jvmGcTime", "shuffleReadBytes",
    "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled", "numCompleteTasks",
)

SPARK_CONF = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.ui.retainedTasks": "1000",
    "spark.sql.ui.retainedExecutions": "100000",
    "spark.sql.streaming.numRecentProgressUpdates": "100000",
    "spark.ui.showConsoleProgress": "false",
}


def mark(spark, label: str) -> None:
    """Close the current attribution window with a one-task JVM-only job
    (no Python worker, so the marker costs no pyworker CPU)."""
    sc = spark.sparkContext
    one = sc._jvm.java.util.ArrayList()
    one.add(0)
    sc.setJobGroup(MARKER + label, "perfbench window marker")
    try:
        sc._jsc.parallelize(one, 1).count()
    finally:
        sc.setJobGroup("", "")


def _mapper(spark):
    jvm = spark.sparkContext._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_module, "MODULE$"))
    return mapper


def snapshot(spark) -> tuple[list[dict], dict[int, dict]]:
    """All jobs (sorted by id) and the newest complete attempt of each stage."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jvm = sc._jvm
    store = jsc.statusStore()
    empty = jvm.java.util.ArrayList()
    mapper = _mapper(spark)
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(empty)))
    raw_stages = json.loads(mapper.writeValueAsString(store.stageList(
        empty, False, False, sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList()
    )))
    stages: dict[int, dict] = {}
    for s in raw_stages:
        if s.get("status") != "COMPLETE":
            continue
        cur = stages.get(s["stageId"])
        if cur is None or s.get("attemptId", 0) > cur.get("attemptId", 0):
            stages[s["stageId"]] = {k: s.get(k, 0) or 0 for k in STAGE_FIELDS}
    return sorted(jobs, key=lambda j: j["jobId"]), stages


@dataclass
class Usage:
    """Spark work charged to one unit (a query step or a drain)."""

    jobs: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    def add(self, other: "Usage") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))

    def metrics(self, wall: float, cores: int) -> dict:
        """The ``exec.*`` layer metrics of this usage over ``wall`` seconds."""
        return {
            "exec.cpu_s": self.cpu_s, "exec.run_s": self.run_s,
            "exec.slot_util": self.run_s / (wall * cores),
            "exec.jobs": self.jobs, "exec.tasks": self.tasks,
            "exec.shuffle_read_bytes": self.shuffle_read_bytes,
            "exec.shuffle_write_bytes": self.shuffle_write_bytes,
            "exec.spill_bytes": self.spill_bytes, "exec.gc_s": self.gc_s,
        }


def _charge(jobs: list[dict], stages: dict[int, dict], claimed: set[int]) -> Usage:
    u = Usage(jobs=len(jobs))
    for job in jobs:
        for sid in job.get("stageIds", ()):
            if sid in claimed or sid not in stages:
                continue
            claimed.add(sid)
            s = stages[sid]
            u.tasks += s["numCompleteTasks"]
            u.cpu_s += s["executorCpuTime"] / 1e9
            u.run_s += s["executorRunTime"] / 1e3
            u.gc_s += s["jvmGcTime"] / 1e3
            u.shuffle_read_bytes += s["shuffleReadBytes"]
            u.shuffle_write_bytes += s["shuffleWriteBytes"]
            u.spill_bytes += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
    return u


def by_marker(jobs: list[dict], stages: dict[int, dict]) -> dict[str, Usage]:
    """Usage per marker label; marker jobs themselves are not charged."""
    out: dict[str, Usage] = {}
    claimed: set[int] = set()
    window: list[dict] = []
    for job in jobs:
        group = job.get("jobGroup") or ""
        if group.startswith(MARKER):
            # the marker's own stages are never charged to anything
            claimed.update(job.get("stageIds", ()))
            out[group[len(MARKER):]] = _charge(window, stages, claimed)
            window = []
        else:
            window.append(job)
    return out


def by_batch(jobs: list[dict], stages: dict[int, dict]) -> dict[int, Usage]:
    """Usage per streaming micro-batch, keyed by the batch id Structured
    Streaming writes into each job's description (``batch = N``)."""
    groups: dict[int, list[dict]] = {}
    for job in jobs:
        desc = job.get("description") or ""
        if "batch = " in desc:
            batch = int(desc.rsplit("batch = ", 1)[1].split()[0])
            groups.setdefault(batch, []).append(job)
    claimed: set[int] = set()
    return {b: _charge(js, stages, claimed) for b, js in sorted(groups.items())}
