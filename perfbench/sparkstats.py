"""Counters read from Spark's status store and from /proc.

The status store is the data source of Spark's UI; it stays live with the
UI off. It keeps only ``spark.ui.retainedJobs`` / ``retainedStages``
entries, so ``run.py`` sizes both far above what a run starts, and
``StatusStore.check_retained`` fails the run when any job or stage is
missing anyway, rather than report a silently short count.
"""

from __future__ import annotations

import os
import statistics
from dataclasses import dataclass

RETAINED = 200_000  # spark.ui.retainedJobs / retainedStages for the run


@dataclass
class Stage:
    id: int
    num_tasks: int
    run_ms: int  # summed executorRunTime: core-milliseconds
    gc_ms: int
    shuffle_write_bytes: int
    spill_bytes: int
    submit_ms: int | None
    complete_ms: int | None


@dataclass
class Job:
    id: int
    group: str | None
    stage_ids: list[int]


class StatusStore:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._gw = sc._gateway
        self._store = sc._jsc.sc().statusStore()
        self.cores = sc.defaultParallelism

    def jobs(self) -> dict[int, Job]:
        out = {}
        it = self._store.jobsList(self._gw.jvm.java.util.ArrayList()).iterator()
        while it.hasNext():
            j = it.next()
            grp = j.jobGroup()
            out[j.jobId()] = Job(
                id=j.jobId(),
                group=grp.get() if grp.isDefined() else None,
                stage_ids=[int(s) for s in _seq(j.stageIds())],
            )
        return out

    def stages(self) -> dict[int, Stage]:
        jvm = self._gw.jvm
        lst = self._store.stageList(
            jvm.java.util.ArrayList(),  # every status
            False,  # no task details
            False,  # no summaries
            self._gw.new_array(jvm.double, 0),  # no quantiles
            jvm.java.util.ArrayList(),  # every task status
        )
        out = {}
        it = lst.iterator()
        while it.hasNext():
            s = it.next()
            sub, comp = s.submissionTime(), s.completionTime()
            stage = Stage(
                id=s.stageId(),
                num_tasks=s.numTasks(),
                run_ms=s.executorRunTime(),
                gc_ms=s.jvmGcTime(),
                shuffle_write_bytes=s.shuffleWriteBytes(),
                spill_bytes=s.diskBytesSpilled(),
                submit_ms=sub.get().getTime() if sub.isDefined() else None,
                complete_ms=comp.get().getTime() if comp.isDefined() else None,
            )
            prev = out.get(stage.id)
            # a retried stage has several attempts; keep the summed work
            if prev is not None:
                stage.run_ms += prev.run_ms
                stage.gc_ms += prev.gc_ms
            out[stage.id] = stage
        return out

    def task_run_ms(self, stage_id: int) -> list[tuple[int, int]]:
        """(executorRunTime ms, rows read) of each finished task."""
        out = []
        it = self._store.taskList(stage_id, 0, 1 << 30).iterator()
        while it.hasNext():
            m = it.next().taskMetrics()
            if m.isDefined():
                m = m.get()
                rows = (m.inputMetrics().recordsRead()
                        + m.shuffleReadMetrics().recordsRead())
                out.append((m.executorRunTime(), rows))
        return out

    def operators(self, stage_id: int) -> set[str]:
        """Names of the physical operators a stage runs, from its
        operation graph (e.g. ``MapInPandas``, ``Exchange``)."""
        names, todo = set(), [self._store.operationGraphForStage(stage_id)
                              .rootCluster()]
        while todo:
            cluster = todo.pop()
            names.add(cluster.name())
            todo.extend(_seq(cluster.childClusters()))
        return names

    def check_retained(self) -> tuple[dict[int, Job], dict[int, Stage]]:
        """Every job since the context started, and every stage of those
        jobs, must still be in the store."""
        jobs, stages = self.jobs(), self.stages()
        if sorted(jobs) != list(range(len(jobs))) or len(jobs) >= RETAINED:
            raise RuntimeError(
                f"status store lost jobs: {len(jobs)} retained, ids up to "
                f"{max(jobs, default=-1)}; raise spark.ui.retainedJobs"
            )
        missing = {s for j in jobs.values() for s in j.stage_ids} - set(stages)
        if missing or len(stages) >= RETAINED:
            raise RuntimeError(
                f"status store lost {len(missing)} stages; raise "
                "spark.ui.retainedStages"
            )
        return jobs, stages


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def union_ms(intervals: list[tuple[int, int]]) -> int:
    """Length of the union of [start, end] intervals."""
    total, cur_a, cur_b = 0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def engine_metrics(
    stages: list[Stage], wall_s: float, ops: int
) -> dict[str, float]:
    """Spark engine counters of a measured window, per operation."""
    ran = [s for s in stages if s.submit_ms is not None]
    stage_wall = union_ms(
        [(s.submit_ms, s.complete_ms or s.submit_ms) for s in ran]
    ) / 1000.0
    mb = float(1 << 20)
    return {
        "spark.stages": len(ran) / ops,
        "spark.task_s": sum(s.run_ms for s in ran) / 1000.0 / ops,
        "spark.stage_wall_s": stage_wall / ops,
        "spark.driver_gap_s": max(wall_s - stage_wall, 0.0) / ops,
        "spark.shuffle_write_mb": sum(s.shuffle_write_bytes for s in ran)
        / mb
        / ops,
        "spark.spill_mb": sum(s.spill_bytes for s in ran) / mb / ops,
        "spark.gc_s": sum(s.gc_ms for s in ran) / 1000.0 / ops,
    }


def grouped_map_metrics(
    store: StatusStore, stages: list[Stage], cores: int
) -> dict[str, float]:
    """``parallel.*`` over grouped-map stages: the stages that run
    ``parallel.grouped_apply``'s ``mapInPandas``. Only tasks that read
    rows count: the partitions no site hashes to finish in milliseconds
    and would set the median of ``task_skew``."""
    gm = [
        s
        for s in stages
        if s.submit_ms is not None and "MapInPandas" in store.operators(s.id)
    ]
    if not gm:
        return dict.fromkeys(
            ("parallel.tasks", "parallel.task_s", "parallel.task_skew",
             "parallel.busy_frac"),
            0.0,
        )
    per_stage = [
        [ms for ms, rows in store.task_run_ms(s.id) if rows] for s in gm
    ]
    tasks = [ms for stage in per_stage for ms in stage]
    wall = sum((s.complete_ms or s.submit_ms) - s.submit_ms for s in gm)
    # per stage, the slowest task over the median one, weighted by stage
    slowest = sum(max(stage) for stage in per_stage if stage)
    med = sum(statistics.median(stage) for stage in per_stage if stage)
    return {
        "parallel.tasks": float(len(tasks)),
        "parallel.task_s": sum(tasks) / 1000.0,
        "parallel.task_skew": slowest / med if med else 0.0,
        "parallel.busy_frac": sum(tasks) / (wall * cores) if wall else 0.0,
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def peak_rss_mb(root_pid: int) -> float:
    """Summed peak RSS (VmHWM) of ``root_pid`` and all its descendants:
    the benchmark's Python driver, the Spark JVM and its Python workers."""
    kids = _children()
    todo, total_kb = [root_pid], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
