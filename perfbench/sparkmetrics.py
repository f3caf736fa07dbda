"""Spark engine counters from the JVM AppStatusStore (the store behind the
Spark UI and REST API; it works with the UI disabled).

Stage rows come from ``tools/profile_stages._stages``; this module adds
the two things that reader does not return: job intervals, which give the
driver gap (wall time in which no job was running), and spilled bytes.
Snapshots are taken outside timed windows.
"""

from __future__ import annotations

from dataclasses import dataclass

from tools.profile_stages import _stages

_MB = 1024 * 1024


@dataclass
class Job:
    job_id: int
    submit_ms: int
    end_ms: int
    tasks: int
    stage_ids: tuple[int, ...]


def jobs(spark) -> dict[int, Job]:
    """jobId -> submission/completion epoch milliseconds (a running job
    ends at its submission), completed tasks and stage ids."""
    store = spark.sparkContext._jsc.sc().statusStore()
    it = store.jobsList(spark.sparkContext._jvm.java.util.ArrayList()).iterator()
    out = {}
    while it.hasNext():
        jd = it.next()
        sub = jd.submissionTime()
        if not sub.isDefined():
            continue
        t0 = sub.get().getTime()
        end = jd.completionTime()
        sids = jd.stageIds().mkString(",")
        out[jd.jobId()] = Job(
            jd.jobId(),
            t0,
            end.get().getTime() if end.isDefined() else t0,
            jd.numCompletedTasks(),
            tuple(int(x) for x in sids.split(",") if x),
        )
    return out


def _spill(spark) -> dict[tuple[int, int], int]:
    store = spark.sparkContext._jsc.sc().statusStore()
    empty = spark.sparkContext._jvm.java.util.ArrayList()
    defaults = [getattr(store, f"stageList$default${i}")() for i in range(2, 6)]
    out = {}
    it = store.stageList(empty, *defaults).iterator()
    while it.hasNext():
        sd = it.next()
        out[(sd.stageId(), sd.attemptId())] = sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return out


@dataclass
class Snapshot:
    stages: dict
    spill: dict
    jobs: dict


def snapshot(spark) -> Snapshot:
    return Snapshot(_stages(spark), _spill(spark), jobs(spark))


def busy_ms(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def jobs_in(all_jobs, windows: list[tuple[float, float]]) -> list[Job]:
    """Jobs submitted inside any of the epoch-second ``windows``."""
    spans = [(t0 * 1000, t1 * 1000) for t0, t1 in windows]
    return [
        j for j in all_jobs.values() if any(lo <= j.submit_ms <= hi for lo, hi in spans)
    ]


def engine_counters(
    before: Snapshot, after: Snapshot, windows: list[tuple[float, float]]
) -> dict[str, float]:
    """Engine counters of the jobs submitted inside the timed ``windows``
    (epoch seconds) between two snapshots; work the benchmark does between
    operations, such as its output checks, is left out.  The driver gap is
    the windows' total length minus the time some job was running."""
    new_jobs = jobs_in({k: j for k, j in after.jobs.items() if k not in before.jobs}, windows)
    sids = {s for j in new_jobs for s in j.stage_ids}
    keys = [k for k in after.stages if k[0] in sids and k not in before.stages]
    ran = [after.stages[k] for k in keys if after.stages[k][7] > 0]
    spans = [(j.submit_ms, j.end_ms) for j in new_jobs]
    gap_ms = 0.0
    for t0, t1 in windows:
        lo, hi = int(t0 * 1000), int(t1 * 1000)
        gap_ms += (hi - lo) - busy_ms(spans, lo, hi)
    return {
        "spark.jobs": len(new_jobs),
        "spark.stages": len(ran),
        "spark.tasks": sum(v[7] for v in ran),
        "spark.driver_gap_s": gap_ms / 1000.0,
        "spark.executor_run_s": sum(v[1] for v in ran) / 1000.0,
        "spark.executor_cpu_s": sum(v[2] for v in ran) / 1e9,
        "spark.shuffle_write_mb": sum(v[5] for v in ran) / _MB,
        "spark.spill_mb": sum(after.spill.get(k, 0) for k in keys) / _MB,
    }
