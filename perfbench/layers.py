"""Layer probes for the traced benchmark run.

Every probe reads state the engine already exposes, from outside the
package: Spark's job groups and status store (jobs, stages, task
metrics), the Catalyst phase tracker of the returned DataFrame, and the
block manager's persisted-RDD table. No probe runs inside a timed region
except the two job-group switches that tag construct and action jobs.
"""

from __future__ import annotations

import statistics
import time

MB = 1e6


def steal_counters() -> tuple[int, int]:
    """(steal, total) jiffies of the host's aggregate cpu line."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    # guest time is already counted inside user/nice
    return steal, sum(fields[:8])


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total > 0 else 0.0


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a live process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / MB
    return 0.0


def union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of [start, end] intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
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


class Tracer:
    """Probes bound to one SparkSession."""

    def __init__(self, spark, cpus: int) -> None:
        self.spark = spark
        self.cpus = cpus
        self.jsc = spark.sparkContext._jsc
        self.store = self.jsc.sc().statusStore()

    def set_group(self, group: str) -> None:
        self.spark.sparkContext.setJobGroup(group, group)

    def clear_group(self) -> None:
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def persisted(self) -> set[int]:
        return {int(i) for i in self.jsc.getPersistentRDDs().keySet()}

    def stored_mb(self, ids: set[int]) -> float:
        total = 0
        for info in self.jsc.sc().getRDDStorageInfo():
            if info.id() in ids:
                total += info.memSize() + info.diskSize()
        return total / MB

    def jobs(self, group: str) -> list[dict]:
        """Status-store record of every job tagged ``group``. Job ids come
        from the group itself, never from a count of all retained jobs."""
        self.jsc.sc().listenerBus().waitUntilEmpty()
        out = []
        for jid in self.spark.sparkContext.statusTracker().getJobIdsForGroup(group):
            jd = self.store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            start = sub.get().getTime() / 1e3 if sub.isDefined() else time.time()
            end = done.get().getTime() / 1e3 if done.isDefined() else time.time()
            rec = {
                "id": int(jid),
                "start": start,
                "end": max(start, end),
                "stages": 0,
                "tasks": 0,
                "failed_tasks": 0,
                "run_s": 0.0,
                "cpu_s": 0.0,
                "shuffle_read_mb": 0.0,
                "shuffle_write_mb": 0.0,
                "spill_mb": 0.0,
            }
            ids = jd.stageIds()
            for i in range(ids.size()):
                try:
                    sd = self.store.lastStageAttempt(ids.apply(i))
                except Exception:  # noqa: BLE001 — a stage the job skipped
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                rec["stages"] += 1
                rec["tasks"] += sd.numCompleteTasks()
                rec["failed_tasks"] += sd.numFailedTasks()
                rec["run_s"] += sd.executorRunTime() / 1e3
                rec["cpu_s"] += sd.executorCpuTime() / 1e9
                rec["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
                rec["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                rec["spill_mb"] += sd.diskBytesSpilled() / MB
            out.append(rec)
        return out

    @staticmethod
    def phases(df) -> dict[str, float]:
        """Catalyst phase durations (s) of the DataFrame's own query."""
        it = df._jdf.queryExecution().tracker().phases().iterator()
        out = {}
        while it.hasNext():
            kv = it.next()
            out[kv._1()] = kv._2().durationMs() / 1e3
        return out


def invocation_record(
    name: str,
    t0: float,
    construct_s: float,
    action_s: float,
    construct_jobs: list[dict],
    action_jobs: list[dict],
    phases: dict[str, float],
    rows: int,
    result_mb: float,
    frames: int,
    cached_mb: float,
    cpus: int,
) -> dict:
    """One invocation's span tree and layer counters.

    ``t0`` is the invocation's start on the epoch clock; construct runs
    over [t0, t0 + construct_s] and the action over the rest, so the two
    children tile the invocation exactly. Job spans are clipped to their
    parent before self times are taken, so no self time is negative."""
    c_lo, c_hi = t0, t0 + construct_s
    a_lo, a_hi = c_hi, c_hi + action_s
    c_busy = union_s([(j["start"], j["end"]) for j in construct_jobs], c_lo, c_hi)
    a_busy = union_s([(j["start"], j["end"]) for j in action_jobs], a_lo, a_hi)
    jobs = construct_jobs + action_jobs
    spans = [
        {"id": 0, "parent": None, "name": name, "start": t0, "end": a_hi},
        {"id": 1, "parent": 0, "name": "construct", "start": c_lo, "end": c_hi},
        {"id": 2, "parent": 0, "name": "action", "start": a_lo, "end": a_hi},
    ]
    for j in jobs:
        parent = 1 if j in construct_jobs else 2
        spans.append(
            {
                "id": len(spans),
                "parent": parent,
                "name": f"job {j['id']}",
                "start": j["start"],
                "end": j["end"],
            }
        )

    def total(key: str) -> float:
        return sum(j[key] for j in jobs)

    job_wall = c_busy + a_busy
    return {
        "query": name,
        "wall_s": construct_s + action_s,
        "construct_s": construct_s,
        "action_s": action_s,
        "self_s": {
            "invocation": 0.0,
            "construct": construct_s - c_busy,
            "action": action_s - a_busy,
        },
        "spans": spans,
        "queries.construct_jobs": len(construct_jobs),
        "plan.analysis_s": phases.get("analysis", 0.0),
        "plan.optimization_s": phases.get("optimization", 0.0),
        "plan.planning_s": phases.get("planning", 0.0),
        "execute.jobs": len(jobs),
        "execute.stages": total("stages"),
        "execute.tasks": total("tasks"),
        "execute.failed_tasks": total("failed_tasks"),
        "execute.job_wall_s": job_wall,
        "execute.run_s": total("run_s"),
        "execute.cpu_s": total("cpu_s"),
        "execute.shuffle_read_mb": total("shuffle_read_mb"),
        "execute.shuffle_write_mb": total("shuffle_write_mb"),
        "execute.spill_mb": total("spill_mb"),
        "materialize.s": action_s - a_busy,
        "materialize.rows": rows,
        "materialize.mb": result_mb,
        "cost.scoped_frames": frames,
        "cost.cached_mb": cached_mb,
    }


#: per-invocation counters summed over a pass
SUMMED = (
    "queries.construct_jobs",
    "plan.analysis_s",
    "plan.optimization_s",
    "plan.planning_s",
    "execute.jobs",
    "execute.stages",
    "execute.tasks",
    "execute.failed_tasks",
    "execute.job_wall_s",
    "execute.run_s",
    "execute.cpu_s",
    "execute.shuffle_read_mb",
    "execute.shuffle_write_mb",
    "execute.spill_mb",
    "materialize.s",
    "materialize.rows",
    "materialize.mb",
    "cost.scoped_frames",
    "cost.cached_mb",
)


def pass_layers(records: list[dict], cpus: int) -> dict[str, float]:
    """Layer totals of one traced pass."""
    out = {k: float(sum(r[k] for r in records)) for k in SUMMED}
    wall = sum(r["wall_s"] for r in records)
    construct = sum(r["construct_s"] for r in records)
    out["queries.construct_s"] = construct
    out["queries.construct_share"] = construct / wall if wall else 0.0
    busy = out["execute.job_wall_s"] * cpus
    out["execute.idle_share"] = 1.0 - out["execute.run_s"] / busy if busy else 0.0
    return out


def median_of(passes: list[dict[str, float]]) -> dict[str, float]:
    return {k: statistics.median(p[k] for p in passes) for k in passes[0]}
