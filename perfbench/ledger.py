"""Per-layer ledger of a traced run, read from outside the program: the
Spark event log (switched on through the launcher), the job group the
benchmark sets around each operation, and the benchmark's own timers.

Layer attribution:

- ``catalog`` schema inference: jobs whose stage is named ``parquet at …``;
  ``eager_checkpoint``: jobs named ``localCheckpoint at …``/``checkpoint at …``.
- ``operators`` build: jobs a query function submits before it returns
  (submission time before the benchmark's build timer stops).
- Python/Arrow boundary: the SQL metrics Spark keeps on Python operators.
- scheduler and JVM execution: task and job records.
- ``snapshots``/``blooms`` pruning: the scan metric "number of files read".

Integer counts are those of the first timed round, so they repeat exactly at
one seed; seconds are per-round means over all timed rounds.
"""

from __future__ import annotations

import json
from collections import defaultdict

PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "registry.load_s": ("s", "lower"),
    "warmup.s": ("s", "lower"),
    "catalog.schema_jobs": ("count", "lower"),
    "catalog.schema_s": ("s", "lower"),
    "catalog.checkpoint_jobs": ("count", "lower"),
    "catalog.checkpoint_s": ("s", "lower"),
    "operators.build_s": ("s", "lower"),
    "operators.build_jobs": ("count", "lower"),
    "operators.build_result_bytes": ("bytes", "lower"),
    "operators.arrow.python_run_s": ("s", "lower"),
    "operators.arrow.python_boot_s": ("s", "lower"),
    "operators.arrow.bytes_to_python": ("bytes", "lower"),
    "operators.arrow.bytes_from_python": ("bytes", "lower"),
    "spark.sched.jobs": ("count", "lower"),
    "spark.sched.stages": ("count", "lower"),
    "spark.sched.tasks": ("count", "lower"),
    "spark.sched.delay_s": ("s", "lower"),
    "spark.sched.idle_core_s": ("s", "lower"),
    "spark.exec.s": ("s", "lower"),
    "spark.exec.task_run_s": ("s", "lower"),
    "spark.exec.task_cpu_s": ("s", "lower"),
    "spark.exec.gc_s": ("s", "lower"),
    "spark.exec.input_bytes": ("bytes", "lower"),
    "spark.exec.shuffle_read_bytes": ("bytes", "lower"),
    "spark.exec.shuffle_write_bytes": ("bytes", "lower"),
    "spark.exec.spill_bytes": ("bytes", "lower"),
    "driver.only_s": ("s", "lower"),
    "flows.jobs_per_commit": ("count", "lower"),
    "snapcatalog.versions_per_commit": ("ratio", "higher"),
    "snapcatalog.manifest_s": ("s", "lower"),
    "snapcatalog.manifest_bytes": ("bytes", "lower"),
    "snapshots.files_read_per_lookup": ("count", "lower"),
    "snapshots.files_live": ("count", "lower"),
    "storage.bytes_written_per_commit": ("bytes", "lower"),
    "storage.files_written_per_commit": ("count", "lower"),
    "storage.bytes_per_frame": ("bytes", "lower"),
    "reads.geomean_s": ("s", "lower"),
    "process.cpu_s": ("s", "lower"),
    "process.peak_rss_mb": ("MB", "lower"),
    "trace.round_s": ("s", "lower"),
    "trace.gap_s": ("s", "lower"),
    "trace.overhead_ratio": ("ratio", "lower"),
}

PY_METRICS = {
    "time to run Python workers": "python_run",
    "time to start Python workers": "python_boot",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
}


class EventLog:
    """The parts of a Spark event log the ledger needs."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stages_run: dict[int, int] = {}  # stage id -> job id, submitted stages
        self.tasks: list[dict] = []
        self.metric_type: dict[int, tuple[str, str]] = {}
        self.driver_updates: dict[int, list[tuple[int, int]]] = defaultdict(list)
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _plan(self, info: dict | None) -> None:
        todo = [info] if info else []
        while todo:
            node = todo.pop()
            for m in node.get("metrics", []):
                self.metric_type[m["accumulatorId"]] = (m["name"], m["metricType"])
            todo.extend(node.get("children", []))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            stages = e.get("Stage Infos", [])
            jid = e["Job ID"]
            self.jobs[jid] = {
                "group": props.get("spark.jobGroup.id"),
                "execution": int(props["spark.sql.execution.id"])
                if "spark.sql.execution.id" in props else None,
                "submit": e["Submission Time"],
                "end": e["Submission Time"],
                "name": min(stages, key=lambda s: s["Stage ID"])["Stage Name"] if stages else "",
            }
            for s in e.get("Stage IDs", []):
                self.stage_job.setdefault(s, jid)
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            self.stages_run[sid] = self.stage_job.get(sid, -1)
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
            duration = info["Finish Time"] - info["Launch Time"]
            run = m.get("Executor Run Time", 0)
            overhead = (
                m.get("Executor Deserialize Time", 0)
                + m.get("Result Serialization Time", 0)
                + info.get("Getting Result Time", 0)
            )
            sql = defaultdict(int)
            for a in info.get("Accumulables", []):
                key = PY_METRICS.get(a.get("Name"))
                if key:
                    sql[key] += int(a.get("Update") or 0)
            self.tasks.append({
                "job": self.stage_job.get(e["Stage ID"], -1),
                "duration_ms": duration,
                "delay_ms": max(0, duration - run - overhead),
                "run_ms": run,
                "cpu_ns": m.get("Executor CPU Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "result_bytes": m.get("Result Size", 0),
                "input_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
                "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                **sql,
            })
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            self._plan(e.get("sparkPlanInfo"))
        elif kind.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
            for m in e.get("sqlPlanMetrics", []):
                self.metric_type[m["accumulatorId"]] = (m["name"], m["metricType"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            self.driver_updates[e["executionId"]].extend(
                (int(a), int(v)) for a, v in e["accumUpdates"]
            )

    def files_read(self, executions: set[int]) -> int:
        return sum(
            v
            for ex in executions
            for acc, v in self.driver_updates.get(ex, [])
            if self.metric_type.get(acc, ("",))[0] == "number of files read"
        )


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def op_ledger(log: EventLog, op: dict, cores: int) -> dict:
    """Per-op numbers for the trace file and the round totals."""
    jobs = {j: r for j, r in log.jobs.items() if r["group"] == op["group"]}
    tasks = [t for t in log.tasks if t["job"] in jobs]
    build_end = (op["build_end"] or 0) * 1000
    build_jobs = {j for j, r in jobs.items() if op["build_end"] and r["submit"] <= build_end}
    schema = [r for r in jobs.values() if r["name"].startswith("parquet at ")]
    ckpt = [r for r in jobs.values() if r["name"].split(" at ")[0] in ("localCheckpoint", "checkpoint")]
    active_ms = _union_ms([(r["submit"], r["end"]) for r in jobs.values()])
    wall = op["end"] - op["start"]
    s = lambda key: sum(t.get(key, 0) for t in tasks)  # noqa: E731
    return {
        "group": op["group"], "kind": op["kind"], "name": op["name"], "round": op["round"],
        "wall_s": wall,
        "build_s": (op["build_end"] - op["start"]) if op["build_end"] else 0.0,
        "build_jobs": len(build_jobs),
        "build_result_bytes": sum(t["result_bytes"] for t in tasks if t["job"] in build_jobs),
        "jobs": len(jobs),
        "stages": sum(1 for j in log.stages_run.values() if j in jobs),
        "tasks": len(tasks),
        "schema_jobs": len(schema),
        "schema_s": sum(r["end"] - r["submit"] for r in schema) / 1000,
        "checkpoint_jobs": len(ckpt),
        "checkpoint_s": sum(r["end"] - r["submit"] for r in ckpt) / 1000,
        "exec_s": active_ms / 1000,
        "driver_only_s": max(0.0, wall - active_ms / 1000),
        "delay_s": s("delay_ms") / 1000,
        "idle_core_s": max(0.0, (cores * active_ms - s("duration_ms")) / 1000),
        "task_run_s": s("run_ms") / 1000,
        "task_cpu_s": s("cpu_ns") / 1e9,
        "gc_s": s("gc_ms") / 1000,
        "input_bytes": s("input_bytes"),
        "shuffle_read_bytes": s("shuffle_read_bytes"),
        "shuffle_write_bytes": s("shuffle_write_bytes"),
        "spill_bytes": s("spill_bytes"),
        "python_run_s": s("python_run") / 1000,
        "python_boot_s": s("python_boot") / 1000,
        "bytes_to_python": s("bytes_to_python"),
        "bytes_from_python": s("bytes_from_python"),
        "files_read": log.files_read({r["execution"] for r in jobs.values() if r["execution"] is not None}),
    }


SUMMED = {
    "catalog.schema_jobs": "schema_jobs",
    "catalog.schema_s": "schema_s",
    "catalog.checkpoint_jobs": "checkpoint_jobs",
    "catalog.checkpoint_s": "checkpoint_s",
    "operators.build_s": "build_s",
    "operators.build_jobs": "build_jobs",
    "operators.build_result_bytes": "build_result_bytes",
    "operators.arrow.python_run_s": "python_run_s",
    "operators.arrow.python_boot_s": "python_boot_s",
    "operators.arrow.bytes_to_python": "bytes_to_python",
    "operators.arrow.bytes_from_python": "bytes_from_python",
    "spark.sched.jobs": "jobs",
    "spark.sched.stages": "stages",
    "spark.sched.tasks": "tasks",
    "spark.sched.delay_s": "delay_s",
    "spark.sched.idle_core_s": "idle_core_s",
    "spark.exec.s": "exec_s",
    "spark.exec.task_run_s": "task_run_s",
    "spark.exec.task_cpu_s": "task_cpu_s",
    "spark.exec.gc_s": "gc_s",
    "spark.exec.input_bytes": "input_bytes",
    "spark.exec.shuffle_read_bytes": "shuffle_read_bytes",
    "spark.exec.shuffle_write_bytes": "shuffle_write_bytes",
    "spark.exec.spill_bytes": "spill_bytes",
    "driver.only_s": "driver_only_s",
}


def round_totals(per_op: list[dict], round_walls: dict[int, float]) -> dict[str, float]:
    """Seconds: mean over timed rounds of each round's sum. Counts and
    bytes: the first timed round's sum."""
    rounds = sorted(round_walls)
    out: dict[str, float] = {}
    for metric, key in SUMMED.items():
        sums = [sum(o[key] for o in per_op if o["round"] == r) for r in rounds]
        out[metric] = sum(sums) / len(sums) if PER_LAYER[metric][0] == "s" else sums[0]
    out["trace.round_s"] = sum(round_walls.values()) / len(rounds)
    walls = [sum(o["wall_s"] for o in per_op if o["round"] == r) for r in rounds]
    out["trace.gap_s"] = out["trace.round_s"] - sum(walls) / len(walls)
    return out
