"""Stage-level profiler for one or more queries (guide §1/§7 without the
UI): run each query in its own Spark session with the event log enabled,
then parse the log into per-stage rows — wall clock, summed task time,
shuffle read/write bytes, input bytes, Python-worker time — so exec
seconds can be attributed to operators instead of guessed at.

Usage: python tools/stage_profile.py [--sf DIR] [--sink count|noop] query...
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from imagingdb_spark import registry
from imagingdb_spark.session import get_spark


def run_one(name: str, sf_dir: str, sink: str) -> None:
    evdir = tempfile.mkdtemp(prefix=f"spark-ev-{name}-")
    os.environ["SPARK_GRAFT_EVENTLOG"] = evdir  # read by get_spark patch? no
    from pyspark.sql import SparkSession

    SparkSession.builder.config("spark.eventLog.enabled", "true").config(
        "spark.eventLog.dir", evdir
    )
    # get_spark ignores extra builder state from here, so set via a fresh
    # session: stop any existing one first (one session per query keeps
    # the log small and the JIT warm-ish via the untimed first run)
    active = SparkSession.getActiveSession()
    if active:
        active.stop()
    os.environ["SPARK_EVLOG_DIR"] = evdir
    spark = get_spark(f"stageprof-{name}")
    if not spark.conf.get("spark.eventLog.enabled", "false") == "true":
        spark.stop()
        # session factory doesn't know about event logs; build one directly
        spark = (
            SparkSession.builder.master(
                f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
            )
            .appName(f"stageprof-{name}")
            .config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", evdir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.sql.shuffle.partitions", os.environ.get("SPARK_GRAFT_CPUS", "32"))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
            .config("spark.sql.files.openCostInBytes", str(512 * 1024))
            .config("spark.sql.legacy.parquet.nanosAsLong", "true")
            .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
            .config("spark.ui.enabled", "false")
            .config("spark.driver.memory", "8g")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("WARN")

    # warmup: footers + python workers + one untimed run
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    def _w(it):
        for p in it:
            yield p

    spark.range(0, 3200, 1, numPartitions=32).mapInPandas(_w, schema="id long").count()
    registry.QUERIES[name](spark, sf_dir).count()
    spark.catalog.clearCache()

    t0 = time.perf_counter()
    df = registry.QUERIES[name](spark, sf_dir)
    t1 = time.perf_counter()
    if sink == "noop":
        df.write.format("noop").mode("overwrite").save()
    else:
        df.count()
    t2 = time.perf_counter()
    app_id = spark.sparkContext.applicationId
    spark.catalog.clearCache()
    spark.stop()

    # parse the event log: stages submitted after t0's wall-clock start
    path = os.path.join(evdir, app_id)
    if not os.path.exists(path):
        cand = [os.path.join(evdir, f) for f in os.listdir(evdir)]
        if not cand:
            raise FileNotFoundError(f"no event log in {evdir}")
        path = max(cand, key=os.path.getmtime)
    if os.path.isdir(path):  # Spark 4 rolling layout: eventlog_v2_<app>/events_*
        parts = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.startswith("events_")
        )
    else:
        parts = [path]
    stages = {}
    jobs = []
    import itertools

    def _open(p):
        if p.endswith(".zstd"):
            import zstandard

            return __import__("io").TextIOWrapper(
                zstandard.ZstdDecompressor().stream_reader(open(p, "rb"))
            )
        return open(p)

    for line in itertools.chain.from_iterable(_open(p) for p in parts):
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        e = ev.get("Event")
        if e == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            sid = si["Stage ID"]
            sub = si.get("Submission Time")
            comp = si.get("Completion Time")
            accs = {
                a["Name"]: a.get("Value")
                for a in si.get("Accumulables", [])
            }
            scopes = []
            for ri in si.get("RDD Info", []):
                sc = ri.get("Scope")
                if sc:
                    try:
                        nm = json.loads(sc).get("name")
                        if nm and nm not in scopes:
                            scopes.append(nm)
                    except Exception:
                        pass
            stages[sid] = {
                "stage": sid,
                "name": si.get("Stage Name", "")[:60],
                "tasks": si.get("Number of Tasks"),
                "wall_ms": (comp - sub) if sub and comp else None,
                "sub": sub,
                "task_ms": accs.get("internal.metrics.executorRunTime"),
                "cpu_ms": (accs.get("internal.metrics.executorCpuTime") or 0)
                // 1_000_000,
                "in_mb": round(
                    (accs.get("internal.metrics.input.bytesRead") or 0) / 1e6, 2
                ),
                "sh_r_mb": round(
                    (
                        (accs.get("internal.metrics.shuffle.read.localBytesRead") or 0)
                        + (
                            accs.get(
                                "internal.metrics.shuffle.read.remoteBytesRead"
                            )
                            or 0
                        )
                    )
                    / 1e6,
                    2,
                ),
                "sh_w_mb": round(
                    (accs.get("internal.metrics.shuffle.write.bytesWritten") or 0)
                    / 1e6,
                    2,
                ),
                "py_ms": accs.get("internal.metrics.pythonNumRowsReceived")
                and accs.get("data sent to Python workers"),
                "gc_ms": accs.get("internal.metrics.jvmGCTime") or 0,
                "deser_ms": accs.get("internal.metrics.executorDeserializeTime")
                or 0,
                "sched_ms": (
                    accs.get("internal.metrics.executorRunTime") is not None
                    and None
                )
                or 0,
                "scopes": ",".join(scopes[:6]),
            }
        elif e == "SparkListenerJobStart":
            jobs.append(
                {
                    "job": ev["Job ID"],
                    "time": ev.get("Submission Time"),
                    "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                    "desc": (ev.get("Properties") or {}).get(
                        "spark.job.description", ""
                    )[:40],
                }
            )
    print(f"\n=== {name}: build={t1-t0:.3f}s exec={t2-t1:.3f}s "
          f"jobs={len(jobs)} stages={len(stages)} ===")
    for j in jobs:
        print(f"  job{j['job']:3d} stages={j['stages']} desc={j['desc']!r}")
    # timed-region stages only: submitted in the last exec window — keep it
    # simple and print all stages in submission order; the warmup run's
    # stages are the earlier duplicates
    for sid in sorted(stages, key=lambda s: stages[s].get("sub") or 0):
        s = stages[sid]
        print(
            f"  st{sid:4d} tasks={s['tasks']:3d} wall={s['wall_ms'] or 0:6d}ms "
            f"task={s['task_ms'] or 0:7d}ms cpu={s['cpu_ms']:7d}ms "
            f"gc={s['gc_ms']:5d}ms deser={s['deser_ms']:5d}ms "
            f"in={s['in_mb']:8.2f}MB shR={s['sh_r_mb']:7.2f}MB "
            f"shW={s['sh_w_mb']:7.2f}MB  {s['scopes'] or s['name']}"
        )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--sink", choices=["count", "noop"], default="count")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()
    registry.load_all()
    for q in args.queries:
        run_one(q, args.sf, args.sink)


if __name__ == "__main__":
    main()
