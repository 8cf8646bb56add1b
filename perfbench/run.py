"""Benchmark of the imagingdb_spark engine: one closed-loop client in one
process on local[<cores>], one named workload per run.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 30 --trace 0

Workloads (README.md says why each exists and what each layer metric should
move):

- ``query_mix``: seven headline queries over generated tables, in a seeded
  order per lap. Every query is first checked once, untimed, against its
  DuckDB oracle (or a pinned fingerprint where it has none).
- ``catalog_ingest``: seeded imaging-dataset uploads through
  ``flows.insert_frames_atomic`` into a snapshot catalog with a bloom index
  on ``frames.sha256``, each round with a replay, sha256 point reads that
  hit and miss, and ``get_frames_meta`` reads. A separate process with its
  own JVM reopens the catalog afterwards.

With ``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` the run writes a Spark event log and reports the per-layer
ledger instead (the per-op breakdown goes to the trace file named on
stderr). The program under test is driven only through its public
functions; everything is measured from outside it.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import random
import select
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DATA = os.path.join(WORK, "data")
RUN = os.path.join(WORK, "run")

sys.path.insert(0, HERE)

import datagen  # noqa: E402
import ledger  # noqa: E402

QUERY_MIX = [
    "a_sum_avg",  # scan + partial/final aggregation
    "j_three_way",  # star join with pushed filters
    "a_rollup",  # grouping sets
    "f_json_extract",  # JSON predicate
    "x_retention",  # window + distinct cohort grid
    "st_anomaly",  # mapInPandas stateful scan (no oracle)
    "x_containment",  # eager_checkpoint + prefix-filter self-join
]
READS = ("query", "lookup_hit", "lookup_miss", "meta")
READS_PER_KIND = 3  # point hits, point misses and metadata reads per upload round
BLOOMS = {"frames": ["sha256"]}
END_TO_END = {
    "setup_s": "s",
    "round_s": "s",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- process


def isolate_environment(trace: bool, cores: int) -> None:
    """Keep every file the run writes inside the checkout and switch the
    event log on from the launcher, before any JVM starts."""
    tmp = os.path.join(RUN, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYSPARK_SUBMIT_ARGS"] = submit_args(trace)


def submit_args(trace: bool) -> str:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(RUN, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        evdir = os.path.join(RUN, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return " ".join(f"--conf {k}={v}" for k, v in conf.items()) + " pyspark-shell"


def descendants(pid: int, skip: frozenset[int] = frozenset()) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            if c in skip:
                continue
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_seconds(skip: frozenset[int] = frozenset()) -> float:
    """User + system CPU seconds of this process and its descendants,
    including the children they have reaped (exited Python workers)."""
    ticks = 0
    for pid in [os.getpid(), *descendants(os.getpid(), skip)]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Summed RSS of this process and all its descendants (the JVM and its
    Python workers), sampled from /proc in a background thread."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.skip: frozenset[int] = frozenset()  # trees not under test
        self.samples: list[tuple[float, int]] = []  # (perf_counter, bytes)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _sample(self) -> int:
        total = 0
        for pid in [os.getpid(), *descendants(os.getpid(), self.skip)]:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            rss = self._sample()
            self.samples.append((time.perf_counter(), rss))
            self._stop.wait(self.interval)

    def peak_until(self, t: float) -> int:
        """Peak over the samples taken up to perf_counter time ``t``."""
        return max((r for at, r in self.samples if at <= t), default=0)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def stat_ticks() -> tuple[int, int]:
    """(total, steal) jiffies from /proc/stat, as bench.py reads them."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0


def stop_spark() -> None:
    """Stop the session and the JVM behind it, and wait for both."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def become_subreaper() -> None:
    """Adopt orphaned descendants (Spark's launcher leaves a shell behind
    when it execs the JVM), so that the run can wait for every process it
    started."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def reap_children() -> None:
    """Kill what is left of the run's process tree and wait for all of it."""
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            continue
    while True:
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            return


# ------------------------------------------------------------------ stats


def quantile(values: list[float], q: float) -> float:
    s = sorted(values)
    if len(s) == 1:
        return s[0]
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it, or None when there are too few samples."""
    n = len(values)
    if n < 11:
        return None
    q = (n - 10) / n
    return 100 * q, quantile(values, q)


def calibrate(spark) -> float:
    """One run of bench.py's calibration job, a million-key shuffle + hash
    aggregate over 20M generated rows: it moves with the machine, not the
    code. (bench.py keeps the best of two after an untimed run; one run
    keeps the traced run short.)"""
    t0 = time.perf_counter()
    (
        spark.range(0, 20_000_000, 1, 32)
        .selectExpr("id % 1000000 as k", "shiftright(xxhash64(id), 32) as v")
        .groupBy("k")
        .sum("v")
        .count()
    )
    return time.perf_counter() - t0


# ------------------------------------------------------------------- core


class Op:
    __slots__ = ("round", "kind", "name", "group", "t0", "t1", "build_end", "ok", "tracker_jobs")

    def __init__(self, rnd: int, kind: str, name: str, seq: int):
        self.round, self.kind, self.name = rnd, kind, name
        self.group = f"op-{rnd}-{seq}-{name}"
        self.t0 = self.t1 = self.build_end = 0.0
        self.ok = True
        self.tracker_jobs = None  # jobs of the op's group per statusTracker

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0

    def record(self) -> dict:
        return {
            "round": self.round, "kind": self.kind, "name": self.name,
            "group": self.group, "start": self.t0, "end": self.t1,
            "build_end": self.build_end or None, "ok": self.ok,
            "tracker_jobs": self.tracker_jobs,
        }


class Bench:
    """State of one run: the session, the op log and the check tallies."""

    def __init__(self, args):
        self.args = args
        self.trace = bool(args.trace)
        self.spark = None
        self.rss: RssSampler | None = None
        self.window = (0.0, 0.0)  # perf_counter span of the timed rounds
        self.round_cpu: list[float] = []  # CPU seconds of each timed round
        self.ops: list[Op] = []
        self.checks = 0
        self.check_failures: list[str] = []
        self.info: dict = {}
        self._seq = 0
        self._mark = time.perf_counter()

    # -- set-up ----------------------------------------------------------

    def set_up(self) -> dict:
        """What a user of the package pays before the first query: import
        and register the operators, start the session (and its JVM), and
        run the warm-up scan."""
        t0 = time.perf_counter()
        from imagingdb_spark import registry
        from imagingdb_spark.session import get_spark

        registry.load_all()
        t1 = time.perf_counter()
        self.spark = get_spark("perfbench")
        t2 = time.perf_counter()
        self.spark.read.parquet(os.path.join(DATA, "lineitem.parquet")).count()
        t3 = time.perf_counter()
        return {"total": t3 - t0, "registry": t1 - t0, "session": t2 - t1, "warmup": t3 - t2}

    def mark(self, phase: str) -> None:
        """Wall seconds since the previous mark, kept as run context."""
        now = time.perf_counter()
        self.info.setdefault("phase_s", {})[phase] = now - self._mark
        self._mark = now

    def op(self, rnd: int, kind: str, name: str) -> Op:
        self._seq += 1
        o = Op(rnd, kind, name, self._seq)
        self.ops.append(o)
        return o

    def start(self, o: Op) -> None:
        if self.trace:
            self.spark.sparkContext.setJobGroup(o.group, o.name)
        o.t0 = time.time()

    def finish(self, o: Op) -> None:
        o.t1 = time.time()
        if self.trace:
            sc = self.spark.sparkContext
            o.tracker_jobs = len(sc.statusTracker().getJobIdsForGroup(o.group))
            sc.setJobGroup("between-ops", "benchmark bookkeeping")

    def check(self, ok: bool, what: str) -> bool:
        self.checks += 1
        if not ok:
            self.check_failures.append(what)
            log(f"CHECK FAILED: {what}")
        return ok


# ---------------------------------------------------------- query_mix


def fingerprint(pdf) -> str:
    from tools.selfcheck import normalize

    return hashlib.sha256(normalize(pdf).to_csv(index=False).encode()).hexdigest()


def query_checks(b: Bench, names: list[str]) -> dict[str, int]:
    """Untimed pass: run each query once and compare its rows with the
    DuckDB oracle, or with the pinned fingerprint when it has none.
    Returns the row count of each query for the timed phase's checks."""
    import duckdb

    from imagingdb_spark import registry
    from tools.selfcheck import compare

    with open(os.path.join(HERE, "fingerprints.json")) as f:
        pinned = json.load(f)
    con = duckdb.connect()
    for t in datagen.ROWS:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    rows = {}
    for name in names:
        try:
            sdf = registry.QUERIES[name](b.spark, DATA).toPandas()
            if name in registry.ORACLE:
                problems = compare(name, sdf, con.sql(registry.ORACLE[name]).df())
            else:
                got = {"rows": len(sdf), "sha256": fingerprint(sdf)}
                problems = [] if pinned.get(name) == got else [
                    f"fingerprint {got} != pinned {pinned.get(name)}"
                ]
        except Exception as e:  # noqa: BLE001 - a failing query is a result
            problems = [f"{type(e).__name__}: {e}"]
            sdf = None
        b.check(not problems, f"{name}: " + "; ".join(problems))
        rows[name] = -1 if sdf is None else len(sdf)
        b.spark.catalog.clearCache()
    con.close()
    return rows


def timed_rounds(b: Bench, rounds: int, one_round) -> None:
    """Run ``one_round(r)`` for r = 0 .. rounds-1, timing the CPU seconds
    the process tree spends in each."""
    b.mark("checks")
    start = time.perf_counter()
    skip = b.rss.skip if b.rss else frozenset()
    for rnd in range(rounds):
        cpu = tree_cpu_seconds(skip)
        one_round(rnd)
        b.round_cpu.append(tree_cpu_seconds(skip) - cpu)
    b.window = (start, time.perf_counter())


def run_query_mix(b: Bench, rounds: int) -> None:
    """Untimed check pass, then timed laps over QUERY_MIX, each in a
    seeded order."""
    from imagingdb_spark import registry

    expected = query_checks(b, QUERY_MIX)

    def lap(rnd: int) -> None:
        order = list(QUERY_MIX)
        random.Random(f"{b.args.seed}/lap/{rnd}").shuffle(order)
        for name in order:
            o = b.op(rnd, "query", name)
            b.start(o)
            try:
                df = registry.QUERIES[name](b.spark, DATA)
                o.build_end = time.time()
                n = df.count()
                b.finish(o)
                o.ok = b.check(
                    n == expected[name],
                    f"{name} lap {rnd}: {n} rows, expected {expected[name]}",
                )
            except Exception as e:  # noqa: BLE001
                b.finish(o)
                o.ok = b.check(False, f"{name} lap {rnd}: {type(e).__name__}: {e}")
            b.spark.catalog.clearCache()

    timed_rounds(b, rounds, lap)


# ----------------------------------------------------- catalog_ingest


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
            except OSError:
                continue
    return size, files


def data_files(catalog: str) -> int:
    """Parquet data files of the frames table on disk (blooms excluded)."""
    root = os.path.join(catalog, "frames", "data")
    return sum(
        n.endswith(".parquet") for _, _, names in os.walk(root) for n in names
    )


def local_frame(spark, rows: list[tuple], ddl: str):
    """``rows`` as an Arrow-backed DataFrame (the package's session enables
    Arrow for pandas interchange). A DataFrame made from a Python list would
    be an RDD that Python workers unpickle again in every Spark job reading
    it, and a commit runs ~40 jobs over its inputs: that load is the
    benchmark's, not the program's."""
    import pandas as pd

    names = [col.split()[0] for col in ddl.split(",")]
    return spark.createDataFrame(pd.DataFrame(rows, columns=names), ddl)


class Ingest:
    def __init__(self, b: Bench):
        self.b = b
        self.catalog = os.path.join(RUN, "catalog")
        shutil.rmtree(self.catalog, ignore_errors=True)
        self.committed: dict[str, list[str]] = {}  # serial -> frame sha256s
        self.index: dict[str, int] = {}  # serial -> upload number
        self.next_upload = 0
        self.stats: list[dict] = []
        self.reader: subprocess.Popen | None = None

    def versions(self) -> list[int]:
        from imagingdb_spark import snapcatalog

        return snapcatalog.catalog_versions(self.catalog)

    def commit(self, rnd: int, index: int, replay: bool) -> None:
        from imagingdb_spark import flows

        b, spark = self.b, self.b.spark
        ds, frames = datagen.upload(b.args.seed, index)
        serial = ds[0][0]
        before_v = self.versions()
        before_u = dir_usage(self.catalog)
        o = b.op(rnd, "replay" if replay else "commit", serial)
        b.start(o)
        try:
            flows.insert_frames_atomic(
                local_frame(spark, ds, datagen.DS_SCHEMA),
                local_frame(spark, frames, datagen.FRAMES_SCHEMA),
                self.catalog,
                bloom_columns=BLOOMS,
            )
            b.finish(o)
        except Exception as e:  # noqa: BLE001
            b.finish(o)
            o.ok = b.check(False, f"commit {serial}: {type(e).__name__}: {e}")
            return
        after_v = self.versions()
        published = len(after_v) - len(before_v)
        if replay:
            o.ok = b.check(published == 0, f"replay of {serial} published {published} versions")
        else:
            o.ok = b.check(published == 1, f"upload {serial} published {published} versions")
            self.committed[serial] = [f[7] for f in frames]
            self.index[serial] = index
        after_u = dir_usage(self.catalog)
        t = time.perf_counter()
        from imagingdb_spark import snapcatalog

        m = snapcatalog.catalog_manifest(self.catalog)
        manifest_s = time.perf_counter() - t
        tip = os.path.join(self.catalog, snapcatalog.COMMITS_DIR, f"v{m['version']:08d}.json")
        self.stats.append({
            "group": o.group, "replay": replay, "frames": len(frames),
            "versions": published,
            "bytes_written": after_u[0] - before_u[0],
            "files_written": after_u[1] - before_u[1],
            "manifest_s": manifest_s, "manifest_bytes": os.path.getsize(tip),
            "files_live": data_files(self.catalog),
        })

    def lookup(self, rnd: int, sha: str, expect: int) -> None:
        from imagingdb_spark import snapcatalog

        b = self.b
        o = b.op(rnd, "lookup_hit" if expect else "lookup_miss", sha[:12])
        b.start(o)
        try:
            n = snapcatalog.catalog_read(
                b.spark, self.catalog, "frames", where=[("sha256", "=", sha)]
            ).count()
            b.finish(o)
            o.ok = b.check(n == expect, f"lookup {sha[:12]}: {n} rows, expected {expect}")
        except Exception as e:  # noqa: BLE001
            b.finish(o)
            o.ok = b.check(False, f"lookup {sha[:12]}: {type(e).__name__}: {e}")

    def meta(self, rnd: int, serial: str) -> None:
        from imagingdb_spark import api, snapcatalog
        from imagingdb_spark.catalog import IMAGING_SCHEMAS

        b = self.b
        o = b.op(rnd, "meta", serial)
        b.start(o)
        try:
            v = snapcatalog.catalog_views(b.spark, self.catalog, IMAGING_SCHEMAS)
            n = api.get_frames_meta(v["data_set"], v["frames_global"], v["frames"], serial).count()
            b.finish(o)
            expect = len(self.committed[serial])
            o.ok = b.check(n == expect, f"meta {serial}: {n} frames, expected {expect}")
        except Exception as e:  # noqa: BLE001
            b.finish(o)
            o.ok = b.check(False, f"meta {serial}: {type(e).__name__}: {e}")

    def round(self, rnd: int, timed: bool) -> None:
        """One new upload; then, in timed rounds, a replay of a seeded
        earlier upload and READS_PER_KIND times (once in the warm-up round)
        a sha256 point read that hits, one that misses and a metadata read,
        on seeded committed uploads."""
        rng = random.Random(f"{self.b.args.seed}/round/{rnd}")
        self.commit(rnd, self.next_upload, replay=False)
        self.next_upload += 1
        serials = sorted(self.committed)
        if timed:
            self.commit(rnd, self.index[rng.choice(serials)], replay=True)
        for i in range(READS_PER_KIND if timed else 1):
            self.lookup(rnd, rng.choice(self.committed[rng.choice(serials)]), 1)
            self.lookup(rnd, datagen.absent_sha256(self.b.args.seed, rnd * READS_PER_KIND + i), 0)
            self.meta(rnd, rng.choice(serials))

    def launch_reader(self) -> None:
        """Start the durability reader's process (and JVM) ahead of time,
        during the untimed warm-up round, so that its start-up does not
        lengthen the run; it touches the catalog only in ``reopen``."""
        self.reader = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "reopen.py"), self.catalog],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
            text=True, env={**os.environ, "PYSPARK_SUBMIT_ARGS": submit_args(False)},
        )
        self.b.rss.skip = frozenset({self.reader.pid})

    def wait_reader(self) -> None:
        """Block until the reader has started, so it is idle while the
        timed rounds run."""
        ready, _, _ = select.select([self.reader.stdout], [], [], 150)
        line = self.reader.stdout.readline().strip() if ready else ""
        self.b.check(line == "ready", f"catalog reader did not start: {line!r}")

    def reopen(self) -> None:
        """The separate reader reopens the catalog after the writer has
        stopped: every acknowledged upload must read back with its exact
        frame count, and the catalog must hold one version per upload."""
        expect = {s: len(h) for s, h in self.committed.items()}
        path = os.path.join(RUN, "expected.json")
        with open(path, "w") as f:
            json.dump(expect, f)
        try:
            out, _ = self.reader.communicate(path + "\n", timeout=120)
            got = json.loads(out.strip().splitlines()[-1])
        except (subprocess.TimeoutExpired, json.JSONDecodeError, IndexError, OSError):
            self.reader.kill()
            self.reader.wait()
            got = None
        if not self.b.check(got is not None, f"catalog reader failed (exit {self.reader.returncode})"):
            return
        for serial, n in expect.items():
            self.b.check(
                got["frames"].get(serial) == n,
                f"reopened {serial}: {got['frames'].get(serial)} frames, expected {n}",
            )
        self.b.check(
            got["versions"] == len(expect),
            f"reopened catalog has {got['versions']} versions for {len(expect)} uploads",
        )


def run_catalog_ingest(b: Bench, rounds: int) -> Ingest:
    """Warm-up round, then upload rounds."""
    ing = Ingest(b)
    ing.launch_reader()
    ing.round(-1, timed=False)  # warm-up: the first commit onto an empty catalog
    ing.wait_reader()
    timed_rounds(b, rounds, lambda rnd: ing.round(rnd, timed=True))
    return ing


WORKLOADS = {"query_mix": run_query_mix, "catalog_ingest": run_catalog_ingest}
# Seconds of --seconds per timed round: a run does round(--seconds / this)
# rounds, so that every run of a workload at a given --seconds does the same
# work. On a 4-core box a query_mix lap takes ~3.5-4.5 s and an upload round
# ~9-11 s; query_mix does fewer laps than would fit, so that 24 runs of each
# workload take under 50 minutes. (The JVM keeps speeding up for ~50 s of
# queries, so a deadline-driven round count would make the median depend on
# how many rounds fit.)
SECONDS_PER_ROUND = 7.5


# ---------------------------------------------------------------- metrics


def rounds_of(b: Bench) -> dict[int, list[Op]]:
    out: dict[int, list[Op]] = {}
    for o in b.ops:
        if o.round >= 0:
            out.setdefault(o.round, []).append(o)
    return out


def round_walls(b: Bench) -> dict[int, float]:
    return {r: max(o.t1 for o in ops) - min(o.t0 for o in ops) for r, ops in rounds_of(b).items()}


def read_latencies(b: Bench) -> dict[str, list[float]]:
    """Latencies of the timed reads by kind (each query is its own kind)."""
    reads: dict[str, list[float]] = {}
    for ops in rounds_of(b).values():
        for o in ops:
            if o.kind in READS:
                reads.setdefault(o.name if o.kind == "query" else o.kind, []).append(o.seconds)
    return reads


def read_geomean(reads: dict[str, list[float]]) -> float:
    """Geometric mean over read kinds of each kind's median latency."""
    return math.exp(statistics.mean(math.log(statistics.median(v)) for v in reads.values()))


def end_to_end(b: Bench, setup: dict) -> dict[str, float]:
    """``round_s`` is a best-case round: each operation slot of a round (a
    query, or the n-th op of an upload round) counts with its fastest run.
    As in bench.py, the minimum is what holds still under the multi-second
    bursts of CPU steal a shared virtual machine sees."""
    slots: dict[tuple, list[float]] = {}
    for ops in rounds_of(b).values():
        for i, o in enumerate(ops):
            slot = (o.kind, o.name) if o.kind == "query" else (o.kind, i)
            slots.setdefault(slot, []).append(o.seconds)
    laps = list(round_walls(b).values())
    reads = read_latencies(b)
    every = [x for v in reads.values() for x in v]
    t = tail(every)
    b.info.update({
        "samples": {"setup_s": 1, "round_s": len(laps)},
        "round_wall_s": laps,
        "op_s": [[o.round, o.kind, o.name, o.seconds] for o in b.ops],
        "read_s": reads,
        "read_geomean_s": read_geomean(reads),
        "read_tail": {"percentile": round(t[0], 1), "seconds": t[1], "samples": len(every)} if t else None,
    })
    return {
        "setup_s": setup["total"],
        "round_s": sum(min(v) for v in slots.values()),
    }


def untraced_history(workload: str, value: float | None = None) -> list[float]:
    """Mean round wall time of the untraced runs made in this checkout, the
    base of the traced run's overhead ratio. Appends ``value`` when given."""
    path = os.path.join(WORK, f"untraced-{workload}.json")
    try:
        with open(path) as f:
            hist = json.load(f)
    except (OSError, json.JSONDecodeError):
        hist = []
    if value is not None:
        hist = (hist + [value])[-50:]
        with open(path, "w") as f:
            json.dump(hist, f)
    return hist


def per_layer(
    b: Bench, setup: dict, ing: Ingest | None, app_id: str, peak_rss: int
) -> dict[str, float]:
    log_ = ledger.EventLog(os.path.join(RUN, "eventlog", app_id))
    cores = b.info["cores"]
    ops = [ledger.op_ledger(log_, o.record(), cores) for o in b.ops]
    walls = round_walls(b)
    out = dict.fromkeys(ledger.PER_LAYER, 0.0)
    out.update(ledger.round_totals([o for o in ops if o["round"] >= 0], walls))
    # the event log and statusTracker must agree on every op's job count
    b.info["tracker_mismatches"] = [
        o["group"] for o, r in zip(ops, b.ops) if r.tracker_jobs not in (None, o["jobs"])
    ]
    out["session.start_s"] = setup["session"]
    out["registry.load_s"] = setup["registry"]
    out["warmup.s"] = setup["warmup"]
    out["process.cpu_s"] = statistics.mean(b.round_cpu)
    out["process.peak_rss_mb"] = peak_rss / 2**20
    out["reads.geomean_s"] = read_geomean(read_latencies(b))
    if ing is not None:
        first = [o for o in ops if o["round"] == 0]
        stats0 = [s for s in ing.stats if s["group"] in {o["group"] for o in first}]
        new0 = [s for s in stats0 if not s["replay"]][0]
        commit0 = [o for o in first if o["kind"] == "commit"][0]
        lookups0 = [o for o in first if o["kind"].startswith("lookup")]
        out["flows.jobs_per_commit"] = commit0["jobs"]
        out["snapcatalog.versions_per_commit"] = sum(s["versions"] for s in stats0) / len(stats0)
        out["snapcatalog.manifest_s"] = statistics.mean(s["manifest_s"] for s in ing.stats)
        out["snapcatalog.manifest_bytes"] = new0["manifest_bytes"]
        out["snapshots.files_read_per_lookup"] = sum(o["files_read"] for o in lookups0) / len(lookups0)
        out["snapshots.files_live"] = new0["files_live"]
        out["storage.bytes_written_per_commit"] = new0["bytes_written"]
        out["storage.files_written_per_commit"] = new0["files_written"]
        out["storage.bytes_per_frame"] = new0["bytes_written"] / new0["frames"]
    hist = untraced_history(b.args.workload)
    if hist:
        out["trace.overhead_ratio"] = out["trace.round_s"] / statistics.median(hist)
    trace_dir = os.path.join(WORK, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    path = os.path.join(trace_dir, f"{b.args.workload}-seed{b.args.seed}-{int(time.time())}.json")
    with open(path, "w") as f:
        json.dump({"info": b.info, "per_layer": out, "ops": ops, "commits": ing.stats if ing else []}, f, indent=1)
    log(f"trace written to {path}")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "imagingdb_spark", "__init__.py")):
        log(f"no imagingdb_spark package under {ROOT}; nothing to measure")
        return 2
    sys.path.insert(0, ROOT)
    become_subreaper()
    shutil.rmtree(RUN, ignore_errors=True)
    b = Bench(args)
    b.info["cores"] = len(os.sched_getaffinity(0))
    isolate_environment(b.trace, b.info["cores"])

    t = time.perf_counter()
    if not datagen.tables_ok(DATA):
        datagen.write_tables(DATA)
    b.info["data_prepare_s"] = time.perf_counter() - t

    ing = None
    try:
        with RssSampler() as rss:
            b.rss = rss
            setup = b.set_up()
            b.mark("setup")
            stat0 = stat_ticks()
            rounds = max(1, round(args.seconds / SECONDS_PER_ROUND))
            ing = WORKLOADS[args.workload](b, rounds)
            stat1 = stat_ticks()
            b.mark("workload")
            if b.trace:
                b.info["calib_sec"] = calibrate(b.spark)
            app_id = b.spark.sparkContext.applicationId
        stop_spark()
        b.mark("stop")
        if ing is not None:
            ing.reopen()
            b.mark("reopen")
    finally:
        stop_spark()
        reap_children()
    b.info["steal_pct"] = 100.0 * (stat1[1] - stat0[1]) / max(1, stat1[0] - stat0[0])
    b.info["setup"] = setup
    if b.trace:
        metrics = per_layer(b, setup, ing, app_id, rss.peak_until(b.window[1]))
        units = {k: u for k, (u, _) in ledger.PER_LAYER.items()}
    else:
        metrics = end_to_end(b, setup)
        b.info["peak_rss_mb"] = rss.peak_until(b.window[1]) / 2**20
        b.info["round_cpu_s"] = statistics.median(b.round_cpu)
        untraced_history(args.workload, statistics.mean(b.info["round_wall_s"]))
        units = END_TO_END
    log("info " + json.dumps(b.info))
    for k, v in metrics.items():
        n = b.info.get("samples", {}).get(k)
        print(f"# {k} = {v:.6g} {units[k]}" + (f" (n={n})" if n else ""))
    print(json.dumps({
        "correct": not b.check_failures,
        "attempted": b.checks,
        "failed": len(b.check_failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
