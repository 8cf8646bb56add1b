"""Snapshot-format commit-cost micro-benchmark: measure append latency
against tables with growing LIVE FILE COUNTS to substantiate the
SCALING.md claim that commit cost is O(delta + manifest-group refs),
never O(live files) and never O(table data).

Two sections:
- real tables (10/100/1000 live files, actually written by Spark): time
  (a) a 1-file append via snapshot_commit, (b) the txn-marker replay
  no-op, and record the version-manifest byte size.
- synthetic tables (10k/100k fabricated file entries, no data written):
  the same append/replay timings at the live-file counts a 100 TB table
  has (~800k files at 128 MB), which the flat manifest era could not
  reach — its per-commit JSON copy was O(live files). With the manifest
  tree the version manifest holds <= MAX_GROUPS group refs, so the
  manifest_bytes and append_s columns must stay FLAT from 10 to 100k.

Usage: python tools/snapshot_bench.py
Prints ONE JSON line; results land in tools/SNAPSHOT_BENCH.json.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from imagingdb_spark import snapshots as S
from imagingdb_spark.session import get_spark

SIZES = [10, 100, 1000]
SYNTH_SIZES = [10_000, 100_000]
REPS = 3


def _measure(spark, t: str, one) -> dict:
    """Append + replay-noop timings and tip-manifest stats for table t."""
    append_s = []
    for _ in range(REPS):
        t0 = time.time()
        S.snapshot_commit(spark, t, one.coalesce(1))
        append_s.append(time.time() - t0)
    replay_s = []
    S.snapshot_commit(spark, t, one.coalesce(1), txn=("bench", 0))
    for _ in range(REPS):
        t0 = time.time()
        S.snapshot_commit(spark, t, one.coalesce(1), txn=("bench", 0))
        replay_s.append(time.time() - t0)
    v = S._versions(t)[-1]
    raw = S._read_manifest_raw(t, v)
    return {
        "append_s": round(min(append_s), 4),
        "replay_noop_s": round(min(replay_s), 4),
        "manifest_bytes": os.path.getsize(
            os.path.join(t, S.MANIFEST_DIR, S._FMT.format(v))
        ),
        "n_groups": len(raw["groups"]),
        "live_files": S.snapshot_versions(t)[-1]["n_files"],
    }


def _seed_synthetic(spark, t: str, n_entries: int, schema_json: str) -> None:
    """Publish v1 with n_entries FABRICATED file refs (no data on disk):
    the manifest layer never opens data files on commit, so this measures
    exactly the metadata term a real 100k-file table would pay."""
    files = [
        {"path": f"data/seed/f{i:07d}.parquet", "bytes": 1 << 20}
        for i in range(n_entries)
    ]
    groups = S._child_groups(t, [], files, S._Attempt())
    manifest = S._next_manifest(
        None, "append", groups, n_entries, S._canon_schema_json(schema_json)
    )
    os.makedirs(t, exist_ok=True)
    S._publish(t, 1, manifest)


def _seed_synthetic_with_stats(
    spark, t: str, n_entries: int, schema_json: str
) -> None:
    """Like _seed_synthetic but every fabricated entry carries a disjoint
    k-range stat, so group refs get merged summaries and a point predicate
    must resolve to exactly one file — the 100k-entry data-skipping case."""
    files = [
        {
            "path": f"data/seed/f{i:07d}.parquet",
            "bytes": 1 << 20,
            "stats": {
                "k": {
                    "min": i * 100,
                    "max": i * 100 + 99,
                    "nulls": 0,
                    "rows": 100,
                }
            },
        }
        for i in range(n_entries)
    ]
    # MAX_GROUPS range-disjoint groups, the shape a clustered compaction
    # leaves: the point-predicate plan must open exactly ONE of them
    per = (n_entries + S.MAX_GROUPS - 1) // S.MAX_GROUPS
    groups = [
        S._write_group(t, files[i : i + per])
        for i in range(0, n_entries, per)
    ]
    manifest = S._next_manifest(
        None, "append", groups, n_entries * 100, S._canon_schema_json(schema_json)
    )
    os.makedirs(t, exist_ok=True)
    S._publish(t, 1, manifest)


def _measure_pruning(spark, t: str, point) -> dict:
    """Scan-plan latency + skip counters for a point predicate, plus (when
    the table has real data) pruned-read vs full-filter wall."""
    where = [("k", "=", point)]
    plan_s = []
    for _ in range(REPS):
        t0 = time.time()
        plan = S.snapshot_scan_plan(t, where)
        plan_s.append(time.time() - t0)
    out = {"plan_s": round(min(plan_s), 4), **plan}
    return out


def main() -> None:
    spark = get_spark("snapshot_bench")
    one = spark.range(1000).selectExpr("id as k", "string(id) as v")
    one.count()  # warm

    results: dict = {}
    synth: dict = {}
    root = tempfile.mkdtemp(prefix="snapbench_")
    try:
        for n_files in SIZES:
            t = os.path.join(root, f"t{n_files}")
            # seed n_files live files in ONE commit (n_files partitions,
            # enough rows that round-robin leaves no partition empty)
            seed = spark.range(n_files * 100).selectExpr(
                "id as k", "string(id) as v"
            )
            S.snapshot_commit(
                spark, t, seed.repartition(n_files), mode="overwrite"
            )
            tip = S.snapshot_versions(t)[-1]
            assert tip["n_files"] >= n_files * 0.9, tip
            results[str(n_files)] = _measure(spark, t, one)

        for n_entries in SYNTH_SIZES:
            t = os.path.join(root, f"s{n_entries}")
            _seed_synthetic(spark, t, n_entries, one.schema.json())
            synth[str(n_entries)] = _measure(spark, t, one)

        # data skipping: a point predicate against a clustered real table
        # (disjoint per-commit ranges) and against 10k/100k synthetic
        # entries with fabricated stats — plan cost must stay group-ref
        # sized and kept-file counts ~1 regardless of live-file count
        pruning: dict = {}
        t = os.path.join(root, "prune_real")
        for c in range(64):
            seed = spark.range(c * 1000, (c + 1) * 1000).selectExpr(
                "id as k", "string(id) as v"
            )
            S.snapshot_commit(spark, t, seed.repartitionByRange(4, "k"))
        real = _measure_pruning(spark, t, 31_500)
        t0 = time.time()
        pruned_rows = S.snapshot_read(
            spark, t, where=[("k", "=", 31_500)]
        ).count()
        real["pruned_read_s"] = round(time.time() - t0, 4)
        t0 = time.time()
        full_rows = (
            S.snapshot_read(spark, t).filter("k = 31500").count()
        )
        real["full_filter_read_s"] = round(time.time() - t0, 4)
        assert pruned_rows == full_rows == 1
        pruning["real_256_files"] = real
        for n_entries in SYNTH_SIZES:
            t = os.path.join(root, f"ps{n_entries}")
            _seed_synthetic_with_stats(spark, t, n_entries, one.schema.json())
            pruning[f"synthetic_{n_entries}"] = _measure_pruning(
                spark, t, (n_entries // 2) * 100 + 50
            )

        # bloom sidecars: the UNCLUSTERED point-lookup case min/max cannot
        # touch — sha-like keys appended commit by commit (4 files each);
        # every file's [min, max] spans the hex range, so stats keep ALL
        # files and only the bloom stage prunes. The sweep grows the same
        # table 8 → 32 → 96 commits and re-probes at each size: kept
        # files must stay ~O(1) (FPP x files) while files_total grows —
        # the b-tree-lookup shape at any table size.
        bloom: dict = {}
        t = os.path.join(root, "bloom")
        per = 2000
        probe_present = spark.range(777, 778).selectExpr(
            "sha2(string(id), 256) as h"
        ).collect()[0]["h"]
        committed = 0
        sweep = []
        for n_commits in (8, 32, 96):
            for c in range(committed, n_commits):
                rows = spark.range(c * per, (c + 1) * per).selectExpr(
                    "sha2(string(id), 256) as h", "id as n"
                )
                S.snapshot_commit(
                    spark, t, rows.repartition(4),
                    bloom_columns=["h"] if c == 0 else None,
                )
            committed = n_commits
            point: dict = {"commits": n_commits}
            for label, probe in (
                ("present", probe_present),
                ("absent", "8" * 64),  # mid-range: inside every [min,max]
            ):
                where = [("h", "=", probe)]
                plan_s = []
                for _ in range(REPS):
                    t0 = time.time()
                    plan = S.snapshot_scan_plan(t, where)
                    plan_s.append(time.time() - t0)
                point[label] = {"plan_s": round(min(plan_s), 4), **plan}
            sweep.append(point)
        bloom["sweep"] = sweep
        t0 = time.time()
        where = [("h", "=", probe_present)]
        bloom["pruned_read_rows"] = S.snapshot_read(
            spark, t, where=where
        ).count()
        bloom["pruned_read_s"] = round(time.time() - t0, 4)
        t0 = time.time()
        full = S.snapshot_read(spark, t)
        bloom["full_filter_read_rows"] = full.filter(
            full.h == probe_present
        ).count()
        bloom["full_filter_read_s"] = round(time.time() - t0, 4)
        assert bloom["pruned_read_rows"] == 1
        for point in sweep:
            assert point["absent"]["files_kept"] <= 2
            assert point["present"]["files_kept"] <= 3
    finally:
        shutil.rmtree(root, ignore_errors=True)

    # targeted DELETE (round-9): on a range-clustered corpus a narrow
    # takedown must rewrite files_rewritten << files_total (stats carry
    # whole groups by reference), and a bloom-indexed point takedown on
    # an UNCLUSTERED key must clear almost every candidate file
    delete: dict = {}
    root2 = tempfile.mkdtemp(prefix="snapbench_del_")
    try:
        t = os.path.join(root2, "clustered")
        for c in range(32):
            seed = spark.range(c * 1000, (c + 1) * 1000).selectExpr(
                "id as k", "string(id) as v"
            )
            S.snapshot_commit(spark, t, seed.repartitionByRange(4, "k"))
        t0 = time.time()
        out = S.snapshot_delete(
            spark, t, [("k", ">=", 15_200), ("k", "<", 15_400)]
        )
        delete["clustered_range"] = {
            "delete_s": round(time.time() - t0, 3),
            "rows_deleted": out["rows_deleted"],
            "files_total": out["files_total"],
            "files_rewritten": out["files_rewritten"],
            "groups_kept_by_ref": out["groups_kept_by_ref"],
        }
        assert out["rows_deleted"] == 200
        assert out["files_rewritten"] <= 4  # one commit's range slice
        t2 = os.path.join(root2, "bloomed")
        import hashlib

        for c in range(4):
            seed = spark.createDataFrame(
                [
                    (hashlib.sha256(str(c * 2000 + i).encode()).hexdigest(),
                     c * 2000 + i)
                    for i in range(2000)
                ],
                "h string, n long",
            ).repartition(8)
            S.snapshot_commit(
                spark, t2, seed, bloom_columns=["h"] if c == 0 else None
            )
        probe = hashlib.sha256(b"777").hexdigest()
        t0 = time.time()
        out2 = S.snapshot_delete(spark, t2, [("h", "=", probe)])
        delete["bloom_point_takedown"] = {
            "delete_s": round(time.time() - t0, 3),
            "rows_deleted": out2["rows_deleted"],
            "files_total": out2["files_total"],
            "files_rewritten": out2["files_rewritten"],
            "files_bloom_cleared": out2["files_bloom_cleared"],
        }
        assert out2["rows_deleted"] == 1
        assert out2["files_rewritten"] <= 3
    finally:
        shutil.rmtree(root2, ignore_errors=True)

    # merge-on-read deletion vectors vs copy-on-write on an UNCLUSTERED
    # key (round-10): the predicate (k % 997 == 7) matches rows in ~every
    # file of a doc_id-clustered corpus, so CoW must rewrite the whole
    # data set while mode="dv" writes O(deleted rows) of positions — the
    # write-amplification gap the sidecar design exists for. Also records
    # the DV read tax (post-delete full read vs the pre-delete read).
    dv_cmp: dict = {}
    root3 = tempfile.mkdtemp(prefix="snapbench_dv_")
    try:
        def _mk_uncl(tname: str) -> str:
            t = os.path.join(root3, tname)
            for c in range(16):
                seed = spark.range(c * 5000, (c + 1) * 5000).selectExpr(
                    "id as k", "id % 997 as m", "repeat('x', 64) as pad"
                )
                S.snapshot_commit(spark, t, seed.repartitionByRange(4, "k"))
            return t

        def _du(path: str) -> int:
            if not os.path.isdir(path):
                return 0
            return sum(
                os.path.getsize(os.path.join(dp, f))
                for dp, _dns, fs in os.walk(path)
                for f in fs
            )

        pred = [("m", "=", 7)]
        for mode in ("cow", "dv"):
            t = _mk_uncl(mode)
            data_before = _du(os.path.join(t, "data"))
            t0 = time.time()
            out = S.snapshot_delete(spark, t, pred, mode=mode)
            el = round(time.time() - t0, 3)
            data_written = _du(os.path.join(t, "data")) - data_before
            sidecar_written = _du(os.path.join(t, S.DELETES_DIR))
            t0 = time.time()
            n = S.snapshot_read(spark, t).count()
            read_s = round(time.time() - t0, 4)
            assert n == 80_000 - out["rows_deleted"]
            dv_cmp[mode] = {
                "delete_s": el,
                "rows_deleted": out["rows_deleted"],
                "files_total": out["files_total"],
                "files_rewritten": out["files_rewritten"],
                "bytes_data_written": data_written,
                "bytes_sidecar_written": sidecar_written,
                "post_delete_read_s": read_s,
            }
        # the claim under test: DV write cost is orders below CoW here
        assert dv_cmp["dv"]["files_rewritten"] == 0
        assert dv_cmp["dv"]["bytes_data_written"] == 0
        assert (
            dv_cmp["dv"]["bytes_sidecar_written"]
            < dv_cmp["cow"]["bytes_data_written"] / 10
        )
    finally:
        shutil.rmtree(root3, ignore_errors=True)

    line = json.dumps(
        {
            "metric": "snapshot_commit_cost",
            "by_live_files": results,
            "synthetic_by_live_files": synth,
            "pruning": pruning,
            "bloom": bloom,
            "delete": delete,
            "delete_dv_vs_cow_unclustered": dv_cmp,
        }
    )
    print(line)
    (Path(__file__).parent / "SNAPSHOT_BENCH.json").write_text(line + "\n")


if __name__ == "__main__":
    main()
