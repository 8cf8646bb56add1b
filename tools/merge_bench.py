"""File-pruned MERGE + DV-chain scale evidence (round 11) →
tools/MERGE_BENCH.json.

Three claims, measured rather than asserted in prose:

1. **A narrow upsert rewrites candidate files, not the table.** On a
   range-clustered 20M-row / 400-file table, a 500-key batch merged with
   strategy="pruned" rewrites a handful of files and carries the rest by
   reference; strategy="rewrite" (the pre-round-11 path) rewrites every
   file. files_rewritten / bytes written / wall are recorded for both.
   This closes SCALING.md's "one non-delta-proportional consumer path":
   an upsert-heavy 100 TB table no longer rewrites itself per batch.
2. **Merge-commit CDF work is delta-proportional.** A poll over 12
   narrow merge commits reads only each commit's (removed + added)
   candidate files — files_read stays flat as versions accumulate,
   because the commits themselves are now file-pruned.
3. **Repeat DV deletes cost O(new positions) each.** K successive dv
   deletes touching the same file append to a sidecar CHAIN: per-delete
   sidecar bytes stay flat (never a rewrite of the accumulated set), so
   K takedowns cost O(total positions) across all K — the round-10
   "What's wrong #1" hazard, closed and pinned.

Semantic counters (files_rewritten, bytes, files_read) ASSERT — load
cannot change them. Wall-clock ratios are recorded, with violations
listed in the JSON; --strict turns violations into a failure (idle-box
runs only).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from imagingdb_spark.session import get_spark  # noqa: E402
from imagingdb_spark import snapshots as S  # noqa: E402


def _du(path: str) -> int:
    if not os.path.isdir(path):
        return 0
    return sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _d, fs in os.walk(path)
        for f in fs
    )


def _mk_clustered(spark, t: str, rows: int, files: int) -> None:
    df = spark.range(rows).selectExpr(
        "id as k", "id % 997 as m", "repeat('x', 64) as pad"
    ).repartitionByRange(files, "k").sortWithinPartitions("k")
    S.snapshot_commit(spark, t, df)


def main() -> None:
    spark = get_spark()
    out: dict = {"metric": "merge_and_dvchain_scale"}
    root = tempfile.mkdtemp(prefix="mergebench_")
    try:
        # --- 1. narrow upsert: pruned vs full rewrite -------------------
        batch = spark.range(500).selectExpr(
            "id * 20 + 1000000 as k",  # 500 keys inside ~one key slice
            "cast(-1 as bigint) as m",
            "repeat('y', 64) as pad",
        )
        # 20M rows / 400 files: big enough that the full rewrite's cost is
        # data-bound, small enough to finish in seconds — the regime where
        # the pruned wall-clock win is visible even on local[32]

        res = {}
        for strat in ("pruned", "rewrite"):
            t = os.path.join(root, f"up_{strat}")
            _mk_clustered(spark, t, 20_000_000, 400)
            data_before = _du(os.path.join(t, "data"))
            plan: dict = {}
            t0 = time.time()
            S.snapshot_merge(spark, t, batch, "k", strategy=strat, plan=plan)
            el = round(time.time() - t0, 3)
            m = S._read_manifest_raw(t, 2)
            prev = S._read_manifest_raw(t, 1)
            res[strat] = {
                "merge_s": el,
                "files_total": len(prev["files"])
                if prev.get("files")
                else sum(g["n_files"] for g in prev["groups"]),
                "files_written": len(S._added_entries(t, prev, m)),
                # entries of v1 gone at v2 = candidate files replaced
                "files_replaced": len(S._added_entries(t, m, prev)),
                "bytes_before": data_before,
                "bytes_written": _du(os.path.join(t, "data")) - data_before,
                "rows_after": m["rows"],
            }
        out["narrow_upsert_pruned_vs_rewrite"] = res
        # pruned: a couple of candidate files rewritten, bytes O(candidates);
        # rewrite: the WHOLE table's bytes land again (AQE may coalesce the
        # output into fewer, larger files — bytes are the honest pin)
        assert res["pruned"]["files_written"] <= 4
        assert res["pruned"]["bytes_written"] * 10 < res["rewrite"][
            "bytes_written"
        ]
        assert (
            res["rewrite"]["bytes_written"]
            >= 0.5 * res["rewrite"]["bytes_before"]
        )
        assert res["pruned"]["rows_after"] == res["rewrite"]["rows_after"]
        speedup = res["rewrite"]["merge_s"] / max(res["pruned"]["merge_s"], 1e-9)
        out["pruned_merge_speedup"] = round(speedup, 2)
        if speedup < 2.0:
            out.setdefault("violations", []).append(
                f"pruned merge speedup {speedup:.2f} < 2.0 over full rewrite"
            )

        # --- 2. CDF files_read flat over 12 narrow merges ---------------
        t = os.path.join(root, "cdf")
        _mk_clustered(spark, t, 1_000_000, 32)
        per_commit = []
        for i in range(12):
            b = spark.range(50).selectExpr(
                f"id + {i * 30_000} as k",
                "cast(-2 as bigint) as m",
                "repeat('z', 64) as pad",
            )
            plan = {}
            S.snapshot_merge(spark, t, b, "k", plan=plan)
            per_commit.append(plan["files_rewritten"])
        cdf_plan: dict = {}
        cdf = S.snapshot_row_changes(spark, t, 1, key="k", plan=cdf_plan)
        n_changes = cdf.count()
        out["merge_cdf_12_commits"] = {
            "files_rewritten_per_commit": per_commit,
            "cdf_files_read": cdf_plan["files_read"],
            "change_rows": n_changes,
        }
        assert max(per_commit) <= 3
        # removed + added per commit, bounded by candidates, never O(table)
        assert cdf_plan["files_read"] <= 12 * 2 * (max(per_commit) + 1)

        # --- 3. repeat DV deletes on one hot file: chain, not rewrite ---
        t = os.path.join(root, "chain")
        S.snapshot_commit(
            spark, t,
            spark.range(2_000_000).selectExpr(
                "id as k", "repeat('x', 32) as pad"
            ).coalesce(1),
        )
        sidecars_bytes = []
        walls = []
        for i in range(8):
            t0 = time.time()
            before = _du(os.path.join(t, S.DELETES_DIR))
            S.snapshot_delete(
                spark, t,
                [("k", ">=", i * 1_000), ("k", "<", i * 1_000 + 1_000)],
                mode="dv",
            )
            walls.append(round(time.time() - t0, 3))
            sidecars_bytes.append(
                _du(os.path.join(t, S.DELETES_DIR)) - before
            )
        (fe,) = S._read_manifest(t, S._versions(t)[-1])["files"]
        out["dv_chain_8_deletes_one_file"] = {
            "per_delete_sidecar_bytes": sidecars_bytes,
            "per_delete_wall_s": walls,
            "chain_len": len(S._dv_scs(fe["dv"])),
            "positions_total": fe["dv"]["n"],
        }
        assert len(S._dv_scs(fe["dv"])) == 8
        assert fe["dv"]["n"] == 8_000
        # each delete lands only ITS positions: the last sidecar is the
        # same size class as the first (a merged rewrite would be ~8x)
        assert sidecars_bytes[-1] <= 2 * sidecars_bytes[0]
        assert S.snapshot_read(spark, t).count() == 2_000_000 - 8_000
    finally:
        shutil.rmtree(root, ignore_errors=True)

    line = json.dumps(out)
    print(line)
    (Path(__file__).parent / "MERGE_BENCH.json").write_text(line + "\n")
    if out.get("violations") and "--strict" in sys.argv:
        raise SystemExit(
            "wall-clock violations (idle-box --strict run): "
            + "; ".join(out["violations"])
        )


if __name__ == "__main__":
    main()
