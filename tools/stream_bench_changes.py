"""Changelog-source flatness evidence (round-9 verdict item 2): as a
snapshot table accretes VERSIONS (one commit per gate trigger), a
changelog poll (``snapshots.snapshot_changes(cursor -> tip)``) must do
per-trigger manifest work proportional to the DELTA — groups opened and
wall-clock flat in the table's version/live-file count — while a full
manifest resolution (what a gate's per-trigger ``snapshot_read`` pays)
grows with the live file count.

Build: one table, COMMITS appends of one file each. At checkpoints,
measure (a) the poll: snapshot_changes(tip-1 -> tip) plan counters +
wall, (b) the full resolution: _read_manifest file count + wall.
Asserts the poll's delta equals the commit's rows every time.

Usage: python tools/stream_bench_changes.py [n_commits]

Prints ONE JSON line and rewrites tools/STREAM_BENCH_CHANGES.json.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from imagingdb_spark import snapshots as S
from imagingdb_spark.session import get_spark


def main() -> None:
    n_commits = int(sys.argv[1]) if len(sys.argv) > 1 else 120
    spark = get_spark()
    work = Path(tempfile.mkdtemp(prefix="stream_bench_changes_"))
    t = str(work / "t")
    checkpoints = sorted(
        {max(1, n_commits // 12), n_commits // 4, n_commits // 2,
         3 * n_commits // 4, n_commits}
    )
    samples = []
    try:
        for c in range(1, n_commits + 1):
            cur = S._versions(t)[-1] if c > 1 else 0
            S.snapshot_commit(
                spark, t,
                spark.createDataFrame(
                    [(c * 10 + i, f"v{c}") for i in range(10)],
                    "k long, v string",
                ).coalesce(1),
            )
            if c not in checkpoints:
                continue
            # (a) the changelog poll for JUST this trigger's delta
            t0 = time.perf_counter()
            plan: dict = {}
            delta = S.snapshot_changes(spark, t, cur, plan=plan)
            rows = delta.count()
            poll_ms = (time.perf_counter() - t0) * 1000
            # (b) the full manifest resolution a non-incremental trigger
            # pays (resolve every live file entry)
            t1 = time.perf_counter()
            m = S._read_manifest(t, S._versions(t)[-1])
            full_files = len(m["files"])
            full_ms = (time.perf_counter() - t1) * 1000
            samples.append(
                {
                    "versions": c,
                    "live_files": full_files,
                    "poll_groups_opened": plan["groups_opened"],
                    "poll_files_added": plan["files_added"],
                    "poll_rows": rows,
                    "poll_ms": round(poll_ms, 1),
                    "full_resolution_files": full_files,
                    "full_resolution_ms": round(full_ms, 1),
                    "delta_exact": rows == 10,
                }
            )
        out = {
            "metric": "changelog_poll_flat_in_versions",
            "n_commits": n_commits,
            "samples": samples,
            "all_deltas_exact": all(s["delta_exact"] for s in samples),
            # the claim in one pair of numbers: files the poll touched at
            # the LAST checkpoint vs the live files a full resolution
            # resolves there
            "final_poll_files": samples[-1]["poll_files_added"],
            "final_live_files": samples[-1]["live_files"],
        }
        line = json.dumps(out)
        print(line)
        (Path(__file__).parent / "STREAM_BENCH_CHANGES.json").write_text(
            line + "\n"
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
