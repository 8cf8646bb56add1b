"""Merge-on-read + UPDATE scale evidence (round 10) → tools/DV_BENCH.json.

Four claims, each measured rather than asserted in prose:

1. **DV read tax is proportional to the DV-BEARING files' rows, not the
   scan.** _read_entries splits the scan: files without a dv ref stay a
   plain whole-stage-codegen parquet branch; only dv-bearing files pay
   the broadcast anti-join probe. On a k-clustered table where a
   takedown touches ONE size-bounded file, the absolute tax stays flat
   as the table grows 25x in file count and the RELATIVE tax falls. The honest worst case is
   also recorded: an unclustered delete that leaves a dv ref on every
   file pays the probe on every row (~5x on a metadata-cheap sum at 5M
   rows) — the same physics as Iceberg/Delta merge-on-read, and the
   reason compaction materializes DVs; bloom/clustered keys keep real
   takedowns in the one-file regime.
2. **DV write cost is O(deleted positions), not O(table).** Sidecar bytes
   and delete wall for 100 / 10k / 100k deleted rows on the same 5M-row
   table; CoW on the same predicates rewrites ~every file.
3. **UPDATE is surgical on a clustered key.** A narrow predicate update on
   a 32-commit range-clustered table rewrites ≤ a couple of files and
   carries the rest by reference (files_rewritten / files_total recorded).
4. **Per-poll CDF work for UPDATE commits is flat.** A SnapshotFeed
   (upsert_key) following a table maintained by repeated narrow updates
   reads only each commit's rewritten files per poll — files_read stays
   constant as versions accumulate (the merge-commit caveat — a full-
   rewrite MERGE reads the rewritten table — is inherent to full-rewrite
   semantics and documented at snapshot_row_changes).

Run serialized on an idle box (timings, not semantics, are the point).
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

from pyspark.sql import functions as F  # noqa: E402

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


def main() -> None:
    spark = get_spark()
    out: dict = {"metric": "dv_and_update_scale"}
    root = tempfile.mkdtemp(prefix="dvbench_")
    try:
        # --- 1. read tax vs table size (clustered: DV touches 1 file) ---
        tax = {}
        for rows in (200_000, 1_000_000, 5_000_000):
            t = os.path.join(root, f"tax{rows}")
            # files stay ~50k rows at every size (real tables grow in
            # FILE COUNT at bounded file size, not in file size), so the
            # one dv-bearing file is the same absolute work throughout
            n_files = rows // 50_000
            spark_df = spark.range(rows).selectExpr(
                "id as k", "id % 997 as m", "repeat('x', 64) as pad"
            ).repartitionByRange(n_files, "k").sortWithinPartitions("k")
            S.snapshot_commit(spark, t, spark_df)
            pre = S._versions(t)[-1]
            res = S.snapshot_delete(
                spark, t, [("k", "<", 100)], mode="dv"
            )  # 100 positions, all in the low-k file
            # warm both paths once, then min-of-3 each
            for df in (S.snapshot_read(spark, t, version=pre),
                       S.snapshot_read(spark, t)):
                df.agg(F.sum("k")).collect()
            plain = min(
                _timed(S.snapshot_read(spark, t, version=pre))
                for _ in range(3)
            )
            dv = min(
                _timed(S.snapshot_read(spark, t)) for _ in range(3)
            )
            tax[rows] = {
                "plain_read_s": round(plain, 4),
                "dv_read_s": round(dv, 4),
                "tax_ratio": round(dv / plain, 3),
                "files_dv": res["files_dv"],
                "files_total": res["files_total"],
            }
            assert res["files_dv"] <= 2  # clustered: the probe stays local
        out["read_tax_vs_rows_clustered"] = tax
        # the delta-proportional claim, in its robust ABSOLUTE form: the
        # dv overhead (sidecar read + one extra task over the one
        # dv-bearing file) stays flat across a 25x growth in file count
        over = {
            r: tax[r]["dv_read_s"] - tax[r]["plain_read_s"] for r in tax
        }
        out["dv_overhead_s"] = {r: round(v, 4) for r, v in over.items()}
        # wall-clock claims are RECORDED, not asserted: on a loaded box
        # an assert would abort minutes of work over ambient noise —
        # violations land in the JSON (and fail only under --strict on
        # an idle box). Semantic claims (files_dv, bytes_data_written,
        # files_rewritten, per-poll files_read) still assert: load
        # cannot change them.
        flat_ratio = over[5_000_000] / max(over[200_000], 0.05)
        out["dv_overhead_flat_ratio"] = round(flat_ratio, 3)
        if flat_ratio > 2.5:
            out.setdefault("violations", []).append(
                f"dv_overhead_flat_ratio {flat_ratio:.2f} > 2.5 "
                "(expected flat absolute overhead across 25x file growth)"
            )
        # honest worst case, one size: every file dv-bearing (unclustered
        # round-robin layout) pays the probe on every row
        t = os.path.join(root, "taxworst")
        S.snapshot_commit(
            spark, t,
            spark.range(5_000_000).selectExpr(
                "id as k", "id % 997 as m", "repeat('x', 64) as pad"
            ).repartition(16),
        )
        pre = S._versions(t)[-1]
        res = S.snapshot_delete(spark, t, [("k", "<", 100)], mode="dv")
        for df in (S.snapshot_read(spark, t, version=pre),
                   S.snapshot_read(spark, t)):
            df.agg(F.sum("k")).collect()
        plain = min(
            _timed(S.snapshot_read(spark, t, version=pre)) for _ in range(3)
        )
        dv = min(_timed(S.snapshot_read(spark, t)) for _ in range(3))
        out["read_tax_worst_unclustered_5m"] = {
            "plain_read_s": round(plain, 4),
            "dv_read_s": round(dv, 4),
            "tax_ratio": round(dv / plain, 3),
            "files_dv": res["files_dv"],
            "files_total": res["files_total"],
        }
        # round-11: the DV-debt maintenance tick heals the worst case —
        # every file dv-bearing trips max_dv_file_frac, one compact
        # materializes all DVs, and the read tax returns to ~1x
        rep = S.snapshot_dv_report(t)
        # keep the healed layout at the same ~16-file parallelism as the
        # pre-tick table: the claim under test is the DV tax vanishing,
        # not a 1-task-vs-16-task scan artifact
        v = S.snapshot_maintain(
            spark, t, "k", max_avg_overlap=1e9,
            target_file_bytes=6 * 1024 * 1024,
        )
        assert v is not None and rep["dv_file_frac"] > 0.2
        healed_rep = S.snapshot_dv_report(t)
        assert healed_rep["files_dv"] == 0
        S.snapshot_read(spark, t).agg(F.sum("k")).collect()  # warm
        healed = min(_timed(S.snapshot_read(spark, t)) for _ in range(3))
        out["read_tax_worst_healed_by_maintain"] = {
            "pre_tick_dv_file_frac": rep["dv_file_frac"],
            "healed_read_s": round(healed, 4),
            "healed_ratio_vs_plain": round(healed / plain, 3),
        }
        if healed > 1.5 * plain:
            out.setdefault("violations", []).append(
                f"healed read {healed:.2f}s > 1.5x plain {plain:.2f}s "
                "(expected ~1x after DV materialization)"
            )

        # --- 2. write cost vs deleted rows -----------------------------
        wr = {}
        for k in (100, 10_000, 100_000):
            t = os.path.join(root, f"wr{k}")
            S.snapshot_commit(
                spark, t,
                spark.range(5_000_000).selectExpr(
                    "id as k", "repeat('x', 32) as pad"
                ).repartition(16),
            )
            data_before = _du(os.path.join(t, "data"))
            t0 = time.time()
            res = S.snapshot_delete(spark, t, [("k", "<", k)], mode="dv")
            el = round(time.time() - t0, 3)
            wr[k] = {
                "delete_s": el,
                "rows_deleted": res["rows_deleted"],
                "files_rewritten": res["files_rewritten"],
                "bytes_data_written": _du(os.path.join(t, "data"))
                - data_before,
                "bytes_sidecar": _du(os.path.join(t, S.DELETES_DIR)),
            }
            assert res["rows_deleted"] == k
            assert wr[k]["bytes_data_written"] == 0
        out["dv_write_vs_deleted_rows"] = wr

        # --- 3. UPDATE is surgical on a clustered key ------------------
        t = os.path.join(root, "upd")
        for c in range(32):
            S.snapshot_commit(
                spark, t,
                spark.range(c * 20_000, (c + 1) * 20_000).selectExpr(
                    "id as k", "string(id) as v"
                ).repartitionByRange(2, "k"),
            )
        t0 = time.time()
        res = S.snapshot_update(
            spark, t, [("k", ">=", 300_000), ("k", "<", 300_500)],
            {"v": "'redacted'"},
        )
        out["update_surgical"] = {
            "update_s": round(time.time() - t0, 3),
            "rows_updated": res["rows_updated"],
            "files_total": res["files_total"],
            "files_rewritten": res["files_rewritten"],
            "groups_kept_by_ref": res["groups_kept_by_ref"],
        }
        assert res["files_rewritten"] <= 2

        # --- 4. per-poll CDF work flat under repeated updates ----------
        from imagingdb_spark.streaming import jobs

        polls = []
        seen = {"n": 0}

        def sink(df, batch_id):
            seen["n"] += df.count()

        feed = jobs.SnapshotFeed(
            t, sink, os.path.join(root, "ck"), upsert_key="k"
        )
        feed.processAllAvailable()  # catch up past the build
        for i in range(12):
            S.snapshot_update(
                spark, t,
                [("k", ">=", i * 1_000), ("k", "<", i * 1_000 + 200)],
                {"v": f"'u{i}'"},
            )
            feed.step()
            polls.append(feed.last_plan.get("files_read"))
        out["update_cdf_polls_files_read"] = polls
        assert max(polls[-4:]) <= max(polls[:4])  # flat, not growing
    finally:
        shutil.rmtree(root, ignore_errors=True)

    line = json.dumps(out)
    print(line)
    (Path(__file__).parent / "DV_BENCH.json").write_text(line + "\n")
    if out.get("violations") and "--strict" in sys.argv:
        raise SystemExit(
            "wall-clock violations (idle-box --strict run): "
            + "; ".join(out["violations"])
        )


def _timed(df) -> float:
    # force a real data read: a bare count() over plain parquet
    # short-circuits to footer metadata and would make the no-DV side
    # artificially free
    t0 = time.time()
    df.agg(F.sum("k")).collect()
    return time.time() - t0


if __name__ == "__main__":
    main()
