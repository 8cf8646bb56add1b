"""Plan-regression guard (VERDICT r3 item 5): keep the plans that earned
the green rows green.

Two layers:
1. **Archive scan** (no Spark, milliseconds): every committed plan in
   tools/plans/ must be free of scale hazards — CartesianProduct,
   non-scalar BroadcastNestedLoopJoin, unpartitioned Window over
   unbounded input (the x_token_ids class — a billion-row single-task
   sort at web scale).
2. **Live pin** (Spark, sf0.01 — the SF the archive is generated at):
   rebuild every bench.py HEADLINE query and assert its exchange/scan
   counts still match the committed archive, and that it carries none of
   the hazards. A refactor that silently adds a shuffle, re-scans the
   fact table, or drops a broadcast fails HERE, before it costs a round.

When a plan changes ON PURPOSE: regenerate the archive
(`python tools/explain_audit.py /root/testdata/sf0.01 <query>`) and
commit the new .txt alongside the code change — the diff of the plan
file is the review artifact.

Hazard detection lives in tools/explain_audit.py (single owner, shared
with the CLI audit and tools/gen_query_index.py).
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, "/root/repo/tools")

from explain_audit import (  # noqa: E402
    _bnlj_all_scalar,
    plan_node_counts,
    unpartitioned_unbounded_windows,
)

from bench import HEADLINE  # noqa: E402
from imagingdb_spark import registry  # noqa: E402

PLANS = Path("/root/repo/tools/plans")
SF_DIR = "/root/testdata/sf0.01"  # MUST match the archive's SF: join
# strategy selection reads file-size stats, so counts are SF-dependent


def _hazards(plan: str) -> list[str]:
    out = []
    if "CartesianProduct" in plan:
        out.append("CartesianProduct")
    if "BroadcastNestedLoopJoin" in plan and not _bnlj_all_scalar(plan):
        out.append("non-scalar BroadcastNestedLoopJoin")
    bad = unpartitioned_unbounded_windows(plan)
    if bad:
        out.append(f"unpartitioned unbounded Window (nodes {bad})")
    return out


class TestArchiveClean:
    def test_every_archived_plan_hazard_free(self):
        failures = {}
        for f in sorted(PLANS.glob("*.txt")):
            hz = _hazards(f.read_text())
            if hz:
                failures[f.name] = hz
        assert not failures, failures

    def test_headline_queries_have_archived_plans(self):
        missing = [q for q in HEADLINE if not (PLANS / f"{q}.txt").exists()]
        assert not missing, missing


@pytest.fixture(scope="module")
def live_plans(spark):
    """Formatted plan for every headline query, built once."""
    registry.load_all()
    out = {}
    for name in HEADLINE:
        df = registry.QUERIES[name](spark, SF_DIR)
        out[name] = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        spark.catalog.clearCache()
    return out


class TestHeadlinePinned:
    def test_no_hazards_live(self, live_plans):
        failures = {q: _hazards(p) for q, p in live_plans.items() if _hazards(p)}
        assert not failures, failures

    def test_exchange_and_scan_counts_match_archive(self, live_plans):
        drift = {}
        for name, plan in live_plans.items():
            archived = (PLANS / f"{name}.txt").read_text()
            want = plan_node_counts(archived)
            got = plan_node_counts(plan)
            if got != want:
                drift[name] = {"archived (exchanges, scans)": want, "live": got}
        assert not drift, (
            "plan drift vs tools/plans/ — if intentional, regenerate the "
            f"archive (see module docstring): {drift}"
        )
