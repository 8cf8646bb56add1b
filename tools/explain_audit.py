"""Plan audit: dump .explain(formatted) for every registered query and flag
scale hazards:

- CartesianProduct / BroadcastNestedLoopJoin (quadratic / driver-melting)
- SortMergeJoin against a FIXED_DIMS table (should be broadcast)
- parquet scans with no pushed filters where the query clearly filters
- Exchange count (shuffles) per query

Usage: python tools/explain_audit.py [sf_dir] [query ...]
Writes tools/plans/<name>.txt and prints a one-line summary per query.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from imagingdb_spark import registry
from imagingdb_spark.session import get_spark


def plan_node_counts(plan: str) -> tuple[int, int]:
    """(shuffle Exchange nodes, parquet scan nodes) of a formatted plan.
    Counts the numbered DETAIL headers only — each node appears once
    there, whereas the tree rendering repeats reused subtrees (a plan
    that references one scan 4 times would otherwise count 5). Shared by
    this audit and tools/gen_query_index.py so the two can never
    disagree about the same plan file."""
    n_exchange = len(re.findall(r"^\(\d+\) Exchange\b", plan, re.M))
    n_scans = len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M))
    return n_exchange, n_scans


def _bnlj_all_scalar(plan: str) -> bool:
    """True when every BroadcastNestedLoopJoin in the formatted plan has a
    SCALAR build side — a BroadcastExchange over a global (Keys: [])
    aggregate, i.e. a 1-row total being attached to every row. That is the
    plan Spark itself produces for scalar subqueries and is O(n), not the
    quadratic BNLJ this audit exists to catch. (Catalyst constant-folds a
    literal equi-key join back into a BNLJ, so a scalar attach cannot
    avoid this node type.)"""
    lines = plan.split("\n\n", 1)[0].splitlines()
    scalar_agg_ids = {
        m.group(1)
        for m in re.finditer(
            r"\((\d+)\) HashAggregate\n(?:[^\n]*\n)?Keys: \[\]", plan
        )
    }

    def conn_col(line: str) -> int:
        m = re.search(r"[:+]-", line)
        return m.start() if m else -1

    for i, line in enumerate(lines):
        if "BroadcastNestedLoopJoin" not in line:
            continue
        my_col = conn_col(line)
        # subtree = following lines with a deeper connector; direct
        # children sit at the minimal connector column within it
        subtree: list[int] = []
        for j in range(i + 1, len(lines)):
            c = conn_col(lines[j])
            if c <= my_col:
                break
            subtree.append(j)
        if not subtree:
            return False
        child_col = min(conn_col(lines[j]) for j in subtree)
        build_j = max(
            (j for j in subtree
             if conn_col(lines[j]) == child_col
             and lines[j].lstrip(" :").startswith("+-")),
            default=None,
        )
        if build_j is None or "BroadcastExchange" not in lines[build_j]:
            return False
        # the exchange's input must be the global aggregate, possibly
        # behind row-preserving-or-reducing wrappers (Filter / Project) —
        # e.g. the isnotnull(total) filter Catalyst inserts when the join
        # condition references the scalar; a wrapped 1-row build side is
        # still at most 1 row
        ok = False
        for j in range(build_j + 1, len(lines)):
            if conn_col(lines[j]) <= conn_col(lines[build_j]):
                break
            node = lines[j].lstrip(" :+-")
            if node.startswith(("Filter", "Project")):
                continue
            ids = re.findall(r"\((\d+)\)", lines[j])
            ok = (
                "HashAggregate" in lines[j]
                and bool(ids)
                and ids[0] in scalar_agg_ids
            )
            break
        if not ok:
            return False
    return True


# Node types whose output is bounded regardless of input size — a window
# directly over one of these is a deliberate "tiny total order", not the
# move-everything-to-one-task hazard (w_rownum_page pattern).
_BOUNDED_NODES = ("TakeOrderedAndProject", "GlobalLimit", "CollectLimit")


def _top_level_groups(args_line: str) -> list[str]:
    """The top-level [..] groups of a formatted Arguments: line."""
    depth = 0
    groups: list[str] = []
    start = 0
    for i, ch in enumerate(args_line):
        if ch == "[":
            if depth == 0:
                start = i + 1
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append(args_line[start:i])
    return groups


def unpartitioned_unbounded_windows(plan: str) -> list[str]:
    """Node ids of Window nodes with NO partition spec whose direct child
    is not a bounded operator — the exact x_token_ids-class scale killer
    (Spark logs 'No Partition Defined ... Moving all data to a single
    partition' for these at runtime). A formatted Window detail reads
    `Arguments: [funcs], [partSpec], [orderSpec]`, with EMPTY specs
    dropped — so two groups means either partition-only (fine) or
    order-only (the hazard); only order specs carry ASC/DESC NULLS."""
    bad: list[str] = []
    tree = plan.split("\n\n", 1)[0].splitlines()
    for m in re.finditer(
        r"^\((\d+)\) Window\n(?:[^\n]*\n)*?Arguments: ([^\n]*)", plan, re.M
    ):
        node_id, args = m.group(1), m.group(2)
        groups = _top_level_groups(args)
        if len(groups) == 3:
            continue  # [funcs], [partition], [order]
        # two groups is ambiguous: [funcs], [partition] (partition-only
        # whole-frame window — fine) vs [funcs], [order] (UNPARTITIONED —
        # the hazard). Order specs always carry sort directions.
        if len(groups) == 2 and not re.search(
            r"(ASC|DESC) NULLS", groups[1]
        ):
            continue  # partition-only
        for i, line in enumerate(tree):
            if re.search(rf"Window(Group\w+)? \({node_id}\)$", line):
                child = tree[i + 1] if i + 1 < len(tree) else ""
                if not any(b in child for b in _BOUNDED_NODES):
                    bad.append(node_id)
                break
    return bad


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    registry.load_all()
    names = args[1:] or sorted(registry.QUERIES)
    spark = get_spark()
    outdir = ROOT / "tools/plans"
    outdir.mkdir(exist_ok=True)

    flagged = 0
    for name in names:
        # cold-cache plans: a persisted intermediate from a PREVIOUS
        # query's build would otherwise swap lineage for an
        # InMemoryTableScan and make the archived counts order-dependent
        spark.catalog.clearCache()
        df = registry.QUERIES[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        (outdir / f"{name}.txt").write_text(plan)
        hazards = []
        if "CartesianProduct" in plan:
            hazards.append("CARTESIAN")
        if (
            "BroadcastNestedLoopJoin" in plan
            and "LeftAnti" not in plan
            and not _bnlj_all_scalar(plan)
        ):
            hazards.append("BNLJ")
        # SMJ is only a hazard when a FIXED-size dim sits on one side
        # (should be broadcast); an SMJ between two data-scaled inputs —
        # e.g. x_dedup_compact's corpus-vs-losers anti-join, where the
        # loser set grows with the corpus — is exactly the plan that
        # survives 100 TB, so a bare SMJ is reported but not flagged.
        if unpartitioned_unbounded_windows(plan):
            hazards.append("UNPART_WINDOW")
        if "SortMergeJoin" in plan and any(
            f"{t}.parquet" in plan for t in ("region", "nation")
        ):
            hazards.append("SMJ_FIXED_DIM")
        n_exchange, n_scans = plan_node_counts(plan)
        summary = f"{name}: exchanges={n_exchange} scans={n_scans}"
        if hazards:
            summary += "  !! " + ",".join(hazards)
            flagged += 1
        print(summary, flush=True)
    print(f"\n{flagged} queries flagged; plans in tools/plans/")


if __name__ == "__main__":
    main()
