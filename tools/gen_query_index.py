"""Generate QUERIES.md: one row per registered query — priority position
(driver checks the first ~50), oracle status, exchange/scan counts from the
archived physical plans, and the first docstring sentence.

Usage: python tools/gen_query_index.py
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "tools"))

from explain_audit import plan_node_counts  # one owner for node counting

from imagingdb_spark import registry

PLANS = ROOT / "tools/plans"


def first_sentence(doc: str | None) -> str:
    if not doc:
        return ""
    text = " ".join(line.strip() for line in doc.strip().splitlines())
    # sentence boundary = [.!?] + space + UPPERCASE, so abbreviations
    # ('w.r.t. unlike', 'et al. 2021') don't truncate the description
    m = re.split(r"(?<=[.!?]) (?=[A-Z])", text, maxsplit=1)
    s = m[0].replace("|", "\\|")  # markdown-table-safe
    return s if len(s) <= 160 else s[:157] + "..."


def plan_stats(name: str) -> str:
    p = PLANS / f"{name}.txt"
    if not p.exists():
        return "-"
    ex, scans = plan_node_counts(p.read_text())
    return f"{ex} ex / {scans} scan"


def main() -> None:
    registry.load_all()
    ordered = registry.ordered_queries()
    lines = [
        "# Query index",
        "",
        "Auto-generated by `tools/gen_query_index.py` from the registry —",
        "do not edit by hand. Position = driver correctness-window order",
        "(the driver checks roughly the first 50 each round; the rotation",
        "plan in `imagingdb_spark/registry.py` cycles the tail through the",
        "window across rounds). Plan stats count Exchange / parquet-scan",
        "nodes in the archived physical plan (`tools/plans/<name>.txt`).",
        "",
        "| # | query | oracle | plan | what it does |",
        "|---|---|---|---|---|",
    ]
    for i, (name, fn) in enumerate(ordered.items(), 1):
        oracle = "exact" if name in registry.ORACLE else "rows-only"
        lines.append(
            f"| {i} | {name} | {oracle} | {plan_stats(name)} | "
            f"{first_sentence(fn.__doc__)} |"
        )
    n = len(ordered)
    n_oracle = len(registry.ORACLE)
    lines += [
        "",
        f"**{n} queries; {n_oracle} oracle-exact, {n - n_oracle} rows-only "
        "(LSH/banding/sketches/iterative — each with invariant or "
        "reference-twin unit tests).**",
        "",
    ]
    (ROOT / "QUERIES.md").write_text("\n".join(lines))
    print(f"QUERIES.md: {n} rows")


if __name__ == "__main__":
    main()
