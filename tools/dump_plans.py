"""Dump .explain("formatted") for queries into plans/<round>/<name>_<tag>.txt.

Usage: python tools/dump_plans.py <round> <before|after> [--sf DIR] [query ...]
e.g. ``python tools/dump_plans.py r12 before``. Defaults to bench.py's
HEADLINE list at the SF bench.py runs ($SPARK_GRAFT_SF_DIR; join strategies
are size-dependent, so perf claims are made at the SF they were measured
at; tools/plans/ keeps the sf0.01 archives the plan guard pins).
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bench import HEADLINE
from imagingdb_spark import registry
from imagingdb_spark.session import get_spark


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    rnd, tag = sys.argv[1], sys.argv[2]
    args = sys.argv[3:]
    sf = os.environ.get("SPARK_GRAFT_SF_DIR")
    if args and args[0] == "--sf":
        sf = args[1]
        args = args[2:]
    if sf is None:
        sys.exit("no SF directory: pass --sf DIR or set SPARK_GRAFT_SF_DIR")
    names = args or HEADLINE
    registry.load_all()
    spark = get_spark(f"plans_{rnd}")
    out_dir = REPO / "plans" / rnd
    out_dir.mkdir(parents=True, exist_ok=True)
    for name in names:
        df = registry.QUERIES[name](spark, sf)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        (out_dir / f"{name}_{tag}.txt").write_text(plan)
        spark.catalog.clearCache()
        print(f"wrote {name}_{tag}.txt", file=sys.stderr)


if __name__ == "__main__":
    main()
