"""Print a canonicalized content hash per query — used during the
optimization rounds to prove result-identity of a code change (run once on
the old tree, once on the new, diff the output).

Usage: python tools/hash_queries.py [sf_dir] query [query ...]
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from imagingdb_spark import registry
from imagingdb_spark.session import get_spark
sys.path.insert(0, str(ROOT / "tools"))
from selfcheck import normalize  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    registry.load_all()
    spark = get_spark("hashq")
    for name in names:
        pdf = registry.QUERIES[name](spark, sf_dir).toPandas()
        norm = normalize(pdf)
        h = hashlib.sha256(
            norm.to_csv(index=False).encode("utf-8")
        ).hexdigest()[:16]
        print(f"{name} rows={len(pdf)} hash={h}", flush=True)
        spark.catalog.clearCache()


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT / "tools"))
    main()
