"""Full-registry sf0.1 oracle sweep — the rotation-gap closer
(BASELINE.md records one row per round): every registered query vs its
DuckDB oracle at 10× fixture scale, value-hash compared after the
driver's canonicalization (tests/parity.py), one warm local[32]
session. Exit nonzero on any mismatch.

    python tools/full_sweep.py [NAME_REGEX]

An optional regex (``re.search`` on the query name) limits the sweep to
one operator family, e.g. ``'^(timepoint_asof|current_value)$'``."""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from dariadb_spark.registry import REGISTRY  # noqa: E402
from dariadb_spark.session import get_spark  # noqa: E402
from tests.parity import compare  # noqa: E402


def main() -> None:
    pattern = re.compile(sys.argv[1] if len(sys.argv) > 1 else "")
    names = [n for n in REGISTRY if pattern.search(n)]
    if not names:
        sys.exit(f"no registered query matches {pattern.pattern!r}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("dariadb-full-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem"
              " events documents embeddings").split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" read_parquet('{sf_dir}/{t}.parquet')"
        )
    t0 = time.perf_counter()
    bad, n = [], 0
    for name in names:
        spec = REGISTRY[name]
        n += 1
        try:
            res = compare(name, spec.fn(spark, sf_dir), con, spec.oracle)
            if not res.ok:
                bad.append((name, res.problems[:2]))
        except Exception as exc:  # noqa: BLE001 — sweep must report, not die
            bad.append((name, [f"error: {exc}"[:200]]))
        if n % 25 == 0:
            print(f"  …{n}/{len(names)}", file=sys.stderr)
    wall = time.perf_counter() - t0
    print(json.dumps({
        "metric": "full_registry_sweep",
        "sf_dir": sf_dir,
        "filter": pattern.pattern,
        "n": len(names),
        "hash_match": len(names) - len(bad),
        "mismatches": bad,
        "wall_sec": round(wall, 1),
    }))
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
