"""Partitioning-invariance audit: every oracle-bearing key, re-run at an
ADVERSARIAL shuffle-partition count, must still hash-match DuckDB.

Why this matters: the engine's determinism claims rest on making every
emitted value independent of Spark's physical execution — float sums in
exact integer cents, averages snapped to grids far above summation noise,
ties broken on total orders. The parity suite runs at 8 partitions; if
any key's output secretly depended on partial-aggregation order or
partition boundaries, running at a weird prime partition count would
shift a float and break the hash. This script is the audit: same check,
different physics.

Usage: python scripts/partition_invariance.py [n_partitions] [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

    from engine import registry
    from engine.io import get_spark
    from tests.oracle import compare

    registry.load_all()
    spark = get_spark(app=f"partinv-{n}")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    spark.sparkContext.setLogLevel("ERROR")

    failures = []
    checked = 0
    for name in sorted(registry.ORACLE_SQL):
        df = registry.QUERIES[name](spark, sf_dir)
        ok, msg = compare(df, sf_dir, registry.ORACLE_SQL[name])
        checked += 1
        if not ok:
            failures.append((name, msg.splitlines()[0][:200]))
            print(f"FAIL {name}: {msg.splitlines()[0][:200]}", flush=True)
    print(
        f"RESULT partitions={n} checked={checked} "
        f"failures={len(failures)} {[f[0] for f in failures]}"
    )
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
