#!/usr/bin/env python
"""Quick per-key timing loop for optimization work (guide §1.4).

Usage: python scripts/time_key.py <key> [key ...] [--reps N | --reps=N]
Times each key with the noop sink on a warmed bench-shaped session
(input-sized confs, same as bench.py) and prints min/med/max. This is
the inner loop for optimization A/Bs; the scored record stays bench.py.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


USAGE = "usage: python scripts/time_key.py <key> [key ...] [--reps N | --reps=N]"


def parse_args(argv: list[str]) -> tuple[list[str], int]:
    """Split ``argv`` into (keys, reps). ``--reps`` takes exactly one
    positive integer, as ``--reps N`` or ``--reps=N``; anything else that
    starts with ``--`` is an error. Exits with the usage message on a bad
    command line."""
    keys: list[str] = []
    reps = 5
    it = iter(argv)
    for a in it:
        if a == "--reps":
            value = next(it, None)
        elif a.startswith("--reps="):
            value = a.split("=", 1)[1]
        elif a.startswith("--"):
            sys.exit(f"unknown option {a!r}\n{USAGE}")
        else:
            keys.append(a)
            continue
        if value is None or not value.isdigit() or int(value) < 1:
            sys.exit(f"--reps needs a positive integer\n{USAGE}")
        reps = int(value)
    if not keys:
        sys.exit(USAGE)
    return keys, reps


def main() -> None:
    args, reps = parse_args(sys.argv[1:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from engine import registry
    from engine.io import apply_bench_confs, get_spark

    registry.load_all()
    spark = get_spark(app="time_key")
    spark.sparkContext.setLogLevel("ERROR")
    apply_bench_confs(spark, sf_dir)
    spark.range(1_000_000).count()  # JVM warm-up

    for key in args:
        fn = registry.QUERIES[key]
        spark.sparkContext.setJobDescription(f"time_key:{key}")
        ts = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            ts.append(time.perf_counter() - t0)
        ts.sort()
        print(
            f"{key}: min={ts[0]:.4f} med={ts[len(ts) // 2]:.4f} max={ts[-1]:.4f} "
            f"reps={reps}"
        )
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
