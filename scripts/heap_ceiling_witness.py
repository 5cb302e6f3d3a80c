#!/usr/bin/env python
"""Witness the streaming state-store HEAP CEILING instead of
extrapolating it (r11, VERDICT r10 item 2).

SCALING.md's 100 TB decision rule for the state-store provider rests on
one sentence: the HDFS-backed provider keeps each partition's whole
state map in executor heap, so a write-heavy join's state (125 MB at
sf1, 1.21 GB at sf10, ×10/decade) eventually CROSSES the heap and the
provider stops existing as an option. Until r11 that crossing was
predicted, never witnessed. This script runs the `stream_stream_join`
shape (via `engine.streaming.stream_stream_join_plan`) to a **noop
sink** under an explicit, bounded driver heap, one provider per
invocation, so the join-buffer state is the only heap consumer that
varies between providers:

- noop sink: a memory sink would add an output-proportional driver
  allocation that can OOM before the state does and contaminate the
  attribution;
- one provider per process: an OOM kills the JVM — the A/B must not
  share a session;
- `-XX:+ExitOnOutOfMemoryError`: heap exhaustion in a 32-thread local
  JVM otherwise degenerates into indefinite GC thrash instead of a
  clean, recordable failure;
- the caller records the outcome (exit code + this script's single
  JSON line on success) — the EXPECTED result at a heap below the
  state size is that the HDFS provider dies (exit != 0, no JSON) and
  RocksDB completes (state lives in native memory + local SSD; its JVM
  heap need is roughly flat in state size).

Usage:
  python scripts/heap_ceiling_witness.py <sf_dir> <hdfs|rocksdb> <heap>
e.g.
  python scripts/heap_ceiling_witness.py /tmp/engine_sf30 hdfs 6g
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PROVIDERS = {
    "hdfs": "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    "rocksdb": "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
}


def main() -> None:
    if len(sys.argv) != 4 or sys.argv[2] not in PROVIDERS:
        print(__doc__.rsplit("Usage:", 1)[1], file=sys.stderr)
        raise SystemExit(2)
    sf_dir, provider, heap = sys.argv[1], sys.argv[2], sys.argv[3]

    from pyspark.sql import SparkSession
    from pyspark.sql.streaming import StreamingQueryListener

    from engine import registry
    from engine.io import host_cores, shuffle_partitions_for

    registry.load_all()
    from engine.streaming import stream_stream_join_plan

    parts = shuffle_partitions_for(sf_dir)
    spark = (
        SparkSession.builder.appName(f"heap_witness_{provider}_{heap}")
        .master(f"local[{host_cores()}]")
        .config("spark.driver.memory", heap)
        .config("spark.sql.shuffle.partitions", str(parts))
        .config("spark.sql.streaming.stateStore.providerClass", PROVIDERS[provider])
        .config("spark.driver.extraJavaOptions", "-XX:+ExitOnOutOfMemoryError")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    state_rows = [0]
    state_mem = [0]

    class Peak(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:  # noqa: N802
            pass

        def onQueryProgress(self, event) -> None:  # noqa: N802
            p = json.loads(event.progress.json)
            for so in p.get("stateOperators", []):
                state_rows[0] = max(state_rows[0], so.get("numRowsTotal") or 0)
                state_mem[0] = max(state_mem[0], so.get("memoryUsedBytes") or 0)

        def onQueryIdle(self, event) -> None:  # noqa: N802
            pass

        def onQueryTerminated(self, event) -> None:  # noqa: N802
            pass

    spark.streams.addListener(Peak())
    t0 = time.perf_counter()
    with tempfile.TemporaryDirectory(prefix="engine_witness_ckpt_") as ckpt:
        q = (
            stream_stream_join_plan(spark, sf_dir)
            .writeStream.format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    wall = round(time.perf_counter() - t0, 3)
    time.sleep(0.5)  # drain async listener events
    print(
        json.dumps(
            {
                "provider": provider,
                "heap": heap,
                "sf_dir": os.path.basename(sf_dir.rstrip("/")),
                "outcome": "completed",
                "wall_s": wall,
                "shuffle_partitions": parts,
                "state_rows_max": state_rows[0],
                "state_mem_max_bytes": state_mem[0],
            },
            sort_keys=True,
        ),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
