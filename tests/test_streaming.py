"""Streaming-specific semantic assertions (beyond oracle parity)."""

from __future__ import annotations

import pytest

from engine import registry
from engine.io import SESSION_CONF, scoped_conf

registry.load_all()

_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
#: Spark's default checkpoint file manager and the one the engine sets
_MANAGERS = {
    "FileContextBasedCheckpointFileManager": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileContextBasedCheckpointFileManager"
    ),
    "FileSystemBasedCheckpointFileManager": SESSION_CONF[_MANAGER_CONF],
}


@pytest.fixture(params=sorted(_MANAGERS))
def checkpoint_manager(request, spark):
    """Run the test under each checkpoint file manager in turn."""
    with scoped_conf(spark, {_MANAGER_CONF: _MANAGERS[request.param]}):
        yield request.param


def test_watermark_drops_late_row(spark, sf_dir):
    """The injected late row (user_id = -1) must not reach the sink."""
    df = registry.QUERIES["stream_watermark_late"](spark, sf_dir)
    rows = df.collect()
    assert len(rows) > 0
    assert all(r.late_row_absent for r in rows), "late row leaked past watermark"


def test_cdc_pipeline_idempotent_vs_batch(spark, sf_dir):
    """Streaming CDC snapshot ≡ batch latest-per-key (exactly-once merge)."""
    stream_snap = registry.QUERIES["stream_cdc_pipeline"](spark, sf_dir)
    batch = registry.QUERIES["cdc_dedup_extract"](spark, sf_dir)
    s = {tuple(r) for r in stream_snap.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert s == b


def test_cdc_pipeline_checkpoint_restart_exactly_once(spark, sf_dir, checkpoint_manager):
    """Recovery semantics across a query RESTART: run the CDC merge over
    half the feed with a persistent checkpoint, stop, add the rest of the
    files, restart from the same checkpoint. The restarted query must
    process ONLY the new files (no version is written for an
    already-committed batch — at-least-once delivery + idempotent merge
    + checkpoint = exactly-once state), and the final snapshot must equal
    the batch latest-per-key over the whole feed. This must hold under
    Spark's default checkpoint file manager and under the engine's."""
    import os
    import shutil
    import tempfile
    import time

    from pyspark.sql import functions as F

    from engine.cdc import dedup_extract
    from engine.io import load_tables
    from engine.streaming import _events_stream_dir

    src = _events_stream_dir(spark, sf_dir)
    cols = ["user_id", "event_id", "ts", "value"]
    with tempfile.TemporaryDirectory(prefix="engine_restart_") as base:
        feed = os.path.join(base, "feed")
        snap = os.path.join(base, "snap")
        ckpt = os.path.join(base, "ckpt")
        os.makedirs(feed)
        os.makedirs(snap)

        def merge_batch(batch_df, batch_id):
            sp = batch_df.sparkSession
            versions = sorted(
                (d for d in os.listdir(snap) if d.startswith("v")),
                key=lambda d: int(d[1:]),
            )
            incoming = batch_df.select(*cols)
            if versions:
                prev = sp.read.parquet(os.path.join(snap, versions[-1]))
                incoming = prev.unionByName(incoming)
            new_snap = dedup_extract(incoming, ["user_id"], "ts", "event_id")
            new_snap.write.mode("overwrite").parquet(
                os.path.join(snap, f"v{batch_id}")
            )

        def run_once():
            schema = load_tables(spark, sf_dir)["events"].schema
            s = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .option("recursiveFileLookup", "true")
                .parquet(feed)
            )
            q = (
                s.writeStream.foreachBatch(merge_batch)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        for b in ("b0", "b1"):
            shutil.copytree(os.path.join(src, b), os.path.join(feed, b))
            time.sleep(0.05)
        run_once()
        v1 = {d for d in os.listdir(snap) if d.startswith("v")}
        assert len(v1) == 2, f"phase 1 should commit 2 micro-batches, got {v1}"

        for b in ("b2", "b3"):
            shutil.copytree(os.path.join(src, b), os.path.join(feed, b))
            time.sleep(0.05)
        run_once()
        v2 = {d for d in os.listdir(snap) if d.startswith("v")}
        assert len(v2 - v1) == 2, (
            f"restart must process ONLY the 2 new files; versions {v1} -> {v2}"
        )

        final_dir = max(v2, key=lambda d: int(d[1:]))
        final = {
            tuple(r)
            for r in spark.read.parquet(os.path.join(snap, final_dir))
            .select(*cols)
            .collect()
        }
        batch = {
            tuple(r)
            for r in dedup_extract(
                load_tables(spark, sf_dir)["events"], ["user_id"], "ts", "event_id"
            )
            .select(*cols)
            .collect()
        }
        assert final == batch
