#!/usr/bin/env python
"""Config-driven CDC pipeline CLI — the reference's operational entry
point (SURVEY §3.1: ``spark-submit cdc.py <config> <run-date>``) as a
runnable artifact over the engine's cdc_* operators (r09, VERDICT r08
item 7; `cdc_multi_source` pins the SEMANTICS of the per-source loop,
this pins the UX: config in, snapshot + changelog dirs out).

Usage:
    python scripts/run_cdc.py <config.json> <run-date>

Config schema (one table-backed JSON document)::

    {
      "output_root": "/data/cdc",          # snapshots + changelogs land here
      "sources": [
        {
          "name": "orders",
          "input_path": "/extracts/orders/{run_date}",   # {run_date} templated
          "format": "parquet",             # parquet | csv | json
          "schema": "o_orderkey BIGINT, ...",  # required for csv/json (explicit
                                               # schema, never inference — the
                                               # reference's posture)
          "key_cols": ["o_orderkey"],
          "tracked_cols": ["o_totalprice", "o_orderstatus"],
          "extract_type": "full",          # full: deletes detectable
                                           # delta: upsert feed, no deletes
          "dedup": {"order_col": "ts", "tiebreak": "o_orderkey"}  # optional:
                                           # collapse multi-row extracts to
                                           # latest-per-key before diffing
        }
      ]
    }

Per-source lifecycle (exactly the reference's linear batch pipeline):

1. read the extract for <run-date> with the configured explicit schema;
2. optional dedup_extract (latest row per key wins, deterministic tiebreak);
3. first run (no snapshot strictly before this run-date): every row
   op='I'; else diff against the newest snapshot STRICTLY BEFORE the
   run-date — never the run-date's own snapshot, so re-running a day is
   idempotent (it recomputes the original diff) instead of diffing the
   extract against itself (ADVICE r09). The previous snapshot is this
   job's own output, so it is read with the extract's schema, not by
   inference. Full extracts: snapshot_diff (full-outer join, I/U/D/N
   classification). Delta extracts (I/U only, deletes undetectable by
   definition): the same snapshot_diff, persisted once and read by both
   writes;
4. append the non-N changelog rows (op, key_hash, values, run_date)
   under ``<output_root>/<name>/changelog/run_date=<run-date>/``; the
   per-op counts are observed during this write, not read back;
5. write the new current-state snapshot into a hidden staging dir. On a
   first run or a full day this write runs on a second thread while
   step 4's runs; on a delta day it follows step 4, as both read one
   persisted diff. Only when both writes have succeeded is the snapshot
   published under ``<output_root>/<name>/snapshot/run_date=<run-date>/``
   by rename (never an in-place rewrite — a re-run of the day _LATEST
   names must not expose a half-written dir to pointer-resolving
   readers), then ``<output_root>/<name>/_LATEST`` is repointed
   forward-only (a one-line pointer file — the pointer flips only after
   the full write succeeds, the same publish-then-point pattern as
   engine/txlog.py). A failed write publishes nothing: the staging dir
   is removed and the day's snapshot and pointer stay as they were.

Every step is a lazy DataFrame plan; execution happens at the two
writes — stage both, then publish — where Catalyst plans the shuffle
join: on a 100 TB extract the full-outer diff is one key-partitioned
shuffle per side. On full days the changelog is a filter over the diff
and the snapshot is the extract itself. On delta days the diff is
persisted (and unpersisted once both writes are done): the changelog is
its I/U rows and the snapshot its merged rows, so neither write runs a
second diff (``_delta_day`` covers a previous snapshot that holds a key
more than once).

Exit code 0 and one JSON summary line per source on stdout:
``{"source": ..., "run_date": ..., "first_run": ..., "counts": {...}}``
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from functools import reduce

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from engine.cdc import (
    SourceSpec,
    dedup_extract,
    snapshot_diff,
    with_fingerprints,
)
from engine.io import get_spark


def _read_extract(spark: SparkSession, src: dict, run_date: str) -> DataFrame:
    path = src["input_path"].format(run_date=run_date)
    fmt = src.get("format", "parquet")
    if fmt == "parquet":
        return spark.read.parquet(path)
    if fmt not in ("csv", "json"):
        raise ValueError(f"{src['name']}: unknown format {fmt!r}")
    schema = src.get("schema")
    if not schema:
        # explicit schema is mandatory for text formats: inference samples
        # the data, so two runs over different extracts could disagree on
        # types and silently flag every row as U
        raise ValueError(f"{src['name']}: csv/json extracts require 'schema'")
    reader = spark.read.schema(schema)
    if fmt == "csv":
        return reader.option("header", "true").csv(path)
    return reader.json(path)


def _latest_pointer(root: str, name: str) -> str:
    return os.path.join(root, name, "_LATEST")


def _resolve_latest(root: str, name: str) -> str | None:
    """The snapshot readers should use: the _LATEST pointer when it
    names a COMPLETE snapshot, else the newest complete snapshot on
    disk (r11, ADVICE r10): a crash between the publish's two renames
    leaves no dir at the path _LATEST names — readers following the
    pointer blindly would error on a table that has perfectly good
    older snapshots. The _SUCCESS check also shields readers from a
    pointer that somehow names a torn dir (it never should — the
    pointer flips after the write — but the reader is the last line)."""
    p = _latest_pointer(root, name)
    snap = None
    if os.path.exists(p):
        with open(p) as fh:
            snap = fh.read().strip() or None
    if snap is not None and os.path.exists(os.path.join(snap, "_SUCCESS")):
        return snap
    dates = _snapshot_dates(root, name)
    if not dates:
        return None
    return os.path.join(root, name, "snapshot", f"run_date={dates[-1]}")


#: stale staging/displaced dirs older than this are reclaimed on the next
#: run of the source. Generous: a staging dir is live only for the
#: duration of one Spark write + two renames, so a day-old one can only
#: be a crash leftover.
_STALE_DIR_GRACE_SEC = 86400.0


def _sweep_stale_dirs(root: str, name: str, grace_sec: float = _STALE_DIR_GRACE_SEC) -> int:
    """Crash hygiene on entry to run_source (r11, ADVICE r10): a crash
    after the staging write (or during the displaced-dir rmtree) leaks
    `.staging_*` / `.old_*` dirs that no later run would ever clean —
    each one a full snapshot copy. Age-guarded by dir mtime, mirroring
    txlog.vacuum()'s orphan sweep, so a CONCURRENT run's in-flight
    staging dir is never swept mid-write. Returns the count removed."""
    snap_root = os.path.join(root, name, "snapshot")
    if not os.path.isdir(snap_root):
        return 0
    cutoff = time.time() - grace_sec
    swept = 0
    for d in os.listdir(snap_root):
        if not (d.startswith(".staging_") or d.startswith(".old_")):
            continue
        full = os.path.join(snap_root, d)
        try:
            if os.path.isdir(full) and os.path.getmtime(full) <= cutoff:
                shutil.rmtree(full, ignore_errors=True)
                swept += 1
        except OSError:
            continue  # raced with another sweep — already gone
    return swept


def _snapshot_dates(root: str, name: str) -> list[str]:
    """Complete snapshots on disk, oldest → newest. Only dirs carrying
    Spark's ``_SUCCESS`` marker count — a crashed half-write is never
    diffed against (the directory listing replaces the _LATEST pointer
    for PREV resolution, so it needs the same crash-safety property the
    pointer gave: _SUCCESS is written last by the committer)."""
    snap_root = os.path.join(root, name, "snapshot")
    if not os.path.isdir(snap_root):
        return []
    return sorted(
        d.split("=", 1)[1]
        for d in os.listdir(snap_root)
        if d.startswith("run_date=")
        and os.path.exists(os.path.join(snap_root, d, "_SUCCESS"))
    )


def _resolve_prev(root: str, name: str, run_date: str) -> str | None:
    """The snapshot to diff against: the newest complete snapshot
    STRICTLY BEFORE ``run_date`` (ISO dates order lexically).

    Resolving via _LATEST alone made re-runs destructive (ADVICE r09):
    re-running the date _LATEST already named diffed the extract against
    ITSELF — an all-'N' diff that clobbered the day's changelog with an
    empty partition, and for delta sources the snapshot write read from
    the very directory it was overwriting. Strictly-before resolution
    makes a re-run recompute exactly what the original run computed,
    which is what the overwrite-mode writes' idempotence claim actually
    requires."""
    prior = [d for d in _snapshot_dates(root, name) if d < run_date]
    if not prior:
        return None
    return os.path.join(root, name, "snapshot", f"run_date={prior[-1]}")


def _inserts(df: DataFrame, spec: SourceSpec) -> DataFrame:
    """Changelog rows that classify every row of ``df`` as an insert."""
    return with_fingerprints(df, spec).select(
        F.lit("I").alias("op"), "key_hash", *spec.key_cols, *spec.tracked_cols
    )


def _delta_day(
    diff: DataFrame,
    curr: DataFrame,
    spec: SourceSpec,
    extract_rows: Observation,
    log_dir: str,
    staging: str,
    run_date: str,
) -> dict:
    """Write a delta day's changelog and stage its snapshot from ``diff``,
    the persisted ``snapshot_diff(prev, curr)`` whose ``curr`` input was
    observed into ``extract_rows``; return the changelog counts.

    - changelog: the diff's I/U rows. A row with a NULL key component is
      always an I: the delta changelog classifies by presence among the
      delta's keys with plain equality, under which NULL never matches.
    - snapshot: the previous rows the delta does not touch (the diff's D
      rows, matched null-safe) plus every extract row.

    Both come from the diff alone when it pairs each extract row with at
    most one previous row, which the observed row counts confirm after the
    changelog write; only then is the diff's snapshot staged. The two
    writes run in turn here: run together, each one's adaptive plan
    would materialize the persisted diff in a job of its own (in turn,
    the second finds it cached), one job more for no measured gain.
    When the previous snapshot holds a touched key more than once (a
    delta with duplicate keys and no ``dedup`` config lands them all),
    the diff repeats that extract row: the changelog is then written
    again and the snapshot staged from the diff and the extract, both
    together, as the diff is cached by then."""
    cols = [*spec.key_cols, *spec.tracked_cols]
    op = F.col("op")
    null_key = reduce(lambda a, b: a | b, [F.col(k).isNull() for k in spec.key_cols])
    paired = Observation("paired")
    changes = (
        diff.observe(paired, F.count(F.when(op != "D", True)).alias("rows"))
        .where(op.isin("I", "U") | (null_key & (op == "N")))
        .withColumn("op", F.when(null_key, F.lit("I")).otherwise(op))
    )
    counts = _write_changelog(changes, log_dir, run_date)
    # no paired row means an empty extract: nothing to repeat, and the
    # plan may have dropped the empty side, its observation with it
    rows = paired.get["rows"]
    if rows == 0 or rows == extract_rows.get["rows"]:
        _stage_snapshot(diff.select(*cols), staging)
        return counts
    changes = diff.where(op.isin("I", "U") & ~null_key).unionByName(
        _inserts(curr.where(null_key), spec)
    )
    snapshot = diff.where(op == "D").select(*cols).unionByName(curr)
    return _write_day(changes, snapshot, log_dir, staging, run_date)


def _write_changelog(changes: DataFrame, log_dir: str, run_date: str) -> dict:
    """Write the day's changelog (overwrite: a re-run is idempotent) and
    return its per-op row counts, observed during the write itself."""
    obs = Observation("changelog")
    changes.withColumn("run_date", F.lit(run_date)).observe(
        obs, *[F.count(F.when(F.col("op") == op, True)).alias(op) for op in ("I", "U", "D")]
    ).write.mode("overwrite").parquet(log_dir)
    return {op: n for op, n in obs.get.items() if n}


def _stage_snapshot(snapshot: DataFrame, staging: str) -> None:
    """Write the day's snapshot into its hidden staging dir."""
    snapshot.write.mode("overwrite").parquet(staging)


def _write_day(
    changes: DataFrame, snapshot: DataFrame, log_dir: str, staging: str, run_date: str
) -> dict:
    """Stage ``snapshot`` on a second thread while the changelog is written
    on this one; return the changelog counts.

    The writes share no output, and on this job's small days each leaves
    cores idle on its fixed per-job cost, so overlapping them shortens
    the day. The thread target is wrapped by ``inheritable_thread_target``
    with the session, so the staging write's jobs carry the caller's job
    group and tags. Both writes have finished when this returns or
    raises: the pool joins its thread before the first error propagates."""
    stage = inheritable_thread_target(snapshot.sparkSession)(_stage_snapshot)
    with ThreadPoolExecutor(max_workers=1) as pool:
        staged = pool.submit(stage, snapshot, staging)
        counts = _write_changelog(changes, log_dir, run_date)
    staged.result()
    return counts


def _publish_snapshot(staging: str, root: str, name: str, run_date: str) -> str:
    """Publish the day's staged snapshot and make it the one readers resolve.

    Called only once the changelog is written and the snapshot fully
    staged (stage both, then publish). The staging dir is published by
    TWO renames, never an in-place rewrite: on a RE-run of the day
    _LATEST already names, an in-place overwrite would expose a
    half-written dir to every reader resolving the pointer for the full
    duration of the Spark write; the rename swap shrinks that window to
    two metadata ops (same publish-then-point discipline as
    engine/txlog.py, one level down). Staging dirs start with '.' so
    _snapshot_dates can never mistake one for a complete snapshot."""
    snap_parent = os.path.dirname(staging)
    snap_dir = os.path.join(snap_parent, f"run_date={run_date}")
    displaced = None
    if os.path.exists(snap_dir):
        displaced = os.path.join(snap_parent, f".old_{run_date}_{uuid.uuid4().hex[:8]}")
        os.rename(snap_dir, displaced)
    os.rename(staging, snap_dir)
    if displaced is not None:
        shutil.rmtree(displaced, ignore_errors=True)
    # publish-then-point: the pointer flips only after both writes landed,
    # and only FORWARD — a re-run of an older date must not repoint
    # readers backwards past days that already ran (run_date= prefixes
    # are equal-length, so the basename comparison is a date comparison)
    latest = _resolve_latest(root, name)
    if latest is None or os.path.basename(latest) <= f"run_date={run_date}":
        ptr = _latest_pointer(root, name)
        tmp = ptr + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(snap_dir)
        os.replace(tmp, ptr)
    return snap_dir


def run_source(spark: SparkSession, root: str, src: dict, run_date: str) -> dict:
    _sweep_stale_dirs(root, src["name"])
    spec = SourceSpec(
        name=src["name"],
        key_cols=tuple(src["key_cols"]),
        tracked_cols=tuple(src["tracked_cols"]),
        extract_type=src.get("extract_type", "full"),
    )
    curr = _read_extract(spark, src, run_date).select(
        *spec.key_cols, *spec.tracked_cols
    )
    if "dedup" in src:
        curr = dedup_extract(
            curr, list(spec.key_cols), src["dedup"]["order_col"], src["dedup"]["tiebreak"]
        )

    prev_path = _resolve_prev(root, spec.name, run_date)
    first_run = prev_path is None
    log_dir = os.path.join(root, spec.name, "changelog", f"run_date={run_date}")
    staging = os.path.join(
        root, spec.name, "snapshot", f".staging_{run_date}_{uuid.uuid4().hex[:8]}"
    )
    diff = None
    try:
        if first_run:
            # first ever run: no previous snapshot → all rows are inserts
            counts = _write_day(_inserts(curr, spec), curr, log_dir, staging, run_date)
        else:
            # the previous snapshot is this job's own output, written from
            # the same key and tracked columns: read it with curr's schema
            # instead of running an inference job over its footers
            prev = spark.read.schema(curr.schema).parquet(prev_path)
            if spec.extract_type == "full":
                changes = snapshot_diff(prev, curr, spec).where(F.col("op") != "N")
                counts = _write_day(changes, curr, log_dir, staging, run_date)
            else:
                # delta feed: deletes undetectable; both outputs come from
                # one persisted diff
                extract_rows = Observation("extract")
                observed = curr.observe(extract_rows, F.count(F.lit(1)).alias("rows"))
                diff = snapshot_diff(prev, observed, spec).persist()
                counts = _delta_day(
                    diff, curr, spec, extract_rows, log_dir, staging, run_date
                )
        snap_dir = _publish_snapshot(staging, root, spec.name, run_date)
    except BaseException:
        # a failed write publishes nothing: the day's snapshot and
        # _LATEST stay as they were
        shutil.rmtree(staging, ignore_errors=True)
        raise
    finally:
        if diff is not None:
            diff.unpersist()
    return {
        "source": spec.name,
        "run_date": run_date,
        "first_run": first_run,
        "snapshot": snap_dir,
        "changelog": log_dir,
        "counts": counts,
    }


def main(argv: list[str]) -> int:
    if len(argv) != 3:
        print(__doc__.split("\n\n")[1], file=sys.stderr)
        return 2
    config_path, run_date = argv[1], argv[2]
    with open(config_path) as fh:
        cfg = json.load(fh)
    root = cfg["output_root"]
    os.makedirs(root, exist_ok=True)
    spark = get_spark(app="run_cdc")
    for src in cfg["sources"]:
        summary = run_source(spark, root, src, run_date)
        print(json.dumps(summary, sort_keys=True), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
