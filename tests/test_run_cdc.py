"""End-to-end test of the operational CLI (scripts/run_cdc.py): a
two-source config processed over two run dates must produce the
reference lifecycle's artifacts — versioned current-state snapshots, an
appended changelog partitioned by run_date, and a _LATEST pointer that
only ever names a fully-written snapshot (SURVEY §3.1)."""

from __future__ import annotations

import collections
import importlib.util
import json
import os
import shutil
import time
import uuid

import pytest
from pyspark.sql import functions as F

from engine.io import load_tables
from tests.oracle import DEFAULT_SF_DIR


def _load_cli():
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "run_cdc", os.path.join(here, "scripts", "run_cdc.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def cli():
    return _load_cli()


def _write_extracts(spark, base):
    """Day-1/day-2 extracts for two differently-shaped sources.

    orders (full extracts → deletes detectable):
      d1: keys % 10 != 0;  d2: keys % 11 != 0, price+1 on % 7 == 0
    customer (delta extract on day 2 → upsert feed):
      d1 full load: keys % 9 != 0
      d2 delta: keys % 8 == 0 rows only, acctbal+1 (mix of U and I)
    """
    t = load_tables(spark, DEFAULT_SF_DIR)
    o = t["orders"].select("o_orderkey", "o_totalprice", "o_orderstatus")
    c = t["customer"].select("c_custkey", "c_acctbal", "c_mktsegment")
    o.where(F.col("o_orderkey") % 10 != 0).write.parquet(f"{base}/orders/d1")
    o.where(F.col("o_orderkey") % 11 != 0).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1).otherwise(
            F.col("o_totalprice")
        ),
    ).write.parquet(f"{base}/orders/d2")
    c.where(F.col("c_custkey") % 9 != 0).write.parquet(f"{base}/customer/d1")
    c.where(F.col("c_custkey") % 8 == 0).withColumn(
        "c_acctbal", F.col("c_acctbal") + 1
    ).write.parquet(f"{base}/customer/d2")
    return o, c


def _config(base, out):
    return {
        "output_root": out,
        "sources": [
            {
                "name": "orders",
                "input_path": base + "/orders/{run_date}",
                "format": "parquet",
                "key_cols": ["o_orderkey"],
                "tracked_cols": ["o_totalprice", "o_orderstatus"],
                "extract_type": "full",
            },
            {
                "name": "customer",
                "input_path": base + "/customer/{run_date}",
                "format": "parquet",
                "key_cols": ["c_custkey"],
                "tracked_cols": ["c_acctbal", "c_mktsegment"],
                "extract_type": "delta",
            },
        ],
    }


def test_two_sources_two_days_end_to_end(spark, tmp_path, cli):
    base, out = str(tmp_path / "extracts"), str(tmp_path / "cdc_out")
    o, c = _write_extracts(spark, base)
    cfg = _config(base, out)
    cfg_path = str(tmp_path / "config.json")
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)

    # ---- day 1: first run → everything 'I' --------------------------------
    summaries = {
        s["source"]: s
        for s in (cli.run_source(spark, out, src, "d1") for src in cfg["sources"])
    }
    n_o1 = o.where(F.col("o_orderkey") % 10 != 0).count()
    n_c1 = c.where(F.col("c_custkey") % 9 != 0).count()
    assert summaries["orders"]["first_run"] and summaries["customer"]["first_run"]
    assert summaries["orders"]["counts"] == {"I": n_o1}
    assert summaries["customer"]["counts"] == {"I": n_c1}
    assert open(os.path.join(out, "orders", "_LATEST")).read().endswith("run_date=d1")

    # ---- day 2 -------------------------------------------------------------
    summaries2 = {
        s["source"]: s
        for s in (cli.run_source(spark, out, src, "d2") for src in cfg["sources"])
    }
    # orders (full): I = in d2 not d1; D = in d1 not d2; U = %7 price bump
    # present both days
    both = lambda k: (k % 10 != 0) and (k % 11 != 0)  # noqa: E731
    keys = [r.o_orderkey for r in o.select("o_orderkey").collect()]
    want = {"I": 0, "U": 0, "D": 0}
    for k in keys:
        d1_has, d2_has = k % 10 != 0, k % 11 != 0
        if d2_has and not d1_has:
            want["I"] += 1
        elif d1_has and not d2_has:
            want["D"] += 1
        elif both(k) and k % 7 == 0:
            want["U"] += 1
    got = summaries2["orders"]["counts"]
    assert {k: got.get(k, 0) for k in want} == want
    assert "N" not in got, "changelog must never contain no-op rows"

    # customer (delta): delta keys %8==0; U where also %9!=0 (existed), else I
    want_c = {"I": 0, "U": 0}
    for r in c.select("c_custkey").collect():
        k = r.c_custkey
        if k % 8 == 0:
            want_c["U" if k % 9 != 0 else "I"] += 1
    got_c = summaries2["customer"]["counts"]
    assert {k: got_c.get(k, 0) for k in want_c} == want_c
    assert "D" not in got_c, "delta feeds cannot produce deletes"

    # ---- snapshot correctness ----------------------------------------------
    # orders current state == day-2 extract exactly
    snap = spark.read.parquet(summaries2["orders"]["snapshot"])
    exp = o.where(F.col("o_orderkey") % 11 != 0).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1).otherwise(
            F.col("o_totalprice")
        ),
    )
    assert snap.count() == exp.count()
    assert snap.exceptAll(exp).count() == 0 and exp.exceptAll(snap).count() == 0
    # customer current state == d1 upserted with the delta
    snap_c = spark.read.parquet(summaries2["customer"]["snapshot"])
    n_c2 = snap_c.count()
    assert n_c2 == c.where((F.col("c_custkey") % 9 != 0) | (F.col("c_custkey") % 8 == 0)).count()
    bumped = snap_c.where(F.col("c_custkey") % 8 == 0)
    orig = c.where(F.col("c_custkey") % 8 == 0)
    assert (
        bumped.agg(F.sum("c_acctbal")).collect()[0][0]
        == pytest.approx(orig.agg(F.sum("c_acctbal") + F.count("*")).collect()[0][0])
    )

    # ---- changelog is partitioned and cumulative ---------------------------
    log = spark.read.option("basePath", os.path.join(out, "orders", "changelog")).parquet(
        os.path.join(out, "orders", "changelog")
    )
    assert set(r.run_date for r in log.select("run_date").distinct().collect()) == {
        "d1",
        "d2",
    }
    # day-1 partition untouched by day-2 append
    assert log.where(F.col("run_date") == "d1").count() == n_o1
    # _LATEST now points at d2; day-1 snapshot still readable (versioned)
    assert open(os.path.join(out, "orders", "_LATEST")).read().endswith("run_date=d2")
    assert spark.read.parquet(
        os.path.join(out, "orders", "snapshot", "run_date=d1")
    ).count() == n_o1


def test_rerun_day_is_idempotent(spark, tmp_path, cli):
    """ADVICE r09: re-running a run-date whose snapshot _LATEST already
    points at must recompute the ORIGINAL diff, not diff the extract
    against itself (which clobbered the day's changelog with an all-'N'
    empty partition, and for delta sources read from the directory being
    overwritten). Also: a re-run of an OLDER day must not repoint
    _LATEST backwards."""
    base, out = str(tmp_path / "extracts"), str(tmp_path / "cdc_out")
    _write_extracts(spark, base)
    cfg = _config(base, out)

    def run_day(d):
        return {
            s["source"]: s
            for s in (cli.run_source(spark, out, src, d) for src in cfg["sources"])
        }

    run_day("d1")
    first = run_day("d2")

    def log_counts(name):
        log = spark.read.option(
            "basePath", os.path.join(out, name, "changelog")
        ).parquet(os.path.join(out, name, "changelog"))
        return {
            (r.run_date, r.op): r.n
            for r in log.groupBy("run_date", "op").agg(F.count("*").alias("n")).collect()
        }

    before = {name: log_counts(name) for name in ("orders", "customer")}
    assert any(k[0] == "d2" for k in before["orders"]), "day-2 changelog must be non-empty"

    # --- the ADVICE scenario: re-run d2 while _LATEST names d2 -------------
    second = run_day("d2")
    assert not second["orders"]["first_run"] and not second["customer"]["first_run"]
    # per-op counts identical to the original run (not all-'N'/empty)
    assert second["orders"]["counts"] == first["orders"]["counts"]
    assert second["customer"]["counts"] == first["customer"]["counts"]
    assert {name: log_counts(name) for name in ("orders", "customer")} == before
    assert open(os.path.join(out, "orders", "_LATEST")).read().endswith("run_date=d2")

    # --- re-run the OLDER day: idempotent AND no backward repoint ----------
    third = run_day("d1")
    assert third["orders"]["first_run"], "d1 has no strictly-earlier snapshot"
    assert {name: log_counts(name) for name in ("orders", "customer")} == before
    for name in ("orders", "customer"):
        assert open(os.path.join(out, name, "_LATEST")).read().endswith(
            "run_date=d2"
        ), "_LATEST must never move backwards"
    # the rename-publish path leaves no staging/displaced dirs behind
    for name in ("orders", "customer"):
        leftovers = [
            d
            for d in os.listdir(os.path.join(out, name, "snapshot"))
            if not d.startswith("run_date=")
        ]
        assert not leftovers, f"staging dirs leaked: {leftovers}"


def test_crash_window_recovery(spark, tmp_path, cli):
    """VERDICT r10 item 5 + ADVICE r10: the publish-then-point pattern's
    crash windows, simulated by reproducing each window's on-disk state
    and asserting (a) pointer-resolving readers never see a half-published
    day, (b) a re-run recovers cleanly, (c) crash leftovers are reclaimed
    age-guarded on the next run instead of leaking forever."""
    base, out = str(tmp_path / "extracts"), str(tmp_path / "cdc_out")
    _write_extracts(spark, base)
    src = _config(base, out)["sources"][0]  # orders, full extracts
    cli.run_source(spark, out, src, "d1")
    first = cli.run_source(spark, out, src, "d2")
    snap_root = os.path.join(out, "orders", "snapshot")
    aged = time.time() - 2 * cli._STALE_DIR_GRACE_SEC

    # --- window A: process died after the staging write, before any
    # rename — a .staging_* dir (and a .old_* from a died-mid-rmtree
    # re-run) sit on disk with no owner.
    stale_staging = os.path.join(snap_root, ".staging_d2_deadbeef")
    stale_old = os.path.join(snap_root, ".old_d2_cafef00d")
    for d in (stale_staging, stale_old):
        os.makedirs(d)
        with open(os.path.join(d, "part-0.parquet"), "w") as fh:
            fh.write("x")
        os.utime(d, (aged, aged))
    # hidden dirs are never mistaken for snapshots (reader invariant)
    assert set(cli._snapshot_dates(out, "orders")) == {"d1", "d2"}
    # a YOUNG staging dir — indistinguishable from a concurrent run's
    # in-flight write — must survive the sweep
    young = os.path.join(snap_root, ".staging_d2_12345678")
    os.makedirs(young)
    second = cli.run_source(spark, out, src, "d2")  # re-run recovers
    assert second["counts"] == first["counts"]
    assert not os.path.exists(stale_staging), "aged staging dir must be swept"
    assert not os.path.exists(stale_old), "aged displaced dir must be swept"
    assert os.path.isdir(young), "in-flight-age staging dir must survive"
    shutil.rmtree(young)

    # --- window B: died between the two renames — the day's snapshot
    # dir is GONE (displaced, replacement never landed) while _LATEST
    # still names it.
    d2_dir = os.path.join(snap_root, "run_date=d2")
    displaced = os.path.join(snap_root, ".old_d2_00000000")
    os.rename(d2_dir, displaced)
    os.utime(displaced, (aged, aged))
    ptr = open(os.path.join(out, "orders", "_LATEST")).read().strip()
    assert ptr.endswith("run_date=d2") and not os.path.exists(ptr)
    # readers fall back to the newest COMPLETE snapshot, never error
    resolved = cli._resolve_latest(out, "orders")
    assert resolved.endswith("run_date=d1")
    assert os.path.exists(os.path.join(resolved, "_SUCCESS"))
    # the re-run heals: original diff recomputed, snapshot republished,
    # pointer valid again, crash leftover reclaimed
    third = cli.run_source(spark, out, src, "d2")
    assert third["counts"] == first["counts"]
    assert cli._resolve_latest(out, "orders").endswith("run_date=d2")
    assert os.path.exists(os.path.join(d2_dir, "_SUCCESS"))
    assert not os.path.exists(displaced)

    # --- window C: a torn snapshot dir (no _SUCCESS) that _LATEST
    # somehow names — the reader-side guard is the last line of defense.
    torn = os.path.join(snap_root, "run_date=d3")
    os.makedirs(torn)
    with open(os.path.join(out, "orders", "_LATEST"), "w") as fh:
        fh.write(torn)
    assert cli._resolve_latest(out, "orders").endswith("run_date=d2")
    assert "d3" not in cli._snapshot_dates(out, "orders")
    # and diff-base resolution for a later day skips the torn dir too
    assert cli._resolve_prev(out, "orders", "d4").endswith("run_date=d2")


def test_cli_main_runs_from_config_file(spark, tmp_path, cli, monkeypatch):
    """The argv surface: main() reads the config, processes every source,
    prints one JSON line each, exits 0."""
    base, out = str(tmp_path / "extracts"), str(tmp_path / "cdc_out")
    _write_extracts(spark, base)
    cfg_path = str(tmp_path / "config.json")
    with open(cfg_path, "w") as fh:
        json.dump(_config(base, out), fh)
    import io

    monkeypatch.setattr(cli, "get_spark", lambda app=None, **kw: spark)
    buf = io.StringIO()
    monkeypatch.setattr("sys.stdout", buf)
    rc = cli.main(["run_cdc.py", cfg_path, "d1"])
    assert rc == 0
    lines = [json.loads(line) for line in buf.getvalue().strip().splitlines()]
    assert [s["source"] for s in lines] == ["orders", "customer"]
    assert all(s["first_run"] for s in lines)


def _log_counts(spark, log_dir):
    return {
        r.op: r.n
        for r in spark.read.parquet(log_dir).groupBy("op").agg(F.count("*").alias("n")).collect()
    }


def test_counts_equal_changelog_read_back(spark, tmp_path, cli):
    """The counts run_source returns are observed while the changelog is
    written; they must equal a read-back of that changelog grouped by op
    on a first run, a full day, a delta day and a re-run of a day."""
    base, out = str(tmp_path / "extracts"), str(tmp_path / "cdc_out")
    _write_extracts(spark, base)
    sources = _config(base, out)["sources"]
    for day in ("d1", "d2", "d2"):
        for src in sources:
            res = cli.run_source(spark, out, src, day)
            assert res["first_run"] == (day == "d1")
            assert res["counts"] == _log_counts(spark, res["changelog"]), (src["name"], day)
            assert res["counts"], "every day of this fixture has changes"


def _rows(df):
    return collections.Counter(tuple(r) for r in df.collect())


#: (day-1 extract, day-2 delta extract) rows of (k, v, w) for a delta source
#: with no dedup config
_DELTA_CASES = {
    "null_keys": (
        [(None, 1, "a"), (1, 1, "a"), (2, 2, "b"), (3, 3, "c")],
        [(None, 9, "a"), (None, 1, "a"), (1, 1, "a"), (2, 5, "b"), (4, 4, "d")],
    ),
    "duplicate_delta_keys": (
        [(1, 1, "a"), (2, 2, "b"), (3, 3, "c")],
        [(1, 1, "a"), (1, 7, "a"), (2, 8, None), (2, 8, None), (5, 5, "e"), (5, 6, "e")],
    ),
    "duplicate_snapshot_keys": (
        [(1, 1, "a"), (1, 2, "a"), (2, 2, "b"), (2, 2, "b"), (3, 3, "c"), (3, 4, "c"),
         (None, 5, "x"), (None, 5, "y")],
        [(1, 1, "a"), (2, 9, "b"), (None, 0, None), (6, 6, "f")],
    ),
    "empty_delta": ([(1, 1, "a"), (None, 2, "b")], []),
}


@pytest.mark.parametrize("case", sorted(_DELTA_CASES))
def test_delta_single_diff_matches_upsert_formulation(spark, tmp_path, cli, case):
    """A delta day's changelog and snapshot come from one persisted diff.
    Their row multisets must equal the upsert formulation computed here:
    snapshot = incremental_upsert(prev, delta); changelog = the I/U rows of
    a diff against the prev rows whose key the delta carries."""
    from engine.cdc import SourceSpec, incremental_upsert, snapshot_diff

    schema = "k BIGINT, v BIGINT, w STRING"
    d1, d2 = _DELTA_CASES[case]
    base, out = str(tmp_path / "extracts"), str(tmp_path / "cdc_out")
    spark.createDataFrame(d1, schema).write.parquet(f"{base}/d1")
    spark.createDataFrame(d2, schema).write.parquet(f"{base}/d2")
    src = {
        "name": "t",
        "input_path": base + "/{run_date}",
        "key_cols": ["k"],
        "tracked_cols": ["v", "w"],
        "extract_type": "delta",
    }
    cli.run_source(spark, out, src, "d1")
    res = cli.run_source(spark, out, src, "d2")

    spec = SourceSpec("t", ("k",), ("v", "w"), "delta")
    prev = spark.read.parquet(os.path.join(out, "t", "snapshot", "run_date=d1"))
    curr = spark.read.parquet(f"{base}/d2")
    want_snap = incremental_upsert(prev, curr, spec)
    touched = prev.join(curr.select("k").distinct(), ["k"], "left_semi")
    want_log = snapshot_diff(touched, curr, spec).where(F.col("op").isin("I", "U"))

    got_log = spark.read.parquet(res["changelog"]).select(*want_log.columns)
    assert _rows(got_log) == _rows(want_log)
    assert _rows(spark.read.parquet(res["snapshot"])) == _rows(want_snap)
    assert res["counts"] == _log_counts(spark, res["changelog"])


def test_second_day_job_count(spark, tmp_path, cli):
    """A run-date after the first launches a fixed number of Spark jobs:
    the extract's schema inference, the diff's shuffles and the writes.
    The previous snapshot is read with a known schema and the counts are
    observed during the changelog write, so a reintroduced inference job
    or changelog read-back fails this guard."""
    base, out = str(tmp_path / "extracts"), str(tmp_path / "cdc_out")
    _write_extracts(spark, base)
    sources = {s["name"]: s for s in _config(base, out)["sources"]}
    for src in sources.values():
        cli.run_source(spark, out, src, "d1")
    sc = spark.sparkContext
    bound = {"orders": 5, "customer": 7}
    for name, src in sources.items():
        group = f"run_cdc_jobs_{name}_{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, group)
        try:
            cli.run_source(spark, out, src, "d2")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert 0 < len(jobs) <= bound[name], (name, len(jobs))


def _raise_after(fn):
    """``fn`` that raises once it has done its work, so a failed write
    leaves whatever output it had made behind."""

    def failing(*args, **kwargs):
        fn(*args, **kwargs)
        raise RuntimeError("injected write failure")

    return failing


@pytest.mark.parametrize("failing", ["_write_changelog", "_stage_snapshot"])
@pytest.mark.parametrize("source", ["orders", "customer"])  # a full day, a delta day
def test_failed_write_publishes_nothing(spark, tmp_path, cli, monkeypatch, failing, source):
    """A day writes its changelog and stages its snapshot (at the same
    time on a full day); when either write raises, the error reaches the
    caller and the day publishes nothing: no snapshot, no pointer move,
    no leftover dir. A clean re-run then produces what an undisturbed
    run does."""
    base, out, ref = (str(tmp_path / d) for d in ("extracts", "cdc_out", "ref_out"))
    _write_extracts(spark, base)
    src = {s["name"]: s for s in _config(base, out)["sources"]}[source]
    for root in (out, ref):
        cli.run_source(spark, root, src, "d1")
    want = cli.run_source(spark, ref, src, "d2")
    snap_root = os.path.join(out, source, "snapshot")
    ptr = os.path.join(out, source, "_LATEST")
    listing, latest = sorted(os.listdir(snap_root)), open(ptr).read()

    with monkeypatch.context() as m:
        m.setattr(cli, failing, _raise_after(getattr(cli, failing)))
        with pytest.raises(RuntimeError, match="injected write failure"):
            cli.run_source(spark, out, src, "d2")
    assert not os.path.exists(os.path.join(snap_root, "run_date=d2"))
    assert open(ptr).read() == latest
    assert sorted(os.listdir(snap_root)) == listing, "a failed day must leave no dir behind"

    got = cli.run_source(spark, out, src, "d2")
    assert got["counts"] == want["counts"]
    assert open(ptr).read().endswith("run_date=d2")
    assert _rows(spark.read.parquet(got["snapshot"])) == _rows(spark.read.parquet(want["snapshot"]))


def test_run_source_jobs_stay_in_callers_group(spark, tmp_path, cli):
    """Every Spark job a run_source call launches, the staging thread's
    included, carries the caller's job group: the group's job ids equal
    the ids the status store saw during the call. A job that escaped the
    group would also escape test_second_day_job_count's bound."""
    base, out = str(tmp_path / "extracts"), str(tmp_path / "cdc_out")
    _write_extracts(spark, base)
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()

    def job_ids():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = store.jobsList(None)
        return {jobs.apply(i).jobId() for i in range(jobs.size())}

    for day in ("d1", "d2"):
        for src in _config(base, out)["sources"]:
            before = job_ids()
            group = f"run_cdc_group_{src['name']}_{day}_{uuid.uuid4().hex[:8]}"
            sc.setJobGroup(group, group)
            try:
                cli.run_source(spark, out, src, day)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            launched = job_ids() - before
            assert launched, (src["name"], day)
            assert set(sc.statusTracker().getJobIdsForGroup(group)) == launched, (src["name"], day)
