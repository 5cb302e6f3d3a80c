"""Benchmark of spark-graft: the CDC job (nightly and streaming) and a query mix.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload {cdc,query_mix} \
        --seed N --seconds S --trace {0,1}

Prints as its last stdout line one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The full record
(host fingerprint, every metric, errors, and with ``--trace 1`` the spans)
is written under ``.perfbench/results/``. Inputs, the oracle cache and all
scratch files stay under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import os
import time


def _process_start() -> float:
    """Wall-clock time at which this process started (Linux /proc)."""
    with open("/proc/stat") as fh:
        boot = float(next(ln for ln in fh if ln.startswith("btime")).split()[1])
    with open("/proc/self/stat") as fh:
        ticks = float(fh.read().rsplit(")", 1)[1].split()[19])
    return boot + ticks / os.sysconf("SC_CLK_TCK")


T_START = _process_start()

import argparse  # noqa: E402
import json  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("cdc", "query_mix")
#: the program files the benchmark drives; without them there is nothing to run
REQUIRED = ("engine/io.py", "engine/registry.py", "scripts/run_cdc.py", "tests/oracle.py")
#: a run that is still going after this many seconds stops without a result
DEADLINE_S = 170
END_TO_END = {"setup_s": "s", "pass_s": "s", "op_gmean_s": "s", "rows_per_s": "rows/s"}


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment() -> str:
    """Match the test suite's environment (local[nproc]); keep every file
    the run writes, the JVM's included, inside the checkout. Returns the
    run's own scratch directory (scratch of runs no longer alive is
    removed)."""
    root = os.path.join(WORK, "tmp")
    os.makedirs(root, exist_ok=True)
    for pid in os.listdir(root):
        if not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(root, pid), ignore_errors=True)
    tmp = os.path.join(root, str(os.getpid()))
    os.makedirs(os.path.join(tmp, "spark-local"), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return tmp


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _fingerprint(spark) -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(ln for ln in fh if ln.startswith("MemTotal")).split()[1])
    commit = None  # a checkout without .git has no commit to record
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                                    text=True, timeout=10).stdout.strip() or None
        except (OSError, subprocess.TimeoutExpired):
            pass
    jvm = spark.sparkContext._jvm
    return {
        "nproc": os.cpu_count(),
        "affinity": sorted(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 1024 / 1024, 2),
        "java": jvm.System.getProperty("java.version"),
        "spark": spark.version,
        "python": platform.python_version(),
        "git_commit": commit,
        "spark_conf": dict(sorted(spark.sparkContext.getConf().getAll())),
        "session_conf": dict(sorted(spark.conf.getAll.items())),
        "env": {k: v for k, v in sorted(os.environ.items()) if k.startswith("SPARK_GRAFT_")},
    }


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM is killed below if it stays
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main(argv) -> int:
    args = _parse(argv)
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing: {', '.join(missing)}", file=sys.stderr)
        return 2
    tmp = _environment()
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "scripts"))

    from perfbench import fixture, workloads as wl
    from perfbench.trace import StatusStore, Tracer, median, tail

    # inputs first, outside set-up time: generation is reported unscored
    t_gen = time.time()
    fx, gen_s = fixture.cached(WORK, "tables", wl.FIXTURE_SEED, wl.FIXTURE_SCALE,
                               fixture.build_tables, wl.FIXTURE_SCALE)
    gen_wall = time.time() - t_gen

    import run_cdc
    from engine import registry
    from engine.io import get_spark, load_tables

    from perfbench.expected import Expected

    t0 = time.time()
    spark = get_spark(app=f"perfbench-{args.workload}")
    error = None
    try:
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.time()
        registry.load_all()
        t2 = time.time()
        load_tables(spark, fx)
        t3 = time.time()
        process_s = (t2 - T_START) - gen_wall
        session_s = [t3 - t2]
        for _ in range(2):  # the session-level part of set-up, repeated
            t = time.time()
            load_tables(spark.newSession(), fx)
            session_s.append(time.time() - t)
        layer = {"io.get_spark_s": t1 - t0, "registry.load_all_s": t2 - t1,
                 "io.load_tables_s": t3 - t2}
        setup = {"setup_s": process_s + median(session_s),
                 "setup_cold_s": process_s + session_s[0], "session_s": session_s}

        tracer = Tracer(StatusStore(spark) if args.trace else None)
        run = wl.Run(spark, tracer, args.seed, args.seconds, WORK, tmp, fx)
        run.detail["gen_s"] = gen_s
        for k in wl.HEADLINE + wl.LLM_KEYS:
            mod = registry.QUERIES[k].__module__.rsplit(".", 1)[-1]
            if mod != wl.KEY_MODULE[k]:
                raise RuntimeError(f"{k} is registered by {mod}, not {wl.KEY_MODULE[k]}")
        expected = Expected(fx)
        if args.workload == "cdc":
            run.detail["oracle_s"] = expected.ensure(wl.STREAM_KEYS, registry.ORACLE_SQL)
            wl.cdc(run, run_cdc, registry, expected, wl.BatchLog(spark))
        else:
            run.detail["oracle_s"] = expected.ensure(wl.HEADLINE + wl.LLM_KEYS, registry.ORACLE_SQL)
            run.detail["fixture_rows"] = fixture.fixture_rows(fx)
            wl.query_mix(run, registry, expected)
        if not run.pass_wall:
            raise RuntimeError("no timed pass")
        peak = _hwm_mb("self") + _hwm_mb(spark.sparkContext._gateway.proc.pid)
        finger = _fingerprint(spark)
    except Exception as e:  # noqa: BLE001 - reported below, run gives no result
        import traceback

        error = f"{type(e).__name__}: {e}\n{traceback.format_exc(limit=5)}"
    finally:
        signal.alarm(0)
        _stop(spark)
        shutil.rmtree(tmp, ignore_errors=True)
    if error is not None:
        print(f"perfbench: run aborted: {error}", file=sys.stderr)
        return 3

    passes = len(run.pass_wall)
    e2e = {
        "setup_s": setup["setup_s"],
        "pass_s": run.detail["pass_s"],
        "op_gmean_s": run.detail["op_gmean_s"],
        "rows_per_s": run.rows / passes / run.detail["pass_s"],
    }
    root = tracer.spans[run.root]
    in_calls = sum(s.end - s.start for s in run.calls)
    window = root.end - root.start
    run.layer.update(layer)
    run.layer["io.peak_rss_mb"] = peak
    run.layer["trace.unattributed_s"] = (window - in_calls) / passes
    run.layer["trace.overhead_s"] = root.attrs.get("read_s", 0.0) / passes
    per_layer = {}
    for name, unit in wl.per_layer_names():
        per_layer[name] = {"value": float(run.layer.get(name, 0.0)), "unit": unit}
    pct, val, n = tail(run.op_s)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "started": T_START,
        "attempted": run.attempted, "failed": run.failed, "errors": run.errors[:20],
        "end_to_end": {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()},
        "per_layer": per_layer,
        "detail": {
            **run.detail, **setup, "passes": passes, "pass_wall_s": run.pass_wall,
            "ops": len(run.op_s), "op_p50_s": median(run.op_s),
            "error_rate": run.failed / max(1, run.attempted),
            "op_tail_s": {"value": val, "percentile": pct, "samples": n},
            "window_s": window, "calls_s": in_calls, "call_samples_s": run.samples,
        },
        "fingerprint": finger,
    }
    if args.trace:
        record["spans"] = tracer.dump()
    out_dir = os.path.join(WORK, "results")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-"
                                 f"{int(T_START * 1000)}.json")
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1)
    for e in run.errors[:5]:
        print(f"perfbench: error: {e}", file=sys.stderr)
    print(f"perfbench: record {os.path.relpath(path, ROOT)}")
    metrics = per_layer if args.trace else record["end_to_end"]
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
