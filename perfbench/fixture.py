"""Seeded inputs for the benchmark: a TPC-H-style fixture and CDC extracts.

Everything is built with NumPy and PyArrow, never Spark, so generation
time stays out of the program's own measurements. Outputs are cached
under the work directory by (kind, seed, scale); the same seed always
gives byte-identical files.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per table at scale 1.0 (scale 0.01 matches the 60 k-lineitem
#: correctness fixture the test suite uses)
_BASE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 50_000,
}
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "green"]
_PART_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "nut"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a the spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row agg key "
    "query scan batch"
).split()
_LANGS = ["en", "en", "de", "es", "fr", "zh"]
_DAY_US = 86_400 * 1_000_000


def _ts_us(days_since_epoch: np.ndarray) -> pa.Array:
    return pa.array(days_since_epoch.astype("int64") * _DAY_US, pa.timestamp("us"))


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Random bag-of-words documents with planted near and exact duplicates,
    so the dedup keys have real work: about 5 % of documents copy an earlier
    one with one word changed or ' dup' appended, and 0.2 % copy it exactly."""
    vocab = np.array(_VOCAB)
    lens = rng.integers(10, 101, n)
    docs = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lens]
    for i in range(1, n):
        r = rng.random()
        if r < 0.002:
            docs[i] = docs[int(rng.integers(0, i))]
        elif r < 0.05:
            words = docs[int(rng.integers(0, i))].split()
            if rng.random() < 0.5:
                words[int(rng.integers(0, len(words)))] = str(vocab[rng.integers(0, len(vocab))])
            else:
                words.append("dup")
            docs[i] = " ".join(words)
    return docs


def build_tables(dst: str, seed: int, scale: float) -> None:
    """Write the ten fixture tables (one parquet file each) into ``dst``."""
    rng = np.random.default_rng(seed)
    n = {t: max(10, int(round(r * scale))) for t, r in _BASE_ROWS.items()}
    n["embeddings"] = max(200, min(n["embeddings"], 2000))
    os.makedirs(dst, exist_ok=True)
    w = lambda t, cols: _write(os.path.join(dst, f"{t}.parquet"), cols)  # noqa: E731

    w("region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS})
    w("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    w("customer", {
        "c_custkey": np.arange(nc, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    w("supplier", {
        "s_suppkey": np.arange(ns, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    pk = np.arange(npart, dtype="int64")
    w("part", {
        "p_partkey": pk,
        "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, npart)],
        "p_size": rng.integers(1, 51, npart).astype("int32"),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 2),
    })
    no = n["orders"]
    d0 = (pd.Timestamp("1995-01-01") - pd.Timestamp("1970-01-01")).days
    odate = d0 + rng.integers(0, 2400, no)
    w("orders", {
        "o_orderkey": np.arange(no, dtype="int64"),
        "o_custkey": rng.integers(0, nc, no).astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": _ts_us(odate),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, no)],
    })
    lines = rng.integers(1, 8, no)
    okey = np.repeat(np.arange(no, dtype="int64"), lines)
    nl = len(okey)
    lnum = np.arange(nl) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, nl).astype("float64")
    lpart = rng.integers(0, npart, nl).astype("int64")
    w("lineitem", {
        "l_orderkey": okey,
        "l_partkey": lpart,
        "l_suppkey": rng.integers(0, ns, nl).astype("int64"),
        "l_linenumber": lnum.astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900 + (lpart % 1000) / 10) * rng.uniform(0.9, 1.1, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts_us(np.repeat(odate, lines) + rng.integers(1, 121, nl)),
    })
    ne = n["events"]
    t0 = pd.Timestamp("2024-01-01").value // 1000
    ts = np.sort(t0 + rng.integers(0, 30 * _DAY_US, ne))
    w("events", {
        "event_id": np.arange(ne, dtype="int64"),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(10, int(ne * 0.015)), ne).astype("int64"),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(np.clip(rng.lognormal(2.5, 1.2, ne), 0.01, 490.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    docs = _documents(rng, nd)
    w("documents", {
        "doc_id": np.arange(nd, dtype="int64"),
        "text": docs,
        "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(d) for d in docs], dtype="int64"),
    })
    nv = n["embeddings"]
    m = rng.standard_normal((nv, 64)).astype("float32")
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    w("embeddings", {
        "vec_id": np.arange(nv, dtype="int64"),
        "embedding": pa.array(list(m), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv).astype("int32"),
    })


def table_hash(df: pd.DataFrame) -> str:
    """Order-insensitive content hash of a frame (sum of per-row hashes)."""
    h = pd.util.hash_pandas_object(df[sorted(df.columns)], index=False)
    return f"{int(h.to_numpy(dtype='uint64').sum(dtype='uint64')):016x}"


ORDERS_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]
CUSTOMER_COLS = ["c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment", "c_updated"]


def cdc_config(ext_root: str, out_root: str) -> list[dict]:
    """The two-source ``run_source`` config for the nightly CDC workload."""
    return [
        {
            "name": "orders",
            "input_path": os.path.join(ext_root, "orders", "{run_date}"),
            "format": "parquet",
            "key_cols": ["o_orderkey"],
            "tracked_cols": ORDERS_COLS[1:],
            "extract_type": "full",
        },
        {
            "name": "customer",
            "input_path": os.path.join(ext_root, "customer", "{run_date}"),
            "format": "parquet",
            "key_cols": ["c_custkey"],
            "tracked_cols": CUSTOMER_COLS[1:],
            "extract_type": "delta",
            "dedup": {"order_col": "c_updated", "tiebreak": "c_acctbal"},
        },
    ]


def run_dates(n: int) -> list[str]:
    return [str((pd.Timestamp("2024-03-01") + pd.Timedelta(days=i)).date()) for i in range(n)]


def build_extracts(dst: str, seed: int, orders_rows: int, days: int) -> None:
    """Write ``days`` consecutive run-dates of CDC extracts into ``dst``.

    ``orders`` is a full extract: each day about 1 % of keys are new, 4 %
    change a tracked value and 1 % disappear. ``customer`` is a delta
    extract over ``orders_rows // 10`` customers: the first day carries
    every key, later days about 5 % updated and 1 % new keys, and a third
    of the touched keys appear three times, twice with older ``c_updated``
    stamps, so ``dedup_extract`` has duplicates to collapse.
    ``<date>.json`` beside the extracts holds the planted I/U/D counts and
    the expected snapshot hash after that day.
    """
    rng = np.random.default_rng([seed, 7])
    dates = run_dates(days)
    n_o = orders_rows
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n_o, dtype="int64"),
        "o_custkey": rng.integers(0, n_o // 10, n_o).astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_o)],
        "o_totalprice": _money(rng, 1000, 500000, n_o),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_o)],
    })
    next_okey = n_o
    n_c = n_o // 10
    cust = pd.DataFrame({
        "c_custkey": np.arange(n_c, dtype="int64"),
        "c_nationkey": rng.integers(0, 25, n_c).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_c)],
        "c_updated": np.zeros(n_c, dtype="int64"),
    })
    next_ckey = n_c
    for day, run_date in enumerate(dates):
        plan: dict = {"run_date": run_date}
        if day == 0:
            plan["orders"] = {"I": len(orders)}
            delta = cust.copy()
            plan["customer"] = {"I": len(cust)}
        else:
            m = len(orders)
            n_u, n_d, n_i = int(m * 0.04), int(m * 0.01), int(m * 0.01)
            pick = rng.permutation(m)[: n_u + n_d]
            upd, dele = pick[:n_u], pick[n_u:]
            prices = orders["o_totalprice"].to_numpy().copy()
            prices[upd] = np.round(prices[upd] + rng.integers(1, 1000, n_u) / 100.0, 2)
            orders = orders.assign(o_totalprice=prices)
            keep = np.ones(m, dtype=bool)
            keep[dele] = False
            new = pd.DataFrame({
                "o_orderkey": np.arange(next_okey, next_okey + n_i, dtype="int64"),
                "o_custkey": rng.integers(0, n_c, n_i).astype("int64"),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_i)],
                "o_totalprice": _money(rng, 1000, 500000, n_i),
                "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_i)],
            })
            next_okey += n_i
            orders = pd.concat([orders[keep], new], ignore_index=True)
            plan["orders"] = {"I": n_i, "U": n_u, "D": n_d}

            c = len(cust)
            c_u, c_i = int(c * 0.05), int(c * 0.01)
            touched = rng.choice(c, c_u, replace=False)
            stamp = day * 10
            upd_rows = cust.iloc[touched].copy()
            upd_rows["c_acctbal"] = _money(rng, -999.99, 9999.99, c_u)
            upd_rows["c_updated"] = stamp
            new_rows = pd.DataFrame({
                "c_custkey": np.arange(next_ckey, next_ckey + c_i, dtype="int64"),
                "c_nationkey": rng.integers(0, 25, c_i).astype("int32"),
                "c_acctbal": _money(rng, -999.99, 9999.99, c_i),
                "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, c_i)],
                "c_updated": np.full(c_i, stamp, dtype="int64"),
            })
            next_ckey += c_i
            latest = pd.concat([upd_rows, new_rows], ignore_index=True)
            # superseded versions of a third of the touched keys: older
            # stamps, different values, so only dedup makes the counts right
            dup_idx = rng.choice(len(latest), len(latest) // 3, replace=False)
            dups = [latest.iloc[dup_idx].assign(
                c_updated=stamp - k,
                c_acctbal=_money(rng, -999.99, 9999.99, len(dup_idx)),
            ) for k in (1, 2)]
            delta = pd.concat([latest, *dups], ignore_index=True).sample(
                frac=1.0, random_state=int(rng.integers(1 << 31)))
            cust = cust.set_index("c_custkey")
            latest_i = latest.set_index("c_custkey")
            cust.loc[latest_i.index.intersection(cust.index)] = latest_i.loc[
                latest_i.index.intersection(cust.index)]
            cust = pd.concat([cust, latest_i.loc[new_rows["c_custkey"]]]).reset_index()
            cust = cust.astype({"c_nationkey": "int32", "c_updated": "int64"})
            plan["customer"] = {"I": c_i, "U": c_u}
        plan["orders_rows"] = len(orders)
        plan["customer_rows"] = len(delta)
        plan["orders_hash"] = table_hash(orders)
        plan["customer_hash"] = table_hash(cust)
        for name, frame in (("orders", orders), ("customer", delta)):
            d = os.path.join(dst, name, run_date)
            os.makedirs(d, exist_ok=True)
            pq.write_table(pa.Table.from_pandas(frame, preserve_index=False),
                           os.path.join(d, "part-0.parquet"))
        with open(os.path.join(dst, f"{run_date}.json"), "w") as fh:
            json.dump(plan, fh)


def fixture_rows(d: str) -> int:
    """Total rows over the fixture's tables."""
    return sum(pq.read_metadata(os.path.join(d, f"{t}.parquet")).num_rows
               for t in ("region", "nation", "customer", "supplier", "part", "orders",
                         "lineitem", "events", "documents", "embeddings"))


#: builds of one kind kept on disk; each CDC extract set is about 10 MB
_KEEP = 4


def cached(work: str, kind: str, seed: int, scale, build, *args) -> tuple[str, float]:
    """Build ``kind`` for (seed, scale) once under ``work``; return its
    directory and the seconds spent building (0 when it was cached). At
    most ``_KEEP`` builds of one kind stay on disk, the oldest go first."""
    root = os.path.join(work, "inputs")
    d = os.path.join(root, f"{kind}-seed{seed}-{scale}")
    if os.path.exists(os.path.join(d, "_DONE")):
        os.utime(d)
        return d, 0.0
    if os.path.isdir(root):
        old = sorted((os.path.getmtime(os.path.join(root, x)), x) for x in os.listdir(root)
                     if x.startswith(f"{kind}-seed"))
        for _, x in old[: max(0, len(old) - _KEEP + 1)]:
            shutil.rmtree(os.path.join(root, x), ignore_errors=True)
    t0 = time.perf_counter()
    tmp = d + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp, seed, *args)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d, time.perf_counter() - t0
