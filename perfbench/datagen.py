"""Deterministic synthetic inputs for the benchmark.

Writes the ten tables the query registry reads (TPC-H-shaped star schema
plus ``events``, ``documents`` and ``embeddings``) as one parquet file each,
with the same schema and value domains as the engine's test data: uniform
keys and measures, real TPC-H region names, ``NATION_i`` nation names,
6 part types, 25 brands, 5% of documents an exact copy of another document
plus a trailing ``dup`` token, and unit-norm 64-d embeddings. ``events.ts``
is timestamp[us], as in the test data at every scale; the reader's
timestamp[ns] conversion is left to the engine's own tests.

The data depends only on the scale factor, never on the workload seed: the
seed varies the operation order and the DML constants, so runs with
different seeds measure the same inputs. A build is reused while its
manifest's generator version and file checksums still match.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil
import time

import numpy as np

GENERATOR_VERSION = 1
DATA_SEED = 20240101

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _days(start: str, end: str) -> tuple[np.datetime64, int]:
    lo = np.datetime64(start, "D")
    return lo, int((np.datetime64(end, "D") - lo).astype(int)) + 1


def _random_dates(rng, n: int, start: str, end: str) -> np.ndarray:
    lo, span = _days(start, end)
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _tables(sf: float) -> dict[str, dict[str, object]]:
    """Column arrays per table, generated from one fixed seed."""
    import pyarrow as pa

    rng = np.random.default_rng(DATA_SEED)
    n_cust = max(1, round(150_000 * sf))
    n_supp = max(1, round(10_000 * sf))
    n_part = max(1, round(200_000 * sf))
    n_ord = max(1, round(1_500_000 * sf))
    n_li = max(1, round(6_000_000 * sf))
    n_ev = max(1, round(1_000_000 * sf))
    n_users = max(1, round(15_000 * sf))
    n_docs = max(500, round(50_000 * sf))
    n_emb = max(500, round(20_000 * sf))

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    t: dict[str, dict[str, object]] = {}
    t["region"] = {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": REGIONS,
    }
    t["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = {
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
    }
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = {
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    }
    pk = np.arange(n_part, dtype=np.int64)
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    t["part"] = {
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part).tolist(),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    }
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": _random_dates(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
    }
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
        "l_shipdate": _random_dates(rng, n_li, "1995-01-02", "2001-11-04"),
    }
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_ev))
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev).tolist(),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    lengths = rng.integers(10, 101, n_docs)
    texts = [" ".join(rng.choice(WORDS, n)) for n in lengths]
    dups = rng.choice(n_docs, n_docs // 20, replace=False)
    originals = np.setdiff1d(np.arange(n_docs), dups)
    for d, src in zip(dups, rng.choice(originals, len(dups))):
        texts[d] = texts[src] + " dup"
    t["documents"] = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    }
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel(), pa.float32()), 64
        ).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    }
    return t


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _manifest_ok(out: str, sf: float) -> dict | None:
    try:
        with open(os.path.join(out, "MANIFEST.json")) as f:
            man = json.load(f)
    except (OSError, ValueError):
        return None
    if man.get("generator_version") != GENERATOR_VERSION or man.get("sf") != sf:
        return None
    for name, digest in man["checksums"].items():
        path = os.path.join(out, f"{name}.parquet")
        if not os.path.exists(path) or _sha256(path) != digest:
            return None
    return man


def ensure(root: str, sf: float) -> tuple[str, dict]:
    """Return ``(dir, manifest)`` for scale ``sf`` under ``root``, building
    the tables when no valid build is there. ``manifest["build_s"]`` is the
    time the build took (0.0 when an existing build was reused)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = os.path.join(root, f"sf{sf:g}")
    man = _manifest_ok(out, sf)
    if man is not None:
        return out, {**man, "build_s": 0.0}
    t0 = time.perf_counter()
    shutil.rmtree(out, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    checksums = {}
    for name, cols in _tables(sf).items():
        path = os.path.join(tmp, f"{name}.parquet")
        # one file with one row group per table, like the engine's test data
        pq.write_table(pa.table(cols), path, row_group_size=1 << 30)
        checksums[name] = _sha256(path)
    man = {
        "generator_version": GENERATOR_VERSION,
        "sf": sf,
        "checksums": checksums,
        "built": dt.datetime.now(dt.timezone.utc).isoformat(timespec="seconds"),
    }
    with open(os.path.join(tmp, "MANIFEST.json"), "w") as f:
        json.dump(man, f, indent=1)
    os.rename(tmp, out)
    return out, {**man, "build_s": time.perf_counter() - t0}


def input_checksum(manifest: dict) -> str:
    """One digest over every table's checksum (keys oracle caches)."""
    h = hashlib.sha256()
    for name in sorted(manifest["checksums"]):
        h.update(f"{name}={manifest['checksums'][name]};".encode())
    return h.hexdigest()[:16]
