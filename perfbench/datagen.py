"""Seeded input generators for the benchmark.

Two kinds of input:

- ``write_tables``: the TPC-H-ish star plus the ``events`` and ``documents``
  tables that the registered queries read, in the parquet schemas of the
  test data described in TESTDATA.md, at roughly its sf0.01 size. The tables are made
  from a fixed data seed, so every run reads the same bytes and results can
  be checked against pinned fingerprints; the workload seed drives what is
  done with them.
- ``upload``: the imaging datasets of the ingest workload (serials,
  index grids, sha256 values), made from the workload seed.

Both are pure functions of their seed.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
# Row counts of the generated tables; the cache is rebuilt when any differs.
ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
}
N_USERS = 150

VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window join filter column customer order query data "
    "group stream big small vector index"
).split()
LANGS = ["en"] * 3 + ["de", "es", "fr", "zh"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_WORDS = ["small", "red", "blue", "hot", "old", "large"], [
    "ring", "widget", "bolt", "gear", "gizmo", "plate",
]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _ts(base: datetime, offsets_us: np.ndarray) -> pa.Array:
    epoch = int((base - datetime(1970, 1, 1)) / timedelta(microseconds=1))
    return pa.array(epoch + offsets_us.astype(np.int64), pa.timestamp("us"))


def _days(rng: np.random.Generator, n_days: int, size: int) -> np.ndarray:
    return rng.integers(0, n_days, size) * 86_400_000_000


def _documents(rng: np.random.Generator) -> dict:
    n = ROWS["documents"]
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.08:
            # near-duplicate of an earlier document: a few tokens replaced
            toks = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), max(1, len(toks) // 20)):
                toks[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            toks = [VOCAB[k] for k in rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]
        texts.append(" ".join(toks))
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[k] for k in rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def make_tables(seed: int = DATA_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    t: dict[str, dict] = {}
    t["region"] = {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    }
    t["nation"] = {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }
    nc = ROWS["customer"]
    t["customer"] = {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2)),
        "c_mktsegment": pa.array([SEGMENTS[k] for k in rng.integers(0, 5, nc)]),
    }
    ns = ROWS["supplier"]
    t["supplier"] = {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, ns), 2)),
    }
    npart = ROWS["part"]
    adj, noun = P_WORDS
    t["part"] = {
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": pa.array(
            [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 6, (npart, 2))]
        ),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, npart)]),
        "p_type": pa.array([P_TYPES[k] for k in rng.integers(0, 6, npart)]),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": pa.array(900.0 + (np.arange(npart) % 1000) / 10),
    }
    no = ROWS["orders"]
    t["orders"] = {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pa.array([("F", "O", "P")[k] for k in rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, no), 2)),
        "o_orderdate": _ts(datetime(1995, 1, 1), _days(rng, 2404, no)),
        "o_orderpriority": pa.array([PRIORITIES[k] for k in rng.integers(0, 5, no)]),
    }
    nl = ROWS["lineitem"]
    qty = rng.integers(1, 51, nl).astype(float)
    t["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100),
        "l_returnflag": pa.array([("A", "N", "R")[k] for k in rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array([("F", "O")[k] for k in rng.integers(0, 2, nl)]),
        "l_shipdate": _ts(datetime(1995, 1, 2), _days(rng, 2498, nl)),
    }
    ne = ROWS["events"]
    value = np.round(rng.exponential(20.0, ne) + 0.01, 2)
    spikes = rng.random(ne) < 0.01
    value[spikes] = np.round(value[spikes] * 20, 2)
    t["events"] = {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(
            datetime(2024, 1, 1),
            np.sort(rng.integers(0, 30 * 86_400_000_000, ne)),
        ),
        "user_id": pa.array(rng.integers(0, N_USERS, ne), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[k] for k in rng.integers(0, 5, ne)]),
        "value": pa.array(value),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)]),
    }
    t["documents"] = _documents(rng)
    return {name: pa.table(cols) for name, cols in t.items()}


def tables_ok(data_dir: str) -> bool:
    """True when every table exists with its expected row count."""
    for name, n in ROWS.items():
        path = os.path.join(data_dir, f"{name}.parquet")
        try:
            if pq.ParquetFile(path).metadata.num_rows != n:
                return False
        except (OSError, pa.ArrowInvalid):
            return False
    return True


def write_tables(data_dir: str) -> None:
    os.makedirs(data_dir, exist_ok=True)
    for name, tbl in make_tables().items():
        tmp = os.path.join(data_dir, f".{name}.parquet.tmp")
        pq.write_table(tbl, tmp, compression="snappy")
        os.replace(tmp, os.path.join(data_dir, f"{name}.parquet"))


# ----------------------------------------------------------------- ingest

# (channels, slices, timepoints, positions) grids of 180-240 frames: the
# shapes vary the index dimensions a commit summarizes while keeping the
# per-upload work, and so the round time, comparable across seeds.
GRIDS = [
    (4, 6, 8, 1), (3, 8, 4, 2), (2, 12, 5, 2), (1, 16, 3, 4), (4, 5, 3, 3),
    (3, 10, 7, 1), (2, 9, 4, 3), (5, 4, 2, 5), (1, 20, 11, 1), (6, 5, 2, 4),
]
DS_SCHEMA = (
    "dataset_serial string, description string, microscope string, "
    "parent_dataset_id string, storage_dir string, bit_depth string, "
    "im_width int, im_height int, im_colors int, metadata_json string"
)
FRAMES_SCHEMA = (
    "dataset_serial string, channel_idx int, slice_idx int, time_idx int, "
    "pos_idx int, channel_name string, file_name string, sha256 string, "
    "metadata_json string"
)
CHANNEL_NAMES = ["brightfield", "phase", "405", "488", "561", "640"]


def upload(seed: int, index: int) -> tuple[list[tuple], list[tuple]]:
    """Upload number ``index`` of the stream for ``seed``: one data_set row
    and its frame rows. Indices are non-contiguous and offset on purpose
    (rank-based stack coordinates must differ from raw indices)."""
    rng = random.Random(f"{seed}/upload/{index}")
    c, z, t, p = rng.choice(GRIDS)
    day = datetime(2019, 1, 1) + timedelta(days=rng.randrange(1500), seconds=rng.randrange(86_400))
    serial = f"PERF-{day:%Y-%m-%d-%H-%M-%S}-{index:04d}"
    ds = [(
        serial, f"perf upload {index}", rng.choice(["scope1", "scope2"]),
        "none", f"raw_frames/{serial}", "uint16", 64, 64, 1,
        json.dumps({"protein_name": rng.choice(["TOPOR", "CCT7", "ACTB"])}),
    )]
    t0, p0 = rng.randrange(0, 9), rng.randrange(10, 60)
    frames = []
    for ci in range(c):
        for zi in range(z):
            for ti in range(t):
                for pi in range(p):
                    ti_, pi_ = t0 + 2 * ti, p0 + pi
                    name = f"im_c{ci:03d}_z{zi:03d}_t{ti_:03d}_p{pi_:03d}.png"
                    sha = hashlib.sha256(f"{seed}/{serial}/{name}".encode()).hexdigest()
                    frames.append((
                        serial, ci, zi, ti_, pi_, CHANNEL_NAMES[ci], name, sha,
                        '{"local_key": "local_value"}',
                    ))
    return ds, frames


def absent_sha256(seed: int, index: int) -> str:
    """A hash that no upload of any stream contains."""
    return hashlib.sha256(f"{seed}/absent/{index}".encode()).hexdigest()
