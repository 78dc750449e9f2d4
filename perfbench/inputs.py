"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed gives
byte-identical inputs (checked by `input_hash`), a different seed gives
different inputs. Nothing here imports Spark.

- DEM pairs come from `fixtures.make_dem_fixture`, the repository's own
  truth-carrying fixture; the seed picks its random field, noise and
  nodata blobs.
- The registry tables imitate the shape of the sf0.001 test data
  (TPC-H-like star schema, an `events` table, a 500-document corpus
  over a 31-word vocabulary with ~5% near-duplicates, 500 unit-norm
  64-d embeddings), so every registry query runs on them.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("scan column window order sort part agg value line key join merge "
         "group query a vector hash slow stream filter fast the batch spark "
         "table small data big customer row").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
REGISTRY_TABLES = ["region", "nation", "customer", "supplier", "part",
                   "orders", "lineitem", "events", "documents", "embeddings"]


def _rs(seed: int, stream: int) -> np.random.RandomState:
    """Independent random stream per (seed, table)."""
    return np.random.RandomState((seed * 1_000_003 + stream) % (2 ** 32))


def fixture_seed(seed: int) -> int:
    """Fold any integer seed into the range both the fixture and
    `pipeline.analyze_pair` take: numpy seeds must stay below 2**32, and
    the variogram fit seeds numpy with seed × 1000 + start index, so
    analyze_pair raises from seed 4,294,967 on. Seeds below 2**22 map to
    themselves."""
    return seed % 2 ** 22


def dem_pair(n: int, seed: int):
    """One seeded DEM fixture of n×n pixels (reference + compare), with
    the field parameters of the pipeline's truth-recovery test."""
    from error_analysis_spark.fixtures import make_dem_fixture
    return make_dem_fixture(n_rows=n, n_cols=n, range_m=32.0, sill=0.04,
                            noise_std=0.05, bias=0.15, feature_dz=-1.2,
                            seed=seed)


def tile_order(n: int, tile: int, seed: int) -> np.ndarray:
    """Seed-shuffled arrival order of the (n/tile)² compare tiles."""
    return _rs(seed, 7).permutation((n // tile) ** 2)


def write_compare_tiles(fx, n: int, tile: int, out_dir: str,
                        seed: int) -> list[str]:
    """Split the compare DEM into tile×tile parquet files, in
    `tile_order` — the stream's input."""
    os.makedirs(out_dir, exist_ok=True)
    cmp_ = fx.pixels[fx.pixels["dataset_id"] == "compare_dem"]
    keys = [(r, c) for r in range(0, n, tile) for c in range(0, n, tile)]
    order = tile_order(n, tile, seed)
    paths = []
    for i, k in enumerate(order):
        r0, c0 = keys[k]
        part = cmp_[(cmp_["row"] >= r0) & (cmp_["row"] < r0 + tile)
                    & (cmp_["col"] >= c0) & (cmp_["col"] < c0 + tile)]
        path = os.path.join(out_dir, f"tile_{i:04d}.parquet")
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False), path)
        paths.append(path)
    return paths


def _ts(base: str, micros: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + micros.astype(np.int64), type=pa.timestamp("us"))


def registry_tables(seed: int) -> dict[str, pa.Table]:
    """The ten registry tables at the sf0.001 shape."""
    n_c, n_s, n_p, n_o, n_l, n_e, n_d, n_v = (150, 10, 200, 1500, 6000,
                                              1000, 500, 500)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = _rs(seed, 1)
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(r.randint(0, 25, n_c), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_c), 2),
        "c_mktsegment": r.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], n_c)})
    r = _rs(seed, 2)
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": pa.array(r.randint(0, 25, n_s), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_s), 2)})
    r = _rs(seed, 3)
    adj = ["small", "blue", "cold", "old", "new", "hot", "red", "big"]
    noun = ["widget", "rod", "ring", "anvil", "plate", "bolt", "gear",
            "pipe"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_p), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(r.randint(0, 8, n_p), r.randint(0, 8, n_p))],
        "p_brand": [f"Brand#{b}" for b in r.randint(1, 26, n_p)],
        "p_type": r.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"], n_p),
        "p_size": pa.array(r.randint(1, 51, n_p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_p) % 1000) * 0.1, 2)})
    r = _rs(seed, 4)
    day = 86_400_000_000
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(r.randint(0, n_c, n_o), pa.int64()),
        "o_orderstatus": r.choice(["F", "O", "P"], n_o),
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n_o), 2),
        "o_orderdate": _ts("1995-01-01", r.randint(0, 2404, n_o) * day),
        "o_orderpriority": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], n_o)})
    r = _rs(seed, 5)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.randint(0, n_o, n_l), pa.int64()),
        "l_partkey": pa.array(r.randint(0, n_p, n_l), pa.int64()),
        "l_suppkey": pa.array(r.randint(0, n_s, n_l), pa.int64()),
        "l_linenumber": pa.array(r.randint(1, 8, n_l), pa.int32()),
        "l_quantity": r.randint(1, 51, n_l).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900.0, 105000.0, n_l), 2),
        "l_discount": r.randint(0, 11, n_l) / 100.0,
        "l_tax": r.randint(0, 9, n_l) / 100.0,
        "l_returnflag": r.choice(["A", "N", "R"], n_l),
        "l_linestatus": r.choice(["O", "F"], n_l),
        "l_shipdate": _ts("1995-01-02", r.randint(0, 2498, n_l) * day)})
    r = _rs(seed, 6)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_e), pa.int64()),
        "ts": _ts("2024-01-01", np.sort(r.randint(0, 30 * day, n_e))),
        "user_id": pa.array(r.randint(0, 15, n_e), pa.int64()),
        "event_type": r.choice(["click", "error", "purchase", "signup",
                                "view"], n_e),
        "value": np.maximum(np.round(r.exponential(50.0, n_e), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in r.randint(0, 100, n_e)]})

    r = _rs(seed, 8)
    texts: list[str] = []
    for i in range(n_d):
        if i >= 20 and r.rand() < 0.05:
            words = texts[r.randint(0, i)].split()
            words.insert(r.randint(0, len(words) + 1), "dup")
        else:
            words = [VOCAB[w] for w in r.randint(0, len(VOCAB),
                                                 r.randint(10, 100))]
        texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_d), pa.int64()),
        "text": texts,
        "lang": r.choice(LANGS, n_d, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_d)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})
    r = _rs(seed, 9)
    v = r.standard_normal((n_v, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_v), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.randint(0, 10, n_v), pa.int32())})
    return t


def write_registry_tables(seed: int, out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in registry_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def input_hash(obj) -> str:
    """md5 over a workload's inputs: pandas frames, arrow tables, numpy
    arrays, or dicts/lists of them."""
    h = hashlib.md5()

    def feed(x):
        if isinstance(x, dict):
            for k in sorted(x):
                h.update(str(k).encode())
                feed(x[k])
        elif isinstance(x, (list, tuple)):
            for y in x:
                feed(y)
        elif isinstance(x, pa.Table):
            feed(x.to_pandas())
        elif isinstance(x, pd.DataFrame):
            h.update(pd.util.hash_pandas_object(
                x.astype(str), index=False).to_numpy().tobytes())
        elif isinstance(x, np.ndarray):
            h.update(np.ascontiguousarray(x).tobytes())
        else:
            h.update(repr(x).encode())
    feed(obj)
    return h.hexdigest()
