"""Deterministic synthetic input tables for the benchmark.

Writes the star-schema and pipeline tables the inventory keys read
(`documents`, `embeddings`, `lineitem`, ...) as one parquet file each,
with the column names, types and value distributions of the
repository's sf0.1 reference test data (figures below). The content is
a pure function of DATA_SEED and the row counts below, so every
checkout generates the same bytes and the stored output digests stay
valid. The per-run `--seed` never changes these tables; it
only orders keys and picks commit-series rows.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
# Row counts: the text and vector tables at their sf0.1 sizes, the
# relational tables at REL_SCALE of theirs so that a pass of the graph
# keys fits the run time. No key of the benchmark reads both families,
# and each family keeps sf0.1's ratios.
SF01 = {"documents": 5000, "embeddings": 2000, "lineitem": 600000,
        "orders": 150000, "customer": 15000, "supplier": 1000, "part": 20000,
        "events": 100000}
REL_SCALE = 1 / 30
ROWS = {t: n if t in ("documents", "embeddings") else round(n * REL_SCALE)
        for t, n in SF01.items()}
# The distributions below are those measured on the sf0.1 reference
# tables: texts of 10-100 words drawn uniformly from a 30-word
# vocabulary; 5 % near-duplicates (another document's text followed by
# " dup"), 0.16 % exact duplicates; the language mix;
# source = src<doc_id mod 20>; embeddings are unit-norm 64-d Gaussian
# directions whose label (0-9) is uniform and independent of the vector.
WORDS = ("a the spark line column order small sort fast value scan hash "
         "slow group agg filter query big key window row table stream "
         "merge data vector customer join part batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_SHARE = [0.412, 0.140, 0.149, 0.148, 0.151]
NEAR_DUP_SHARE, EXACT_DUP_SHARE = 0.05, 0.0016
EPOCH_US = 694224000 * 10**6  # 1992-01-01


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def documents(rng, n):
    texts = [list(rng.choice(WORDS, size=int(rng.integers(10, 101)))) for _ in range(n)]
    n_near, n_exact = round(n * NEAR_DUP_SHARE), round(n * EXACT_DUP_SHARE)
    picked = rng.choice(n, size=n_near + n_exact, replace=False)
    for m, i in enumerate(picked):
        j = int(rng.integers(0, n))
        while j == i:
            j = int(rng.integers(0, n))
        texts[i] = texts[j] + ["dup"] if m < n_near else list(texts[j])
    texts = [" ".join(map(str, t)) for t in texts]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[k] for k in rng.choice(len(LANGS), size=n, p=LANG_SHARE)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, n, dim=64):
    vecs = rng.normal(0, 1, (n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def relational(rng):
    n_o, n_l = ROWS["orders"], ROWS["lineitem"]
    n_c, n_s, n_p = ROWS["customer"], ROWS["supplier"], ROWS["part"]
    day = 86400 * 10**6
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_c), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_c), 2),
            "c_mktsegment": [["AUTOMOBILE", "BUILDING", "FURNITURE",
                              "HOUSEHOLD", "MACHINERY"][k]
                             for k in rng.integers(0, 5, n_c)]}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999, 9999, n_s), 2)}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_p), pa.int64()),
            "p_name": [f"{a} {b}" for a, b in zip(
                rng.choice(["large", "hot", "blue", "small", "red"], n_p),
                rng.choice(["ring", "bolt", "nut", "gear", "pipe"], n_p))],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_p)],
            "p_type": list(rng.choice(["LARGE", "ECONOMY", "SMALL",
                                       "STANDARD", "PROMO"], n_p)),
            "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
            "p_retailprice": np.round(900 + np.arange(n_p) * 0.1, 2)}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
            "o_orderstatus": list(rng.choice(["O", "F", "P"], n_o)),
            "o_totalprice": np.round(rng.uniform(800, 400000, n_o), 2),
            "o_orderdate": _ts(EPOCH_US + rng.integers(0, 3650, n_o) * day),
            "o_orderpriority": list(rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                n_o))}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_o, n_l), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_p, n_l), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_s, n_l), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_l), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105000, n_l), 2),
            "l_discount": rng.integers(0, 11, n_l) / 100.0,
            "l_tax": rng.integers(0, 9, n_l) / 100.0,
            "l_returnflag": list(rng.choice(["A", "N", "R"], n_l)),
            "l_linestatus": list(rng.choice(["O", "F"], n_l)),
            "l_shipdate": _ts(EPOCH_US + rng.integers(0, 3650, n_l) * day)}),
    }
    n_e = ROWS["events"]
    start = 1704067200 * 10**6  # 2024-01-01
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_e), pa.int64()),
        "ts": _ts(start + np.cumsum(rng.integers(1, 60 * 10**6, n_e))),
        "user_id": pa.array(rng.integers(0, 2000, n_e), pa.int64()),
        "event_type": list(rng.choice(
            ["click", "purchase", "error", "signup", "view"], n_e)),
        "value": np.round(rng.uniform(0, 200, n_e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]})
    return tables


def generate(out_dir):
    """Write every table under `out_dir`, publishing it atomically."""
    rng = np.random.default_rng(DATA_SEED)
    tables = {"documents": documents(rng, ROWS["documents"]),
              "embeddings": embeddings(rng, ROWS["embeddings"])}
    tables.update(relational(rng))
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(tmp, f"{name}.parquet"),
                       compression="snappy")
    os.rename(tmp, out_dir)


if __name__ == "__main__":
    import sys
    generate(sys.argv[1])
