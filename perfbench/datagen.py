"""Seeded synthetic input tables for the benchmark.

Writes the ten parquet tables the engine's TPC-H graph encoding reads
(``region nation customer supplier part orders lineitem events documents
embeddings``) with the column names and types of the repository's test
fixtures.  Row counts scale with ``scale`` the way TPC-H does
(``scale=0.1`` gives 15,000 customers, 150,000 orders and 600,000
lineitems); documents and embeddings scale too, 5,000 and 2,000 at 0.1,
with 500 of each at the smaller scales.

The shape follows the repository's TPC-H fixture at sf0.01, measured
with DuckDB (the generated tables at ``scale=0.01`` give the same figures
within sampling noise):

* every customer places orders, 10 on average (at most 25); an order
  holds 4 lineitems on average (0 to 13, 1.7 % none); a part is in 30;
* the corpus is 30 common words drawn uniformly (rank-frequency slope
  -0.18), documents of 10 to 99 words, so every word, ``a`` and
  ``spark`` included, is in 77-80 % of the documents;
* one document in twenty is a copy of another with the word ``dup``
  appended, the corpus's one rare word (5 % of the documents); that
  gives 25 pairs of 500 documents (24 generated) with a 3-shingle
  Jaccard of 0.5 or more, and no other pair reaches 0.2;
* embeddings are unit vectors of 64 dimensions with one of ten labels,
  weakly clustered: mean cosine 0.02 within a label, 0.0003 across.

Generation is deterministic; :func:`ensure_data` writes into a temporary
directory and renames it into place, so a half-written dataset is never
reused.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when the generated content changes, so cached datasets rebuild
VERSION = 2
#: the tables are the same for every benchmark seed; ``--seed`` drives
#: the op stream
DATA_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "hot", "large", "red", "small", "steel", "green", "dark"]
PART_NOUN = ["ring", "bolt", "gear", "pipe", "wire", "nut", "plate", "valve"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]

#: the corpus vocabulary, every word about equally frequent
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
#: appended to every near-duplicate document: the one rare word
DUP = "dup"
EMB_DIM = 64
EMB_CLUSTERS = 10
#: weight of a label's centre against the noise around it; 0.07 gives the
#: fixture's mean cosine within a label (0.024 generated, 0.021 measured)
CLUSTER_PULL = 0.07
START_1995 = np.datetime64("1995-01-01", "D")
DAYS_1995_2001 = int((np.datetime64("2001-08-01", "D") - START_1995)
                     .astype(int))


def table_sizes(scale: float) -> dict[str, int]:
    """Row counts per table at ``scale`` (floors keep tiny scales usable)."""
    def n(per_unit: int, floor: int) -> int:
        return max(floor, int(round(per_unit * scale)))
    return {"customer": n(150_000, 30), "supplier": n(10_000, 5),
            "part": n(200_000, 40), "orders": n(1_500_000, 300),
            "lineitem": n(6_000_000, 1_200), "events": n(1_000_000, 1_000),
            "users": n(20_000, 10), "documents": n(50_000, 500),
            "embeddings": n(20_000, 500)}


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(WORDS)
    texts = [" ".join(rng.choice(vocab, size=int(rng.integers(10, 100))))
             for _ in range(n)]
    for i in np.sort(rng.choice(n, size=n // 20, replace=False)):
        # near-duplicate: a copy of another document, marked
        j = int(rng.integers(0, n - 1))
        texts[i] = f"{texts[j + (j >= i)]} {DUP}"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[int(x)] for x in
                          rng.integers(0, len(LANGS), size=n)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centres = rng.normal(0.0, 1.0, size=(EMB_CLUSTERS, EMB_DIM))
    label = rng.integers(0, EMB_CLUSTERS, size=n)
    vecs = (CLUSTER_PULL * centres[label]
            + rng.normal(0.0, 1.0, size=(n, EMB_DIM)))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(label.astype(np.int32), pa.int32()),
    })


def _pick(rng: np.random.Generator, choices: list[str], n: int) -> pa.Array:
    return pa.array(np.array(choices)[rng.integers(0, len(choices), size=n)],
                    pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _dates(rng: np.random.Generator, n: int) -> pa.Array:
    days = START_1995 + rng.integers(0, DAYS_1995_2001, size=n)
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def generate(out_dir: str, scale: float) -> None:
    """Write every table under ``out_dir`` (created if missing)."""
    rng = np.random.default_rng(DATA_SEED)
    sz = table_sizes(scale)
    os.makedirs(out_dir, exist_ok=True)
    i64 = pa.int64()
    nc, ns, npart, no, nl = (sz["customer"], sz["supplier"], sz["part"],
                             sz["orders"], sz["lineitem"])
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string())}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(nc), i64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
            "c_mktsegment": _pick(rng, SEGMENTS, nc)}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(ns), i64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns))}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(npart), i64),
            "p_name": pa.array([f"{PART_ADJ[int(a)]} {PART_NOUN[int(b)]}"
                                for a, b in zip(rng.integers(0, 8, npart),
                                                rng.integers(0, 8, npart))]),
            "p_brand": pa.array([f"Brand#{int(b)}" for b in
                                 rng.integers(1, 26, npart)]),
            "p_type": _pick(rng, PART_TYPES, npart),
            "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2))}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(no), i64),
            "o_custkey": pa.array(rng.integers(0, nc, no), i64),
            "o_orderstatus": _pick(rng, ["O", "F", "P"], no),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
            "o_orderdate": _dates(rng, no),
            "o_orderpriority": _pick(rng, PRIORITIES, no)}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
            "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype(float)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 100000.0, nl)),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["O", "F"], nl),
            "l_shipdate": _dates(rng, nl)}),
    }
    ne = sz["events"]
    secs = np.sort(rng.uniform(0, 30 * 86400, ne))
    ts = (np.datetime64("2024-01-01T00:00:00", "us")
          + (secs * 1e6).astype("timedelta64[us]"))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, sz["users"], ne), i64),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": pa.array(_money(rng, 0.0, 200.0, ne)),
        "props": pa.array([f'{{"k": {int(k)}}}'
                           for k in rng.integers(0, 100, ne)])})
    tables["documents"] = _documents(rng, sz["documents"])
    tables["embeddings"] = _embeddings(rng, sz["embeddings"])
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


def ensure_data(root: str, scale: float) -> str:
    """Directory holding the dataset for ``scale``, generated on first use."""
    out = os.path.join(root, f"sf{scale:g}-v{VERSION}")
    if os.path.isdir(out):
        return out
    staging = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    generate(staging, scale)
    try:
        os.rename(staging, out)
    except OSError:
        # another run published the same dataset first; theirs is identical
        shutil.rmtree(staging, ignore_errors=True)
    return out
