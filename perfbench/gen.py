"""Seeded corpus generator for the benchmark.

Every table keeps the name and schema of the engine's reference test data
(one parquet file per table, ``<dir>/<name>.parquet``).  The laws follow
``graft.ScaleGen``: embeddings are i.i.d. Gaussian 64-d vectors normalised
onto the unit sphere, and a scaled document set is ``copies`` copies of a
base set where every copy after the first carries the suffix
``" tag<doc_id> tag<copy>"``.

The vector corpus, the documents and the query users come from the
``--seed`` argument.  The TPC-H tables (region, nation, customer, supplier,
part, orders, lineitem) are fixed inputs: they come from ``TPCH_SEED``
whatever the run's seed, so only the permission-aware corpus varies.
"""

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
N_USERS = 15_000
BASE_DOCS = 5_000
TPCH_SEED = 1_000_003
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
# Parquet row groups of 32k rows let a 200k-vector scan split across
# four tasks; a smaller table is one row group.
ROW_GROUP = 32_768


def unit_vectors(rng, n):
    x = rng.standard_normal((n, DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype(np.float32)


def embeddings_table(vecs, rng):
    n = len(vecs)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.reshape(-1)), DIM)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })


def documents_table(rng, n_base, copies):
    """``copies`` x ``n_base`` docs; copy c > 0 of base doc i is doc
    ``c * n_base + i`` with a per-copy tag suffix (ScaleGen's law)."""
    n_words = rng.integers(8, 100, n_base)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(n_words.sum()))]
    ends = np.cumsum(n_words)
    base = [" ".join(words[e - w:e]) for e, w in zip(ends, n_words)]
    lang = np.array(LANGS)[rng.choice(len(LANGS), n_base, p=LANG_P)]
    texts = list(base)
    for c in range(1, copies):
        texts.extend(f"{t} tag{c * n_base + i} tag{c}" for i, t in enumerate(base))
    n = n_base * copies
    idx = np.arange(n) % n_base
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(lang[idx]),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_base)])
                  .take(pa.array(idx)),
        "n_chars": pa.array(np.fromiter(map(len, texts), np.int64, n)),
    })


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return pa.array((lo + rng.integers(0, span, n)).astype("datetime64[us]"))


def tpch_tables(scale):
    """TPC-H-shaped tables at ``scale`` (0.1 gives 15k customers, 1k
    suppliers, 20k parts, 150k orders, 600k lineitems)."""
    rng = np.random.default_rng(TPCH_SEED)
    n_c, n_s, n_p = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_o, n_l = int(1_500_000 * scale), int(6_000_000 * scale)
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    money = lambda n, lo, hi: np.round(rng.uniform(lo, hi, n), 2)
    i32 = lambda a: pa.array(a.astype(np.int32))
    i64 = lambda n: pa.array(np.arange(n, dtype=np.int64))
    pick = lambda vals, n: pa.array(np.array(vals)[rng.integers(0, len(vals), n)])
    return {
        "region": pa.table({"r_regionkey": i32(np.arange(5)), "r_name": pa.array(regions)}),
        "nation": pa.table({"n_nationkey": i32(np.arange(25)),
                            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                            "n_regionkey": i32(np.arange(25) % 5)}),
        "customer": pa.table({
            "c_custkey": i64(n_c),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_c)]),
            "c_nationkey": i32(rng.integers(0, 25, n_c)),
            "c_acctbal": pa.array(money(n_c, -999.99, 9999.99)),
            "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], n_c)}),
        "supplier": pa.table({
            "s_suppkey": i64(n_s),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_s)]),
            "s_nationkey": i32(rng.integers(0, 25, n_s)),
            "s_acctbal": pa.array(money(n_s, -999.99, 9999.99))}),
        "part": pa.table({
            "p_partkey": i64(n_p),
            "p_name": pa.array([f"{a} {b}" for a, b in zip(
                np.array(["large", "hot", "blue", "small", "red"])[rng.integers(0, 5, n_p)],
                np.array(["ring", "bolt", "nut", "gear", "pipe"])[rng.integers(0, 5, n_p)])]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_p)]),
            "p_type": pick(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY",
                            "PROMO"], n_p),
            "p_size": i32(rng.integers(1, 51, n_p)),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_p) % 1000) * 0.1, 2))}),
        "orders": pa.table({
            "o_orderkey": i64(n_o),
            "o_custkey": pa.array(rng.integers(0, n_c, n_o, dtype=np.int64)),
            "o_orderstatus": pick(["F", "O", "P"], n_o),
            "o_totalprice": pa.array(money(n_o, 1000, 450000)),
            "o_orderdate": _days(rng, n_o, "1992-01-01", "2002-01-01"),
            "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], n_o)}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_o, n_l, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_p, n_l, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_s, n_l, dtype=np.int64)),
            "l_linenumber": i32(rng.integers(1, 8, n_l)),
            "l_quantity": pa.array(rng.integers(1, 51, n_l).astype(np.float64)),
            "l_extendedprice": pa.array(money(n_l, 900, 105000)),
            "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0),
            "l_returnflag": pick(["A", "N", "R"], n_l),
            "l_linestatus": pick(["F", "O"], n_l),
            "l_shipdate": _days(rng, n_l, "1992-01-01", "2002-01-01")}),
    }


def write_tables(out_dir, tables):
    """Write each table to ``<out_dir>/<name>.parquet``; returns
    ``{name: {"rows": n, "sha256": digest-of-file-bytes}}``."""
    os.makedirs(out_dir, exist_ok=True)
    info = {}
    for name, t in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path, row_group_size=ROW_GROUP)
        with open(path, "rb") as f:
            info[name] = {"rows": t.num_rows, "sha256": hashlib.sha256(f.read()).hexdigest()[:16]}
    return info


def corpus(out_dir, seed, n_vecs, base_docs, doc_copies, tpch_scale, tpch_keep):
    """Write one engine input directory; returns (vectors, table info).

    ``tpch_keep`` names the TPC-H tables the workload reads (customer
    always: its keys are the users).  The vectors are returned so the
    caller can compute exact answers from its own copy, independently
    of the engine.
    """
    rng = np.random.default_rng(seed)
    vecs = unit_vectors(rng, n_vecs)
    tables = {"embeddings": embeddings_table(vecs, rng),
              "documents": documents_table(rng, base_docs, doc_copies)}
    tables.update((k, v) for k, v in tpch_tables(tpch_scale).items()
                  if k in tpch_keep or k == "customer")
    return vecs, write_tables(out_dir, tables)


def fingerprint(info):
    h = hashlib.sha256()
    for name in sorted(info):
        h.update(f"{name}:{info[name]['rows']}:{info[name]['sha256']};".encode())
    return h.hexdigest()[:16]

