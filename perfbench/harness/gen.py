"""Seeded input generation.

Writes the ten base tables the engine's testdata mapping reads
(``sources.testdata.BASE_TABLES``) with the same column names and
parquet types as the reference testdata (TESTDATA.md), so every registry oracle runs
unchanged over a generated directory. Everything is a pure function of
its seed: the same seed writes byte-identical inputs.

The *base* tables use a fixed seed (``BASE_SEED``) so that, as with the
fixed read-only testdata, the data shape and size never change between
runs; the run seed drives only what each workload derives from it (the
drop split and order, the near-duplicate injection).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20240101
#: first order day and event day, as in the reference testdata
START = "1995-01-01"
EVENT_START = "2024-01-01"
EVENT_DAYS = 30

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
SEGMENTS = ("FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD")
P_TYPES = ("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO")
P_WORDS = (
    "anvil blue bolt cold gear gizmo hot large new old plate red ring rod "
    "small widget"
).split()
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EMB_DIM = 64


@dataclass(frozen=True)
class Scale:
    """Row counts of one generated dataset. ``days`` is the order-date
    span from ``START`` (ship dates run 95 days longer): the sales sink
    writes one file per order day and the inventory sink one per ship
    month, so it sets the processed zone's file count. Events span 30
    days, as in the reference testdata."""

    customers: int
    parts: int
    suppliers: int
    orders: int
    lineitems: int
    events: int
    days: int
    documents: int
    embeddings: int


def _day_ts(rng, n: int, start: str, days: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, days, n).astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def _write(dst: str, name: str, cols: dict) -> int:
    path = os.path.join(dst, f"{name}.parquet")
    pq.write_table(pa.table(cols), path)
    return os.path.getsize(path)


def _doc_texts(rng, n: int) -> list[str]:
    lens = rng.integers(8, 80, n)
    return [" ".join(rng.choice(WORDS, int(k))) for k in lens]


def _embeddings(rng, n: int) -> tuple[np.ndarray, np.ndarray]:
    # nearly isotropic, as in the reference testdata: a label's mean
    # direction explains only a few percent of each vector
    centers = rng.normal(size=(10, EMB_DIM)) / 16.0
    labels = rng.integers(0, 10, n).astype(np.int32)
    x = centers[labels] + rng.normal(size=(n, EMB_DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype(np.float32), labels


def write_base(dst: str, scale: Scale, seed: int = BASE_SEED) -> dict:
    """Write all ten base tables into ``dst``; return {table: (rows, bytes)}."""
    os.makedirs(dst, exist_ok=True)
    rng = np.random.default_rng(seed)
    s = scale
    sizes: dict[str, tuple[int, int]] = {}

    def put(name, cols):
        rows = len(next(iter(cols.values())))
        sizes[name] = (rows, _write(dst, name, cols))

    put("region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    put("customer", {
        "c_custkey": np.arange(s.customers, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(s.customers)],
        "c_nationkey": pa.array(rng.integers(0, 25, s.customers).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, s.customers), 2),
        "c_mktsegment": rng.choice(SEGMENTS, s.customers).tolist(),
    })
    put("supplier", {
        "s_suppkey": np.arange(s.suppliers, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s.suppliers)],
        "s_nationkey": pa.array(rng.integers(0, 25, s.suppliers).astype(np.int32)),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, s.suppliers), 2),
    })
    put("part", {
        "p_partkey": np.arange(s.parts, dtype=np.int64),
        "p_name": [
            f"{a} {b}"
            for a, b in zip(rng.choice(P_WORDS, s.parts), rng.choice(P_WORDS, s.parts))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, s.parts)],
        "p_type": rng.choice(P_TYPES, s.parts).tolist(),
        "p_size": pa.array(rng.integers(1, 51, s.parts).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(s.parts) % 1000) / 10.0, 1),
    })
    put("orders", {
        "o_orderkey": np.arange(s.orders, dtype=np.int64),
        "o_custkey": rng.integers(0, s.customers, s.orders).astype(np.int64),
        "o_orderstatus": rng.choice(("F", "O", "P"), s.orders).tolist(),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, s.orders), 2),
        "o_orderdate": _day_ts(rng, s.orders, START, s.days),
        "o_orderpriority": rng.choice(PRIORITIES, s.orders).tolist(),
    })
    n = s.lineitems
    put("lineitem", {
        "l_orderkey": rng.integers(0, s.orders, n).astype(np.int64),
        "l_partkey": rng.integers(0, s.parts, n).astype(np.int64),
        "l_suppkey": rng.integers(0, s.suppliers, n).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), n).tolist(),
        "l_linestatus": rng.choice(("F", "O"), n).tolist(),
        "l_shipdate": _day_ts(rng, n, START, s.days + 95),
    })
    e = s.events
    ts = np.datetime64(EVENT_START, "us") + np.sort(
        rng.integers(0, EVENT_DAYS * 86400 * 10**6, e)
    ).astype("timedelta64[us]")
    put("events", {
        "event_id": np.arange(e, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, s.customers, e).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, e).tolist(),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    write_corpus(dst, s.documents, s.embeddings, rng, sizes)
    return sizes


def write_corpus(
    dst: str, n_docs: int, n_emb: int, rng, sizes: dict,
    texts: list[str] | None = None,
) -> None:
    """Write ``documents`` (given or random ``texts``) and ``embeddings``."""
    texts = texts if texts is not None else _doc_texts(rng, n_docs)
    nd = len(texts)
    docs = {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    sizes["documents"] = (nd, _write(dst, "documents", docs))
    vecs, labels = _embeddings(rng, n_emb)
    emb = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    }
    sizes["embeddings"] = (n_emb, _write(dst, "embeddings", emb))


def near_duplicate_corpus(
    n_docs: int, dup_rate: float, seed: int
) -> tuple[list[str], dict]:
    """Base documents (fixed seed) plus seeded near-duplicate copies.

    ``dup_rate`` of the base documents get one copy appended to the
    corpus: a third verbatim (exact duplicates), the rest with two
    words substituted (near duplicates with Jaccard well above the
    MinHash-LSH threshold). The copy targets and edits come from
    ``seed``; the returned dict records the injected ground truth.
    """
    base = _doc_texts(np.random.default_rng(BASE_SEED + 1), n_docs)
    rng = np.random.default_rng(seed)
    n_dup = int(round(n_docs * dup_rate))
    targets = sorted(rng.choice(n_docs, n_dup, replace=False).tolist())
    texts = list(base)
    exact, near = [], []
    for i, t in enumerate(targets):
        words = base[t].split()
        if i % 3 == 0:
            exact.append((t, len(texts)))
        else:
            for pos in rng.choice(len(words), 2, replace=False):
                words[pos] = WORDS[int(rng.integers(len(WORDS)))]
            near.append((t, len(texts)))
        texts.append(" ".join(words))
    return texts, {"exact_pairs": exact, "near_pairs": near}


#: drop source → (the engine's mapped view it carries, the slice key).
#: Keys make the split slice-complete: an order and its items share a
#: slice, as do both inventory snapshots of a (product, day).
DROP_SOURCES = {
    "orders": ("b_orders", "order_id"),
    "order_items": ("b_order_items", "order_id"),
    "feedback": ("b_feedback", "feedback_id"),
    "marketing": ("b_marketing", "campaign_id || '|' || CAST(date AS VARCHAR)"),
    "inventory_old": ("b_inventory_old", "product_id || '|' || CAST(date AS VARCHAR)"),
    "inventory_new": ("b_inventory_new", "product_id || '|' || CAST(date AS VARCHAR)"),
}


def write_drops(src_dir: str, dst_root: str, slices: int, salt: str) -> None:
    """Split every drop source into ``slices`` file drops,
    ``dst_root/<source>/_s=<i>/``, in the engine's mapped schema.

    An upstream producer writes the drops, not the engine: DuckDB runs
    the engine's own mapping SQL (``testdata.MAPPING``, written to run
    verbatim on both engines) over the generated tables. Events'
    ``ts`` is read as a UTC timestamp, as ``testdata.register_base``
    normalizes it for Spark. ``salt`` (from the run seed) drives which
    slice each key lands in.
    """
    import duckdb

    from blinkit_etl_pipeline_spark.sources import testdata

    os.makedirs(dst_root, exist_ok=True)
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        for t in ("customer", "part", "orders", "lineitem", "events"):
            cols = "* REPLACE (ts::TIMESTAMPTZ AS ts)" if t == "events" else "*"
            con.execute(
                f"CREATE VIEW {t} AS SELECT {cols} "
                f"FROM read_parquet('{src_dir}/{t}.parquet')"
            )
        for source, (view, key) in DROP_SOURCES.items():
            con.execute(
                f"COPY ({testdata.oracle_with_clause(view)} "
                f"SELECT *, CAST(hash('{salt}' || ({key})) % {slices} AS INTEGER) AS _s "
                f"FROM {view}) TO '{dst_root}/{source}' "
                "(FORMAT PARQUET, PARTITION_BY (_s))"
            )
    finally:
        con.close()
