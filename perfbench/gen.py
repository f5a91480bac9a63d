"""Seeded synthetic inputs for the benchmark.

Writes the ten fixture tables the engine's catalog reads (``region`` …
``embeddings``, one parquet file each) with the schemas and value
distributions of the TPC-H-ish test fixtures, plus the scan lineitem:
``SCAN_REPLICAS`` key-shifted replicas of the base lineitem in a
seeded row order. Pure numpy + pyarrow, no Spark, so generating
inputs never touches the engine under test.

The ``documents`` table is generated from a fixed internal seed, not
the run seed: the two near-dedup slots are verified against recorded
output digests (their DuckDB oracles take minutes), which only holds
for one fixed corpus. Every other table follows the run seed.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Row counts of one scale unit (the sf0.01 fixture shape). ``scale``
# multiplies the scale-dependent tables; documents/embeddings are
# fixed-size corpora: 2,000 embeddings as in the sf0.1 fixture, and the
# 500 documents of the sf0.01 fixture (the sf0.1 fixture's 5,000 make a
# cold minhash build alone take longer than a whole run may). As in
# the sf0.1 corpus, one band bucket holds about half the documents, so
# the band self-join takes its skew-salting path.
BASE_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
}
DOCS = 500
EMBEDDINGS = 2000
EMBED_DIM = 64
SCAN_REPLICAS = 40
SCAN_ROW_GROUP = 128 * 1024
CORPUS_SEED = 20201  # fixed: recorded dedup digests depend on it

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _ts(base: datetime.datetime, micros: np.ndarray) -> pa.Array:
    epoch = int((base - datetime.datetime(1970, 1, 1)).total_seconds()) * 10**6
    return pa.array(epoch + micros.astype(np.int64), pa.timestamp("us"))


def _days(rng, n, start: datetime.datetime, span_days: int) -> pa.Array:
    return _ts(start, rng.integers(0, span_days, n) * 86_400 * 10**6)


def _cents(rng, n, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _pick(rng, options, n, p=None) -> pa.Array:
    return pa.array(np.asarray(options, dtype=object)[rng.choice(len(options), n, p=p)])


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def lineitem_columns(rng, n: int, n_orders: int, n_parts: int, n_supp: int) -> dict:
    qty = rng.integers(1, 51, n).astype(np.float64)
    return {
        "l_orderkey": pa.array(rng.integers(0, n_orders, n)),
        "l_partkey": pa.array(rng.integers(0, n_parts, n)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * _cents(rng, n, 900.0, 2100.0), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, n, datetime.datetime(1995, 1, 2), 2498),
    }


def _documents(out: str) -> None:
    rng = np.random.default_rng(CORPUS_SEED)
    texts: list[str] = []
    for i in range(DOCS):
        if i > 0 and rng.random() < 0.05:
            # planted near-duplicate: an earlier document plus a marker
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), k)]))
    _write(
        out,
        "documents",
        {
            "doc_id": pa.array(np.arange(DOCS, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, DOCS, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(DOCS)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        },
    )


def _embeddings(rng, out: str) -> None:
    labels = rng.integers(0, 10, EMBEDDINGS)
    centers = rng.normal(0.0, 0.018, (10, EMBED_DIM))
    v = centers[labels] + rng.normal(0.0, 0.125, (EMBEDDINGS, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(
        out,
        "embeddings",
        {
            "vec_id": pa.array(np.arange(EMBEDDINGS, dtype=np.int64)),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        },
    )


def write_base(out: str, seed: int, scale: float = 1.0) -> None:
    """The ten fixture tables at ``scale`` × the sf0.01 row counts."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {k: max(int(v * scale), 10) for k, v in BASE_ROWS.items()}
    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    c = n["customer"]
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
        "c_name": _names("Customer", c),
        "c_nationkey": pa.array(rng.integers(0, 25, c).astype(np.int32)),
        "c_acctbal": pa.array(_cents(rng, c, -999.99, 9999.99)),
        "c_mktsegment": _pick(rng, SEGMENTS, c),
    })
    s = n["supplier"]
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(s, dtype=np.int64)),
        "s_name": _names("Supplier", s),
        "s_nationkey": pa.array(rng.integers(0, 25, s).astype(np.int32)),
        "s_acctbal": pa.array(_cents(rng, s, -999.99, 9999.99)),
    })
    p = n["part"]
    adj, noun = rng.integers(0, len(P_ADJ), p), rng.integers(0, len(P_NOUN), p)
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(p, dtype=np.int64)),
        "p_name": pa.array([f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, p)]),
        "p_type": _pick(rng, P_TYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(p) % 1000) / 10.0, 1)),
    })
    o = n["orders"]
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, c, o)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], o),
        "o_totalprice": pa.array(_cents(rng, o, 1000.0, 500000.0)),
        "o_orderdate": _days(rng, o, datetime.datetime(1995, 1, 1), 2404),
        "o_orderpriority": _pick(rng, PRIORITIES, o),
    })
    _write(out, "lineitem", lineitem_columns(rng, n["lineitem"], o, p, s))
    e = n["events"]
    micros = np.sort(rng.integers(0, 30 * 86_400 * 10**6, e))
    _write(out, "events", {
        "event_id": pa.array(np.arange(e, dtype=np.int64)),
        "ts": _ts(datetime.datetime(2024, 1, 1), micros),
        "user_id": pa.array(rng.integers(0, max(e // 66, 2), e)),
        "event_type": _pick(rng, EVENT_TYPES, e),
        "value": pa.array(_cents(rng, e, 0.01, 490.0)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
    })
    _embeddings(rng, out)
    _documents(out)


def write_scan_lineitem(base: str, out: str, seed: int) -> int:
    """``SCAN_REPLICAS`` replicas of the base lineitem with the order
    and supplier keys shifted per replica (the ``_build_sf1`` shape of
    the scale-slope test) and a seeded row order; the seed also draws
    each replica's key offset. Returns the row count written."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed + 1)
    li = pq.read_table(os.path.join(base, "lineitem.parquet"))
    ok_span = pc.max(li["l_orderkey"]).as_py() + 1
    sk_span = pc.max(li["l_suppkey"]).as_py() + 1
    slots = rng.permutation(SCAN_REPLICAS * 4)[:SCAN_REPLICAS]
    parts = []
    for slot in slots:
        parts.append(
            li.set_column(0, "l_orderkey", pc.add(li["l_orderkey"], int(slot) * ok_span))
            .set_column(2, "l_suppkey", pc.add(li["l_suppkey"], int(slot) * sk_span))
        )
    big = pa.concat_tables(parts)
    big = big.take(pa.array(rng.permutation(big.num_rows)))
    # the non-lineitem tables are shared with the base directory
    for name in os.listdir(base):
        if name != "lineitem.parquet" and not os.path.exists(os.path.join(out, name)):
            os.symlink(os.path.join(base, name), os.path.join(out, name))
    # several row groups, so the scan splits across every core
    pq.write_table(big, os.path.join(out, "lineitem.parquet"), row_group_size=SCAN_ROW_GROUP)
    return big.num_rows
