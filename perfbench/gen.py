"""Seeded input generators for the benchmark.

Everything the library sees comes from here and from ``--seed``: the
TPC-H-shaped warehouse tables (same schemas and value domains as the
engine's test tables), the score delta batches of the nightly refresh,
the curation corpus, and the dashboard round order. The same seed gives
byte-identical inputs; each table draws from its own stream, so resizing
one table does not shift another.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "en", "en", "zh", "de", "fr", "es")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("small", "red", "blue", "old", "new", "hot", "cold", "large")
PART_NOUN = ("ring", "widget", "bolt", "anvil", "plate", "gear", "rod", "gizmo")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

_STREAMS = {
    "supplier": 1, "customer": 2, "part": 3, "orders": 4, "lineitem": 5,
    "events": 6, "documents": 7, "deltas": 8, "corpus": 9, "order": 10,
    "embeddings": 11,
}
_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = (dt.date(1995, 1, 1) - dt.date(1970, 1, 1)).days * _US_PER_DAY
# Score deltas are stamped after every base score (l_shipdate < 2002).
DELTA_EPOCH = (dt.date(2003, 1, 1) - dt.date(1970, 1, 1)).days * _US_PER_DAY


def rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, _STREAMS[stream]])


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), type=pa.timestamp("us"))


def _words(r: np.random.Generator, n: int) -> str:
    return " ".join(WORDS[i] for i in r.integers(0, len(WORDS), n))


def warehouse_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The engine's ten test tables at scale factor ``sf``
    (sf0.01 = 60,000 lineitem rows)."""
    n_cust, n_ord, n_li = int(150_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_part, n_supp, n_ev = int(200_000 * sf), max(int(10_000 * sf), 25), int(1_000_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    r = rng(seed, "supplier")
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2),
    })
    r = rng(seed, "customer")
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n_cust)],
    })
    r = rng(seed, "part")
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    r = rng(seed, "orders")
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": r.integers(0, n_cust, n_ord),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, n_ord)],
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(_EPOCH_1995 + r.integers(0, 2400, n_ord) * _US_PER_DAY),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, n_ord)],
    })
    r = rng(seed, "lineitem")
    # Unique (orderkey, linenumber): line i of order o, 1..7 lines each.
    lines = r.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype="int64"), lines)[:n_li]
    lnum = (np.arange(okey.size) - np.repeat(np.cumsum(lines) - lines, lines)[:n_li] + 1)
    n_li = okey.size
    qty = r.integers(1, 51, n_li).astype("float64")
    rf = r.integers(0, 3, n_li)
    t["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": r.integers(0, n_part, n_li),
        "l_suppkey": r.integers(0, n_supp, n_li),
        "l_linenumber": lnum.astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rf],
        "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, n_li)],
        "l_shipdate": _ts(_EPOCH_1995 + r.integers(1, 2500, n_li) * _US_PER_DAY),
    })
    r = rng(seed, "events")
    start = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days * _US_PER_DAY
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(start + np.sort(r.integers(0, 30 * _US_PER_DAY, n_ev))),
        "user_id": r.integers(0, max(n_ev // 66, 10), n_ev),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(40.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {i}}}' for i in r.integers(0, 100, n_ev)],
    })
    t["documents"] = corpus_table(seed, 500, stream="documents").drop(["url"])
    r = rng(seed, "embeddings")
    labels = r.integers(0, 10, 500)
    centers = r.normal(size=(10, 64))
    vecs = (centers[labels] + 0.3 * r.normal(size=(500, 64))).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": np.arange(500, dtype="int64"),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype("int32"),
    })
    return t


def corpus_table(seed: int, n_docs: int, stream: str = "corpus") -> pa.Table:
    """A crawl of ``n_docs`` documents in the ``documents`` schema plus a
    ``url``. One in ten is an exact copy of an earlier document, one in
    ten a near copy (a few words changed), and one in eight a re-fetch
    of an earlier URL with tracking parameters or another scheme, so
    every dedup stage of the curation chain has work."""
    r = rng(seed, stream)
    texts: list[str] = []
    urls: list[str] = []
    sources = r.integers(0, 20, n_docs)
    for i in range(n_docs):
        kind = r.random()
        if i > 10 and kind < 0.10:
            texts.append(texts[int(r.integers(0, i))])
        elif i > 10 and kind < 0.20:
            words = texts[int(r.integers(0, i))].split()
            for j in r.integers(0, len(words), max(1, len(words) // 25)):
                words[j] = WORDS[int(r.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
        else:
            texts.append(_words(r, int(r.integers(8, 90))))
        if i > 10 and r.random() < 0.125:
            base = urls[int(r.integers(0, i))].split("?")[0]
            variant = int(r.integers(0, 3))
            urls.append(
                base + "?utm_source=crawl" if variant == 0
                else base.replace("https://", "http://") if variant == 1
                else base + "#top"
            )
        else:
            urls.append(f"https://src{sources[i]}.example.com/doc/{i}")
    return pa.table({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": [LANGS[k] for k in r.integers(0, len(LANGS), n_docs)],
        "source": [f"src{s}" for s in sources],
        "n_chars": np.array([len(x) for x in texts], dtype="int64"),
        "url": urls,
    })


def score_deltas(
    seed: int, n_batches: int, rows: int, n_students: int, n_supp: int,
    first_score_id: int,
) -> list[pa.Table]:
    """``n_batches`` batches of new score rows in the ``scores`` schema
    of ``reference_etl.synthetic_scores``. Every batch is stamped after
    the previous one (and after every base score), so each lands past
    the view's watermark."""
    r = rng(seed, "deltas")
    out = []
    for b in range(n_batches):
        sid = first_score_id + b * rows + np.arange(rows, dtype="int64")
        supp = r.integers(0, n_supp, rows)
        direct = r.random(rows) < 0.34
        day0 = DELTA_EPOCH + b * _US_PER_DAY
        out.append(pa.table({
            "scoreId": sid,
            "studentId": r.integers(0, n_students, rows),
            "evaluationId": [
                f"su{s % 25}" if d else f"cu{s}" for s, d in zip(supp, direct)
            ],
            "score": r.integers(1, 51, rows).astype("float64"),
            "scorerId": supp.astype("int64"),
            "markedAt": _ts(day0 + np.sort(r.integers(0, _US_PER_DAY, rows))),
            "structurePath": [
                f"#st{s % 25}#p{p}" for s, p in zip(supp, r.integers(0, 3, rows))
            ],
            "description": [f"d{v % 7}" for v in sid],
        }))
    return out


def round_orders(seed: int, names: list[str], n_rounds: int) -> list[list[str]]:
    """A seed-shuffled order of ``names`` for every round."""
    r = random.Random(seed * 1_000_003 + _STREAMS["order"])
    out = []
    for _ in range(n_rounds):
        order = list(names)
        r.shuffle(order)
        out.append(order)
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One single-row-group parquet file per table, like the driver's."""
    for name, table in tables.items():
        pq.write_table(table, f"{out_dir}/{name}.parquet", row_group_size=1 << 30)


def table_digest(table: pa.Table) -> str:
    """Content hash of a table, for determinism checks."""
    h = hashlib.sha256()
    for col in table.columns:
        h.update(str(col.to_pylist()).encode())
    return h.hexdigest()[:16]
