"""Seeded input generators. The same seed always yields the same bytes.

Transfer inputs are gzip ndjson event files; each generator returns the
expectation the output checkers compare against (ids and values that
must land, input bytes), computed here and never by the engine.
Catalog inputs are small parquet tables with the schemas the registered
queries read (TPC-H-like star schema, events, documents, embeddings).
"""

from __future__ import annotations

import gzip
import json
import os
import zlib
from dataclasses import dataclass, field

import numpy as np

EVENT_TYPES = ("click", "view", "buy", "debug")
EVENT_TYPE_P = (0.4, 0.3, 0.1, 0.2)
WORDS = (
    "alpha beta gamma delta table scan merge join sort window hash order "
    "key part small fast cold warm index shard ledger window river stone "
    "cloud light dark green blue red market value price query plan stage"
).split()


def kv_value(etype: str, user: int, msg: str) -> str:
    """The transformer's Value column, recomputed independently."""
    return f"{etype}/{user}/{msg}"


def value_digest(values) -> int:
    """Order-independent digest of a collection of Value strings."""
    return sum(zlib.crc32(v.encode()) for v in values) & 0xFFFFFFFFFFFFFFFF


@dataclass
class Expected:
    """What a set of generated event files must produce downstream."""

    files: list[str] = field(default_factory=list)
    ids: list[int] = field(default_factory=list)
    digest: int = 0  # value_digest of the transformer's Value of every record
    in_bytes: int = 0

    def merge(self, other: "Expected") -> None:
        self.files += other.files
        self.ids += other.ids
        self.digest = (self.digest + other.digest) & 0xFFFFFFFFFFFFFFFF
        self.in_bytes += other.in_bytes


def write_event_files(
    rng: np.random.Generator, paths: list[str], records_per_file: int, first_id: int
) -> Expected:
    """Write one gzip ndjson file per path with consecutive ids from
    ``first_id``; every record is expected to land."""
    exp = Expected()
    next_id = first_id
    for path in paths:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        n = records_per_file
        types = rng.choice(len(EVENT_TYPES), size=n, p=EVENT_TYPE_P)
        users = rng.integers(1, 5000, size=n)
        vals = np.round(rng.uniform(0, 1000, size=n), 2)
        word_ix = rng.integers(0, len(WORDS), size=(n, 6))
        lines = []
        values = []
        for i in range(n):
            etype = EVENT_TYPES[types[i]]
            msg = " ".join(WORDS[j] for j in word_ix[i])
            user = int(users[i])
            lines.append(
                json.dumps(
                    {"id": next_id, "type": etype, "user": user,
                     "value": float(vals[i]), "msg": msg},
                    separators=(",", ":"),
                )
            )
            exp.ids.append(next_id)
            values.append(kv_value(etype, user, msg))
            next_id += 1
        data = gzip.compress(("\n".join(lines) + "\n").encode(), compresslevel=6, mtime=0)
        with open(path, "wb") as fh:
            fh.write(data)
        exp.files.append(path)
        exp.in_bytes += len(data)
        exp.digest = (exp.digest + value_digest(values)) & 0xFFFFFFFFFFFFFFFF
    return exp


# ------------------------------------------------------------ catalog --

NATIONS = 25
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "STANDARD", "PROMO", "LARGE", "SMALL")
PART_ADJ = ("cold", "warm", "red", "blue", "green", "tiny", "huge")
PART_NOUN = ("widget", "gadget", "bolt", "gear", "valve")
EVENT_KINDS = ("click", "view", "purchase", "error", "login")
LANGS = ("en", "en", "fr", "es", "zh", "de")


def write_catalog_tables(rng: np.random.Generator, out_dir: str) -> dict:
    """Write the ten catalog tables as single parquet files under
    ``out_dir``, about the size of the smallest reference data set
    (6 000 lineitem rows); returns {table: rows}."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    n_cust = 150
    n_supp = 10
    n_part = 200
    n_ord = 1500
    n_ev = 1000
    n_doc = 500
    n_vec = 500
    epoch = np.datetime64("1992-01-01", "us")
    day_us = 86_400_000_000

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": list(REGIONS),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(NATIONS, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(NATIONS)],
        "n_regionkey": pa.array((np.arange(NATIONS) % 5).astype(np.int32)),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, NATIONS, n_cust).astype(np.int32)),
        "c_acctbal": money(-999, 9999, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, NATIONS, n_supp).astype(np.int32)),
        "s_acctbal": money(-999, 9999, n_supp),
    })
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, len(PART_ADJ), n_part),
                            rng.integers(0, len(PART_NOUN), n_part))
        ],
        "p_brand": [f"Brand#{a}{b}" for a, b in zip(rng.integers(1, 6, n_part),
                                                    rng.integers(1, 6, n_part))],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 5, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900 + rng.integers(0, 1100, n_part).astype(float), 2),
    })
    odate = epoch + rng.integers(0, 2400, n_ord) * np.timedelta64(day_us, "us")
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000, 400000, n_ord),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    lines_per = rng.integers(1, 8, n_ord)
    l_ok = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per)
    l_ln = np.concatenate([np.arange(1, k + 1) for k in lines_per]).astype(np.int32)
    n_li = len(l_ok)
    ship = odate[l_ok] + rng.integers(1, 122, n_li) * np.timedelta64(day_us, "us")
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_ok),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(l_ln),
        "l_quantity": rng.integers(1, 51, n_li).astype(float),
        "l_extendedprice": money(900, 100000, n_li),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })
    ev_ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 7 * day_us, n_ev)
    ) * np.timedelta64(1, "us")
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        # nanosecond storage, like the reference data sets
        "ts": pa.array(ev_ts.astype("datetime64[ns]"), pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, 100, n_ev).astype(np.int64)),
        "event_type": [EVENT_KINDS[i] for i in rng.integers(0, len(EVENT_KINDS), n_ev)],
        "value": money(0, 500, n_ev),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for i in range(n_doc):
        if i >= 40 and i % 10 == 0:
            texts.append(texts[i - 40])  # exact duplicates for the dedup rows
            continue
        n_words = int(rng.integers(8, 60))
        texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n_words)) + " ")
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    dim = 64
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0, 1, (10, dim))
    vecs = centers[labels] + rng.normal(0, 0.5, (n_vec, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    for name, tb in tables.items():
        pq.write_table(tb, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tb.num_rows for name, tb in tables.items()}
