"""Seeded inputs: broker records, Zipf-skewed keys and the analytics tables.

Every input is a pure function of the run's ``--seed`` (plus a generator
name), so two runs with the same seed send the same record stream and
query the same tables.
"""

from __future__ import annotations

import base64
import bisect
import itertools
import os
import random

RECORD_BYTES = 1024
N_KEYS = 1000
# Zipf exponent of the key draw: an assumption, not measured traffic
# (the reference benchmark in BASELINE.md says nothing of key skew)
ZIPF_S = 1.0
BUCKETS = 12  # the broker's default geometry: 3 brokers x 4 ranges
SF = 0.1  # scale of the analytics tables


class RecordSource:
    """One generator's deterministic record stream.

    Each record is a 1 KiB JSON object carrying the generator id ``g``,
    a per-generator sequence number ``s``, the creation time ``t``
    (epoch microseconds, stamped when the record is built), its key
    ``k`` and seeded base64 filler ``d``.
    """

    def __init__(self, seed: int, gen: str) -> None:
        self.gen = gen
        self.rng = random.Random(f"{seed}:{gen}")
        self.seq = 0
        # Zipf over ranks; key-000 is the hottest. The rank order is
        # fixed, so every seed loads the buckets with the same skew
        self.keys = [f"key-{i:03d}" for i in range(N_KEYS)]
        self._cum = list(
            itertools.accumulate(1.0 / (r**ZIPF_S) for r in range(1, N_KEYS + 1))
        )

    def key(self) -> str:
        x = self.rng.random() * self._cum[-1]
        return self.keys[bisect.bisect_left(self._cum, x)]

    def record(self, key: str, created_us: int) -> str:
        head = (
            f'{{"g":"{self.gen}","s":{self.seq},"t":{created_us},'
            f'"k":"{key}","d":"'
        )
        n = RECORD_BYTES - len(head) - 2
        filler = base64.b64encode(self.rng.randbytes(n * 3 // 4 + 3))[:n]
        self.seq += 1
        return head + filler.decode() + '"}'


# ---------------------------------------------------------------------
# Analytics tables: the schema of the repository's sf tables, generated
# from the seed (sizes scale with SF; sf0.1 = 600k lineitem rows).
# ---------------------------------------------------------------------
_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def write_tables(out_dir: str, seed: int) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def money(lo: float, hi: float, n: int):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start: str, span: int, n: int):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, span, n) * np.timedelta64(86_400_000_000, "us")

    put("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n_cust, n_supp, n_part = int(150_000 * SF), int(10_000 * SF), int(200_000 * SF)
    n_ord, n_li = int(1_500_000 * SF), int(6_000_000 * SF)
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    })
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    adjs = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part, dtype=np.int64)
    put("part", {
        "p_partkey": pk,
        "p_name": [f"{adjs[a]} {nouns[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500_000.0, n_ord),
        "o_orderdate": days("1995-01-01", 2404, n_ord),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    put("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": days("1995-01-02", 2498, n_li),
    })
    n_ev = int(1_000_000 * SF)
    ev_types = np.array(["click", "error", "purchase", "signup", "view"])
    put("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us")
        + np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)).astype("timedelta64[us]"),
        "user_id": rng.integers(0, 1500, n_ev),
        "event_type": ev_types[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    n_doc = int(50_000 * SF)
    texts: list[str] = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(_WORDS[w] for w in rng.integers(0, len(_WORDS), n)))
    langs = np.array(["en", "en", "de", "es", "fr", "zh", "en"])
    put("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    n_emb, dim = int(20_000 * SF), 64
    centroids = rng.normal(0.0, 1.0, (10, dim))
    labels = rng.integers(0, 10, n_emb)
    vecs = centroids[labels] + rng.normal(0.0, 1.5, (n_emb, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
