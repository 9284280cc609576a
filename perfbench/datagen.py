"""Seeded input tables for the benchmark.

The tables follow the star schema declared in
``aces_nifi_processors_bundle_spark.sources.registry.TABLES`` (orders,
customer, events, documents, embeddings), with value ranges and category sets like
the package's sf fixtures. Generation uses only ``random.Random`` and
pyarrow, so one seed gives byte-identical tables on any machine.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
LANGS = ["en", "en", "en", "es", "fr", "de", "zh"]
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
EPOCH_2024 = dt.datetime(2024, 1, 1)
ORDER_DAY0 = dt.datetime(1995, 1, 1)


def events_table(rng: random.Random, n: int, n_users: int) -> pa.Table:
    """``n`` events over 30 days, ids in time order."""
    span_us = 30 * 86_400 * 1_000_000
    ts = sorted(rng.randrange(span_us) for _ in range(n))
    return pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array([EPOCH_2024 + dt.timedelta(microseconds=t) for t in ts],
                           pa.timestamp("us")),
            "user_id": pa.array([rng.randrange(n_users) for _ in range(n)], pa.int64()),
            "event_type": [rng.choice(EVENT_TYPES) for _ in range(n)],
            "value": [round(rng.expovariate(1 / 50.0), 2) for _ in range(n)],
            "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n)],
        }
    )


def orders_table(rng: random.Random, n: int, n_customers: int) -> pa.Table:
    return pa.table(
        {
            "o_orderkey": pa.array(range(n), pa.int64()),
            "o_custkey": pa.array([rng.randrange(n_customers) for _ in range(n)], pa.int64()),
            "o_orderstatus": [rng.choice(STATUSES) for _ in range(n)],
            "o_totalprice": [round(rng.uniform(1000, 500_000), 2) for _ in range(n)],
            "o_orderdate": pa.array(
                [ORDER_DAY0 + dt.timedelta(days=rng.randrange(2405)) for _ in range(n)],
                pa.timestamp("us"),
            ),
            "o_orderpriority": [rng.choice(PRIORITIES) for _ in range(n)],
        }
    )


def customer_table(rng: random.Random, n: int) -> pa.Table:
    return pa.table(
        {
            "c_custkey": pa.array(range(n), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array([rng.randrange(25) for _ in range(n)], pa.int32()),
            "c_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n)],
            "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(n)],
        }
    )


def documents_table(rng: random.Random, n: int) -> pa.Table:
    """Word-salad documents; about 1 in 200 repeats an earlier text and
    about 1 in 20 carries a ``dup`` marker word, so the dedup and
    repetition stages have work to drop."""
    texts: list[str] = []
    for i in range(n):
        if i and rng.random() < 0.005:
            texts.append(texts[rng.randrange(i)])
            continue
        words = [rng.choice(WORDS) for _ in range(rng.randint(10, 100))]
        if rng.random() < 0.05:
            words[rng.randrange(len(words))] = "dup"
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": texts,
            "lang": [rng.choice(LANGS) for _ in range(n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(rng: random.Random, n: int, dim: int = 64) -> pa.Table:
    """``n`` unit-length Gaussian float32 vectors with labels 0-9."""
    vecs = []
    for _ in range(n):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        norm = sum(x * x for x in v) ** 0.5
        vecs.append([x / norm for x in v])
    return pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array([rng.randrange(10) for _ in range(n)], pa.int32()),
        }
    )


def write_tables(out_dir: str, seed: int, sizes: dict[str, int]) -> None:
    """Write the tables named in ``sizes`` (rows each) as
    ``<out_dir>/<table>.parquet``."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = sizes.get("customer", 1500)
    makers = {
        "customer": lambda n: customer_table(rng, n),
        "orders": lambda n: orders_table(rng, n, n_cust),
        "events": lambda n: events_table(rng, n, max(1, n // 60)),
        "documents": lambda n: documents_table(rng, n),
        "embeddings": lambda n: embeddings_table(rng, n),
    }
    for name in sorted(sizes):
        pq.write_table(makers[name](sizes[name]), os.path.join(out_dir, f"{name}.parquet"))
