"""``store_upsert``: closed loop, one client, keyed-store writes.

Setup initialises a ``KeyedParquetStore`` from a generated ``orders``
table. The timed phase replays a seeded sequence of batches in a fixed
cycle of three ``merge`` batches ($set / $inc / $addToSet /
$currentDate; 30% updates of existing keys, 70% inserts) and one
``put_if_absent`` batch (30% duplicate keys). The generator keeps the expected key
set and $inc total, and every call's MergeMetrics is checked against
the batch it was given.
"""

import datetime as dt
import random
import time
import traceback

import pyarrow as pa

import datagen
from common import dir_bytes, fresh_dir, latency_summary, median

INIT_ROWS = 10_000
N_BUCKETS = 16
BATCH_ROWS = 500
OP_CYCLE = ("merge", "merge", "merge", "put_if_absent")  # repeated in order
UPDATE_SHARE = 0.3  # share of a batch's keys that already exist
TAGS = ["gold", "silver", "bronze", "new", "returning", "flagged"]
SCHEMA = pa.schema(
    [
        ("o_orderkey", pa.int64()),
        ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()),
        ("o_totalprice", pa.float64()),
        ("o_orderdate", pa.timestamp("us", tz="UTC")),
        ("n_updates", pa.int64()),
        ("tags", pa.list_(pa.string())),
        ("updated_at", pa.timestamp("us", tz="UTC")),
    ]
)
OPERATIONS = {
    "o_orderstatus": "$set",
    "o_totalprice": "$set",
    "n_updates": "$inc",
    "tags": "$addToSet",
    "updated_at": "$currentDate",
}


class StoreWorkload:
    name = "store_upsert"
    setups = 3

    def __init__(self, seed: int, tracer) -> None:
        self.seed = seed
        self.rng = random.Random(seed)
        self.tracer = tracer
        self.merge_s: list[float] = []
        self.pia_s: list[float] = []
        self.read_s = 0.0
        self.useful = 0
        self.input_rows = 0
        self.errors: list[str] = []
        self.n_setups = 0

    def prepare(self) -> None:
        orders = datagen.orders_table(random.Random(self.seed), INIT_ROWS, 1500)
        n = orders.num_rows
        self.init_table = pa.table(
            {
                **{c: orders[c] for c in orders.column_names if c in SCHEMA.names},
                "o_orderdate": orders["o_orderdate"].cast(pa.timestamp("us", tz="UTC")),
                "n_updates": pa.array([0] * n, pa.int64()),
                "tags": pa.array([[] for _ in range(n)], pa.list_(pa.string())),
                "updated_at": pa.array([None] * n, pa.timestamp("us", tz="UTC")),
            }
        ).select(SCHEMA.names)
        self.keys = list(range(n))
        self.key_set = set(self.keys)
        self.next_key = n
        self.inc_total = 0

    def _store(self, spark, path):
        from aces_nifi_processors_bundle_spark.stores import KeyedParquetStore

        return KeyedParquetStore(
            spark=spark, path=path, keys=["o_orderkey"], n_buckets=N_BUCKETS
        )

    def fixture(self, spark) -> None:
        self.n_setups += 1
        self.path = fresh_dir(f"store_{self.n_setups}")
        self.store = self._store(spark, self.path)
        self.store.init(spark.createDataFrame(self.init_table))

    def _batch(self, kind: str):
        """(arrow batch, n existing keys, n new keys); advances the model."""
        n_old = int(BATCH_ROWS * UPDATE_SHARE)
        old = self.rng.sample(self.keys, n_old)
        new = list(range(self.next_key, self.next_key + BATCH_ROWS - n_old))
        self.next_key += len(new)
        keys = old + new
        self.rng.shuffle(keys)
        n = len(keys)
        if kind == "merge":
            inc = [self.rng.randint(1, 5) for _ in range(n)]
            self.inc_total += sum(inc)
        else:
            inc = [1] * n
            self.inc_total += len(new)  # duplicates are not inserted
        self.keys.extend(new)
        self.key_set.update(new)
        day0 = datagen.ORDER_DAY0.replace(tzinfo=dt.timezone.utc)
        table = pa.table(
            {
                "o_orderkey": pa.array(keys, pa.int64()),
                "o_custkey": pa.array([self.rng.randrange(1500) for _ in range(n)], pa.int64()),
                "o_orderstatus": [self.rng.choice(datagen.STATUSES) for _ in range(n)],
                "o_totalprice": [round(self.rng.uniform(1000, 500_000), 2) for _ in range(n)],
                "o_orderdate": pa.array(
                    [day0 + dt.timedelta(days=self.rng.randrange(2405)) for _ in range(n)],
                    pa.timestamp("us", tz="UTC"),
                ),
                "n_updates": pa.array(inc, pa.int64()),
                "tags": pa.array([[self.rng.choice(TAGS)] for _ in range(n)], pa.list_(pa.string())),
                "updated_at": pa.array([None] * n, pa.timestamp("us", tz="UTC")),
            },
            schema=SCHEMA,
        )
        return table, n_old, len(new)

    def op(self, spark, tag: str, kind: str):
        """One store call: (seconds, ok, arrow bytes, rows)."""
        from aces_nifi_processors_bundle_spark.operators.partial_update import (
            PartialUpdateConfig,
        )

        table, n_old, n_new = self._batch(kind)
        src = spark.createDataFrame(table)
        t0 = time.perf_counter()
        try:
            with self.tracer.group(spark, f"store.{kind}#{tag}"):
                if kind == "merge":
                    cfg = PartialUpdateConfig(keys=["o_orderkey"], operations=OPERATIONS)
                    m = self.store.merge(src, cfg)
                else:
                    m = self.store.put_if_absent(src)
        except Exception as e:  # noqa: BLE001 - a failed call is counted, not fatal
            traceback.print_exc()
            self.errors.append(f"{kind}: {type(e).__name__}: {str(e)[:200]}")
            return time.perf_counter() - t0, False, table.nbytes, table.num_rows
        dt_s = time.perf_counter() - t0
        if kind == "merge":
            ok = (m.updated + m.unmodified, m.inserted) == (n_old, n_new)
        else:
            ok = (m.unmodified, m.inserted) == (n_old, n_new)
        if not ok:
            self.errors.append(f"{kind}: metrics {m} for {n_old} existing + {n_new} new keys")
        if tag != "cold":
            (self.merge_s if kind == "merge" else self.pia_s).append(dt_s)
            self.useful += m.updated + m.inserted
            self.input_rows += table.num_rows
        return dt_s, ok, table.nbytes, table.num_rows

    def cold(self, spark) -> tuple[float, int, int]:
        """The first store call in a fresh session (a merge)."""
        dt_s, ok, _, _ = self.op(spark, "cold", "merge")
        return dt_s, 1, int(not ok)

    def run(self, spark, seconds: float) -> dict:
        lat: list[float] = []
        rows = attempted = failed = arrow_bytes = 0
        bytes0, _ = dir_bytes(self.path)
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds:
            kind = OP_CYCLE[attempted % len(OP_CYCLE)]
            dt_s, ok, nbytes, nrows = self.op(spark, str(attempted), kind)
            attempted += 1
            failed += not ok
            lat.append(dt_s)
            arrow_bytes += nbytes
            if ok:
                rows += nrows
        wall = time.perf_counter() - t0
        self.bytes_added = dir_bytes(self.path)[0] - bytes0
        self.write_amp = self.bytes_added / max(1, arrow_bytes)
        self.trace_ops = attempted
        self.files = dir_bytes(self.path)[1]
        failed += not self.final_check(spark)
        p50, tail, desc = latency_summary(lat)
        return {
            "p50": p50,
            "tail": tail,
            "tail_desc": desc + " store calls",
            "rows_per_s": rows / wall,
            "wall": wall,
            "attempted": attempted + 1,
            "failed": failed,
            "notes": [
                f"write_amp: {self.write_amp:.3f} (store bytes added / Arrow bytes in)",
                f"merge median {median(self.merge_s):.3f} s (N={len(self.merge_s)}), "
                f"put_if_absent median {median(self.pia_s):.3f} s (N={len(self.pia_s)})",
            ],
        }

    def final_check(self, spark) -> bool:
        """Final state: one row per expected key, and the $inc total."""
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        try:
            with self.tracer.group(spark, "store.read#final"):
                r = self.store.read().agg(
                    F.count(F.lit(1)).alias("n"),
                    F.countDistinct("o_orderkey").alias("k"),
                    F.sum("n_updates").alias("inc"),
                ).collect()[0]
        except Exception as e:  # noqa: BLE001 - a failed read is counted, not fatal
            traceback.print_exc()
            self.errors.append(f"read: {type(e).__name__}: {str(e)[:200]}")
            return False
        self.read_s = time.perf_counter() - t0
        want = (len(self.key_set), len(self.key_set), self.inc_total)
        got = (r["n"], r["k"], r["inc"])
        if got != want:
            self.errors.append(f"final state (rows, keys, $inc sum) {got} != {want}")
            return False
        return True

    def layer_metrics(self, trace) -> dict:
        return {
            "stores.merge_s": (median(self.merge_s), "s"),
            "stores.put_if_absent_s": (median(self.pia_s), "s"),
            "stores.read_s": (self.read_s, "s"),
            "stores.bytes_written": (self.bytes_added / max(1, self.trace_ops), "bytes"),
            "stores.files": (self.files, "count"),
            "stores.useful_ratio": (self.useful / max(1, self.input_rows), "ratio"),
            "stores.write_amp": (self.write_amp, "ratio"),
        }

    def timed_group(self, g: str) -> bool:
        return g.startswith("store.")
