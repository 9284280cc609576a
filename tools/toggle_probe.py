"""Within-ONE-session A/B probe for a strategy toggle.

The shared host's ambient load makes cross-session brackets noisy
(min-of-3 drifted 15%+ on untouched control queries); toggling the
strategy INSIDE one warmed session and interleaving A/B runs
back-to-back makes each pair face the same load. The toggle is
quantile pairing: QUANTILE_PAIRING_MAX_DF = 256 (bounded in-task
pairing) vs 0 (the self-join fallback) on q_dedup_ngram_quantile /
q_containment_quantile / q_corpus_card.

Prints one JSON line and appends it to bench_logs/probes.jsonl.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aces_nifi_processors_bundle_spark.pipeline import dedup as dd
from aces_nifi_processors_bundle_spark.plans.registry import QUERIES
from aces_nifi_processors_bundle_spark.session import get_spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = int(os.environ.get("TOGGLE_RUNS", "3"))
    spark = get_spark(app_name="aces-toggle-probe")
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _warm_udf(v: pd.Series) -> pd.Series:
        return v * 1.0

    (
        spark.range(100_000)
        .select((F.col("id") * 1.0).alias("x"))
        .repartition(32)
        .select(_warm_udf(F.col("x")).alias("y"))
        .groupBy((F.col("y") % 7).cast("long"))
        .count()
        .write.format("noop").mode("overwrite").save()
    )
    small = spark.range(100).select(F.col("id").alias("k"))
    (
        spark.range(100_000)
        .select((F.col("id") % 100).alias("k"), F.col("id").alias("v"))
        .join(F.broadcast(small), "k")
        .groupBy("k")
        .agg(F.slice(F.array_sort(F.collect_list(F.struct("v"))), 1, 5).alias("t"))
        .write.format("noop").mode("overwrite").save()
    )

    # NOTE: the quantile-pairing arm requires dedup.QUANTILE_PAIRING_MAX_DF,
    # which existed only in the round-14 adaptive-pairing WORKING SET —
    # the probe read perf-neutral (min-of-6 split 1-2 across the three
    # queries, tag toggle_quantile_pairing in probes.jsonl) and the change
    # was reverted. The arm is kept skip-guarded as the experiment record.
    qnames = [
        "q_dedup_ngram_quantile", "q_containment_quantile", "q_corpus_card"
    ]
    if not hasattr(dd, "QUANTILE_PAIRING_MAX_DF"):
        qnames = []
    times: dict[str, dict[str, list[float]]] = {
        n: {"bounded": [], "selfjoin": []} for n in qnames
    }
    for r in range(runs):
        for name in qnames:
            arms = [("bounded", 256), ("selfjoin", 0)]
            if r % 2 == 1:
                arms.reverse()  # cancel order bias across reps
            for label, bound in arms:
                dd.QUANTILE_PAIRING_MAX_DF = bound
                spark.sparkContext.setJobDescription(f"toggle:{name}:{label}")
                t0 = time.perf_counter()
                df = QUERIES[name](spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                times[name][label].append(
                    round(time.perf_counter() - t0, 3)
                )
                spark.catalog.clearCache()
    if hasattr(dd, "QUANTILE_PAIRING_MAX_DF"):
        dd.QUANTILE_PAIRING_MAX_DF = 256
    out = {
        "tag": "toggle_quantile_pairing",
        "sf_dir": sf_dir,
        "runs": runs,
        "queries": {
            n: {k: min(v) for k, v in d.items()} for n, d in times.items()
        },
        "all": times,
    }
    print(json.dumps(out))
    with open("bench_logs/probes.jsonl", "a") as f:
        f.write(json.dumps(out) + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
