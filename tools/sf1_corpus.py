"""Build the bench's amplified sf1-equivalent corpus at a PERSISTENT path.

The bench's run_sf1_scaling fabricates a 10x constant-dup-density corpus in
a temp dir and deletes it; optimization A/Bs need the same corpus to live
across sessions so old/new query forms can be timed against identical
bytes. This writes documents.parquet + embeddings.parquet through
bench.write_amplified_corpus (the bench's own scheme), ×10 copies of orders
and events, plus symlinks for the remaining sf0.1 tables so registry
queries that read lineitem/etc. still resolve.

    PYTHONPATH=/root/repo python tools/sf1_corpus.py /tmp/bcs_sf1_ab

Scratch-only: nothing here feeds bench numbers or query results.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    from pyspark.sql import functions as F

    from bench import SF1_COPIES, write_amplified_corpus
    from better_cdc_spark.io import load_table
    from better_cdc_spark.session import get_spark

    out_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/bcs_sf1_ab"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("sf1-corpus")

    write_amplified_corpus(spark, sf_dir, out_dir)
    copies = spark.range(SF1_COPIES).select(F.col("id").alias("copy"))

    # orders ×10 (distinct keys per copy) — for the qc01 changelog A/B
    orders = load_table(spark, sf_dir, "orders")
    orders_amp = orders.crossJoin(copies).select(
        (F.col("o_orderkey") + F.col("copy") * 100_000_000).alias("o_orderkey"),
        *[c for c in orders.columns if c != "o_orderkey"],
    ).drop("copy")
    orders_amp.repartition(32).write.mode("overwrite").parquet(
        f"{out_dir}/orders.parquet"
    )

    # events ×10 (distinct users/events per copy) — for the q48 bitmap A/B
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    events_amp = events.crossJoin(copies).select(
        *[
            (F.col("user_id") + F.col("copy") * 10_000_000).alias("user_id")
            if c == "user_id"
            else F.concat(F.col("event_id"), F.lit("-"), F.col("copy")).alias("event_id")
            if c == "event_id"
            else c
            for c in events.columns
        ],
    ).drop("copy")
    events_amp.repartition(32).write.mode("overwrite").parquet(
        f"{out_dir}/events.parquet"
    )

    # symlink every other sf0.1 table so non-document queries resolve
    for entry in os.listdir(sf_dir):
        src = os.path.join(sf_dir, entry)
        dst = os.path.join(out_dir, entry)
        if (
            entry.startswith(("documents", "embeddings", "orders", "events"))
            or os.path.exists(dst)
        ):
            continue
        os.symlink(src, dst)
    print(f"sf1 corpus ready at {out_dir}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
