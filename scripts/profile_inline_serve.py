"""Times bench.py's 2c section (inline apply) in isolation.

Usage: python scripts/profile_inline_serve.py [cpus]
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CPUS = int(sys.argv[1]) if len(sys.argv) > 1 else 32


def main():
    from pyspark.sql import functions as F

    from search_replica_spark.config import IndexConfig
    from search_replica_spark.corpus import corpus_parquet
    from search_replica_spark.index.build import build_index
    from search_replica_spark.session import get_spark
    from search_replica_spark.streaming.incremental import add_generation, apply_inline_updates

    spark = get_spark("profile_inline", cores=CPUS, shuffle_partitions=CPUS)
    corpus = spark.read.parquet(corpus_parquet("0.1"))
    with open("/proc/loadavg") as f:
        print("loadavg:", f.read().strip())

    # warmup
    build_index(spark, corpus.limit(8192), "/dev/shm/pi_warm",
                IndexConfig(shuffle_partitions=CPUS))
    shutil.rmtree("/dev/shm/pi_warm", ignore_errors=True)

    # --- 2c: inline apply (bench.py shape verbatim) ---
    inl_dir = "/dev/shm/pi_inl"
    shutil.rmtree(inl_dir, ignore_errors=True)
    inl_cfg = IndexConfig(
        shuffle_partitions=CPUS, store_source=True,
        input_columns=("repo", "path", "commit", "lang", "content", "inlined"),
    )
    parents = corpus.filter(F.crc32(F.col("path")) % 4 == 1).withColumn(
        "inlined",
        F.expr("CAST(array() AS array<struct<ck: bigint, value: string>>)"),
    )
    add_generation(spark, parents, inl_dir, inl_cfg)
    children = parents.select(
        "repo", "path", F.explode(F.array(F.lit(1), F.lit(2))).alias("off")
    ).select(
        "repo", "path",
        (F.crc32(F.col("path")).cast("long") * 10 + F.col("off")).alias("ck"),
        F.concat(F.lit("v"), F.col("off").cast("string")).alias("value"),
    )
    children.count()
    t = time.time()
    st = apply_inline_updates(spark, children, inl_dir, inl_cfg)
    t_inline = round(time.time() - t, 3)
    assert st["inline_parents_updated"] > 0
    shutil.rmtree(inl_dir, ignore_errors=True)
    print("inline_apply_batch:", t_inline)


if __name__ == "__main__":
    main()
