"""Build the code-corpus index once at a given parallelism; print one JSON
line {cpus, corpus_sf, n_files, build_sec, files_per_sec}. Used by
bench_scaling.py (fresh JVM per parallelism level)."""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    cpus = int(sys.argv[1])
    corpus_sf = sys.argv[2] if len(sys.argv) > 2 else "0.1"

    from search_replica_spark.config import IndexConfig
    from search_replica_spark.corpus import SF_FILES, corpus_parquet
    from search_replica_spark.index.build import build_index
    from search_replica_spark.session import get_spark

    src = corpus_parquet(corpus_sf)
    spark = get_spark(f"scale{cpus}", cores=cpus, shuffle_partitions=cpus)
    out = f"/dev/shm/scale_idx_{corpus_sf}_{cpus}"
    shutil.rmtree(out, ignore_errors=True)
    corpus = spark.read.parquet(src)

    # warm the JVM (codegen JIT), python workers (imports, allocator) and
    # every build codepath on a small slice before timing — steady-state
    # throughput is what a long-running cluster executor delivers
    shutil.rmtree("/dev/shm/warm_idx", ignore_errors=True)
    build_index(
        spark,
        corpus.limit(8192),
        "/dev/shm/warm_idx",
        IndexConfig(shuffle_partitions=cpus),
    )
    shutil.rmtree("/dev/shm/warm_idx", ignore_errors=True)

    t0 = time.time()
    stats = build_index(
        spark, corpus, out, IndexConfig(shuffle_partitions=cpus)
    )
    sec = time.time() - t0
    n = SF_FILES[corpus_sf]
    print(
        json.dumps(
            {
                "cpus": cpus,
                "corpus_sf": corpus_sf,
                "n_files": n,
                "build_sec": round(sec, 3),
                "files_per_sec": round(n / sec, 2),
                "postings_emitted": stats["postings_emitted"],
            }
        )
    )


if __name__ == "__main__":
    main()
