"""Per-stage / per-job profile of build_index at a given corpus sf.

Mirrors bench.py's build path (same cfg, same /dev/shm target) but times
each stage and the major jobs inside them, so optimization work targets
the real hot spots (guide §1: measure first).

Usage: python scripts/profile_build.py [sf] [cpus]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = sys.argv[1] if len(sys.argv) > 1 else "0.1"
CPUS = int(sys.argv[2]) if len(sys.argv) > 2 else 32


def main():
    from search_replica_spark.config import IndexConfig
    from search_replica_spark.corpus import corpus_parquet
    from search_replica_spark.index.build import (
        _stage_docmap,
        _stage_finalize,
        _stage_segments,
    )
    from search_replica_spark.index.manifest import Manifest, input_fingerprint
    from search_replica_spark.session import get_spark

    spark = get_spark("profile_build", cores=CPUS, shuffle_partitions=CPUS)
    src = corpus_parquet(SF)
    corpus = spark.read.parquet(src)
    cfg = IndexConfig(shuffle_partitions=CPUS)
    out = f"/dev/shm/profile_idx_{SF}_{CPUS}"
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)

    t = {}

    def clock(name, fn):
        spark.sparkContext.setJobDescription(name)
        t0 = time.time()
        r = fn()
        t[name] = round(time.time() - t0, 3)
        print(f"{name:>28}: {t[name]:.3f}s", flush=True)
        spark.sparkContext.setJobDescription(None)
        return r

    # warmup (JIT + python workers), mirroring bench.py
    shutil.rmtree("/dev/shm/profile_warm", ignore_errors=True)
    from search_replica_spark.index.build import build_index

    build_index(spark, corpus.limit(8192), "/dev/shm/profile_warm", cfg)
    shutil.rmtree("/dev/shm/profile_warm", ignore_errors=True)

    with open("/proc/loadavg") as f:
        print("loadavg:", f.read().strip())

    m = Manifest(out)
    t_all = time.time()
    clock("fingerprint", lambda: m.bind_input(input_fingerprint(corpus)))
    clock("corpus_count", corpus.count)
    clock("stage_docmap", lambda: _stage_docmap(spark, corpus, out, cfg))
    core = clock("stage_segments", lambda: _stage_segments(spark, out, cfg))
    clock("stage_finalize", lambda: _stage_finalize(spark, out, cfg, core, t_all))
    t["TOTAL"] = round(time.time() - t_all, 3)
    print(json.dumps(t))


if __name__ == "__main__":
    main()
