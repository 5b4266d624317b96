"""Benchmark harness — one JSON line on stdout (driver contract).

Headline numbers (BASELINE.md targets):
  - index-build throughput (files/sec) over the synthetic code corpus at the
    scale matching $SPARK_GRAFT_SF_DIR
  - BM25 query p50 latency over the 50-query reference set (TATA, hot
    segment cache, then pinned; the distributed plan)
  - representative operator queries at the sf dir (BM25-as-SQL, inline
    denorm, last-wins dedup, df stats)

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS   (default 32),
     BENCH_CORPUS_SF    (override corpus scale; default inferred from sf dir)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _default_cpus() -> int:
    """This box reports 32 vCPUs but carries 6-14 cores of external load
    (see BASELINE.md), and the tokenize loop saturates shared memory
    bandwidth around 8-16 threads (measured: 8≈16 > 31 threads). When the
    caller doesn't pin SPARK_GRAFT_CPUS, use the free cores capped at 16."""
    try:
        with open("/proc/loadavg") as f:
            load1 = float(f.read().split()[0])
        return max(8, min(16, int(os.cpu_count() - load1)))
    except OSError:
        return 16


def main():
    # external-load fingerprint: captured BEFORE any work — loadavg_before_build
    # below is taken after the warmup build, so it includes bench's own tail
    try:
        with open("/proc/loadavg") as f:
            load_at_start = [float(x) for x in f.read().split()[:3]]
    except OSError:
        load_at_start = None
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or _default_cpus()
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    corpus_sf = os.environ.get("BENCH_CORPUS_SF", sf if sf in ("0.001", "0.01", "0.1") else "0.1")

    from search_replica_spark.config import IndexConfig
    from search_replica_spark.corpus import SF_FILES, corpus_parquet, reference_queries
    from search_replica_spark.index.build import build_index
    from search_replica_spark.operators import all_registered
    from search_replica_spark.query.bm25 import IndexReader, TermAtATimeScorer
    from search_replica_spark.session import get_spark

    spark = get_spark("bench", cores=cpus, shuffle_partitions=cpus)
    queries: dict[str, float] = {}

    # --- 1. index build throughput ---
    src = corpus_parquet(corpus_sf)  # generation cached; excluded from timing
    n_files = SF_FILES[corpus_sf]
    idx_dir = f"/dev/shm/bench_idx_{corpus_sf}_{cpus}"
    shutil.rmtree(idx_dir, ignore_errors=True)
    corpus = spark.read.parquet(src)

    # steady-state warmup: JIT + python workers + all build codepaths
    shutil.rmtree("/dev/shm/warm_idx", ignore_errors=True)
    build_index(
        spark, corpus.limit(8192), "/dev/shm/warm_idx",
        IndexConfig(shuffle_partitions=cpus),
    )
    shutil.rmtree("/dev/shm/warm_idx", ignore_errors=True)

    with open("/proc/loadavg") as f:
        load_before = [float(x) for x in f.read().split()[:3]]
    t0 = time.time()
    stats = build_index(
        spark, corpus, idx_dir, IndexConfig(shuffle_partitions=cpus)
    )
    build_sec = time.time() - t0
    with open("/proc/loadavg") as f:
        load_after = [float(x) for x in f.read().split()[:3]]
    queries["index_build"] = round(build_sec, 3)
    files_per_sec = n_files / build_sec

    # --- 2. BM25 query latency (p50 over the 50-query reference set) ---
    reader = IndexReader(spark, idx_dir)
    reader.doc_arrays()
    scorer = TermAtATimeScorer(reader)
    qset = reference_queries()
    lat_tata = []
    for qtext, k in zip(qset["query_text"], qset["k"]):
        t = time.time()
        scorer.score(qtext, int(k))
        lat_tata.append(time.time() - t)
    lat_tata.sort()
    queries["bm25_p50_tata"] = round(lat_tata[len(lat_tata) // 2], 4)

    # the distributed plan (full Spark job per query — the 100 TB serving
    # shape) over 10 reference queries
    from search_replica_spark.query.bm25 import bm25_topk_spark

    lat_dist = []
    for qtext, k in list(zip(qset["query_text"], qset["k"]))[:10]:
        t = time.time()
        bm25_topk_spark(spark, idx_dir, qtext, int(k)).collect()
        lat_dist.append(time.time() - t)
    lat_dist.sort()
    queries["bm25_p50_spark_dist"] = round(lat_dist[len(lat_dist) // 2], 4)

    # serving mode: postings pinned in driver memory (how a query node
    # holds its shard) — per-query cost without the Spark-job round trip
    reader.pin_driver()
    lat_pin_t = []
    for qtext, k in zip(qset["query_text"], qset["k"]):
        t = time.time()
        scorer.score(qtext, int(k))
        lat_pin_t.append(time.time() - t)
    lat_pin_t.sort()
    queries["bm25_p50_tata_pinned"] = round(lat_pin_t[len(lat_pin_t) // 2], 4)

    # ES Query-DSL shim (r5): the same reference queries as /_search JSON
    # through execute_dsl — must track bm25_p50_tata_pinned (the walker
    # adds dict composition only; a drift here means the shim started
    # doing real work it should delegate)
    from search_replica_spark.query.dsl import execute_dsl

    lat_dsl = []
    for qtext, k in zip(qset["query_text"], qset["k"]):
        t = time.time()
        execute_dsl(reader, {"match": {"content": qtext}}, k=int(k))
        lat_dsl.append(time.time() - t)
    lat_dsl.sort()
    queries["bm25_p50_dsl_pinned"] = round(lat_dsl[len(lat_dsl) // 2], 4)

    # sustained serving throughput on the pinned node: sequential QPS, then
    # 4 FORKED worker processes each scoring its own slice over the
    # copy-on-write-inherited pinned arrays — the process-per-shard shape a
    # real serving node runs (threads measure ~0.8x here: per-query NumPy
    # work at this corpus size is too small to escape the GIL)
    _pool_qs = (list(zip(qset["query_text"], qset["k"])) * 5)[:100]
    t = time.time()
    for qtext, k in _pool_qs:
        scorer.score(qtext, int(k))
    _seq_sec = time.time() - t
    queries["bm25_qps_pinned_c1"] = round(len(_pool_qs) / max(_seq_sec, 1e-9), 1)
    _NPROC, _PER = 4, 50
    t = time.time()
    _pids = []
    for _i in range(_NPROC):
        _pid = os.fork()
        if _pid == 0:  # child: score, then _exit (never touch the JVM)
            _rc = 0
            try:
                for qtext, k in (_pool_qs * 2)[_i * _PER : (_i + 1) * _PER]:
                    scorer.score(qtext, int(k))
            except BaseException:
                _rc = 1  # a dead child must NOT record as instant success
            os._exit(_rc)
        _pids.append(_pid)
    _fail = 0
    for _pid in _pids:
        _, _status = os.waitpid(_pid, 0)
        if os.waitstatus_to_exitcode(_status) != 0:
            _fail += 1
    _par_sec = time.time() - t
    if _fail:
        raise RuntimeError(f"{_fail}/{_NPROC} forked QPS workers failed")
    queries["bm25_qps_pinned_p4"] = round(_NPROC * _PER / max(_par_sec, 1e-9), 1)

    # --- 2b. multi-generation serving: 4 generations over the same corpus,
    # pinned; p50 must stay within ~1.5x of the single-generation index ---
    from pyspark.sql import functions as F

    from search_replica_spark.streaming.incremental import MultiGenReader, add_generation

    mg_dir = f"/dev/shm/bench_mgidx_{corpus_sf}_{cpus}"
    shutil.rmtree(mg_dir, ignore_errors=True)
    mg_cfg = IndexConfig(shuffle_partitions=cpus)
    for i in range(4):  # deterministic 4-way split by path hash
        add_generation(
            spark, corpus.filter(F.crc32(F.col("path")) % 4 == i), mg_dir, mg_cfg
        )
    mg = MultiGenReader(spark, mg_dir)
    mg.pin_driver()
    lat_mg_t = []
    for qtext, k in zip(qset["query_text"], qset["k"]):
        t = time.time()
        mg.score(qtext, int(k))
        lat_mg_t.append(time.time() - t)
    lat_mg_t.sort()
    queries["bm25_p50_tata_multigen_pinned"] = round(lat_mg_t[len(lat_mg_t) // 2], 4)
    shutil.rmtree(mg_dir, ignore_errors=True)

    # --- 2c. streamed inline maintenance at scale (r5 flagship): quarter-
    # corpus parent index with stored _source + empty inline arrays, then
    # ONE child-CDC batch of 2 events per parent resolved + committed
    # (broadcast probe join + array rewrite + superseding generation) ---
    from search_replica_spark.streaming.incremental import apply_inline_updates

    inl_dir = f"/dev/shm/bench_inl_{corpus_sf}_{cpus}"
    shutil.rmtree(inl_dir, ignore_errors=True)
    inl_cfg = IndexConfig(
        shuffle_partitions=cpus, store_source=True,
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
    n_children = children.count()
    t = time.time()
    st_inl = apply_inline_updates(spark, children, inl_dir, inl_cfg)
    queries["inline_apply_batch"] = round(time.time() - t, 3)
    assert st_inl["inline_parents_updated"] > 0
    shutil.rmtree(inl_dir, ignore_errors=True)

    # --- 3. operator queries at the sf dir ---
    reg = all_registered()
    for name in ("ft_bm25_sql_top10", "p11_inline_denorm", "p16_lastwins_dedup",
                 "ft_df_stats"):
        fn, _ = reg[name]
        t = time.time()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        queries[name] = round(time.time() - t, 3)

    total = sum(queries.values())
    out = {
        "metric": "index_build_files_per_sec",
        "value": round(files_per_sec, 2),
        "unit": "sec",
        "queries": queries,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "detail": {
            "corpus_files": n_files,
            "cpus": cpus,
            "loadavg_at_start": load_at_start,
            "loadavg_before_build": load_before,
            "loadavg_after_build": load_after,
            "build_sec": round(build_sec, 3),
            "postings_emitted": stats["postings_emitted"],
            "bytes_compressed": stats["bytes_compressed"],
            "bm25_p50_tata_sec": queries["bm25_p50_tata"],
            "multigen_vs_single_p50_tata": round(
                queries["bm25_p50_tata_multigen_pinned"]
                / max(queries["bm25_p50_tata_pinned"], 1e-9), 3
            ),
        },
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
