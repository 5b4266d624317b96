"""The program side of the benchmark: one workload, one process.

``run.py`` writes the seeded inputs to a work directory and starts this
module in its own process group; it runs the workload against
``search_replica_spark`` on ``local[nproc]`` with a single closed-loop
client and writes raw measurements and every distinct response to
``result.json`` in the work directory. Checking answers is ``run.py``'s
job, so neither the oracle nor the generator lives in this process (its
peak RSS is the program's).

    python3 perfbench/driver.py WORK_DIR WORKLOAD SECONDS TRACE

``WORKLOAD`` ``prepare`` only builds ``search_hot``'s kept index, in a
process of its own, so that every measured run starts from the same state.
"""

from __future__ import annotations

import gc
import json
import os
import resource
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import Tracer, install_layers  # noqa: E402
from yardstick import Yardstick  # noqa: E402

SETUP_REPS = 5
BURST = 200  # pool requests after each CDC batch
LAST_BATCH_START_S = 100  # cdc_mixed starts no batch later, so a run ends in time
SETTLE_MAX_S = 15.0  # longest wait for the JVM to go idle before a window
YARD_EVERY = 4  # one yardstick call after every 4th timed request
_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Phase marks for driver.log (kept by run.py when the driver fails)."""
    print(f"[perfbench {time.perf_counter() - _T0:8.2f}s] {msg}", flush=True)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _driver_memory_mb() -> int:
    """A quarter of physical RAM, at most 4 GiB: well below what the box
    has, and more than this workload's index needs."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return int(min(4096, ram // 4))


def start_spark(work: str):
    from search_replica_spark import session

    local = os.path.join(work, "spark_local")
    os.makedirs(local, exist_ok=True)
    # get_spark creates its own scratch dir outside the checkout; this
    # session points spark.local.dir inside the work dir instead, so skip
    # that one makedirs for the duration of the call
    real_makedirs = os.makedirs

    def makedirs(path, *a, **k):
        if path != "/dev/shm/spark_local":
            real_makedirs(path, *a, **k)

    n = _nproc()
    os.makedirs = makedirs
    try:
        spark = session.get_spark(
            "perfbench", cores=n, shuffle_partitions=n,
            extra={
                "spark.driver.memory": f"{_driver_memory_mb()}m",
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
    finally:
        os.makedirs = real_makedirs
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit: it exits when its
    stdin closes, after its shutdown hooks have removed its temp files."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def settle(spark) -> float:
    """Wait until the JVM has finished the background work a build leaves
    behind (JIT compilation, garbage collection), at most SETTLE_MAX_S;
    return the wait. A hot request runs on one core, and a JVM busy on the
    others slowed it by a varying amount from run to run."""
    from pyspark import SparkContext

    pid = SparkContext._gateway.proc.pid  # spark-submit execs the JVM
    tick = os.sysconf("SC_CLK_TCK")

    def cpu_s() -> float:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / tick  # utime + stime

    t0 = time.perf_counter()
    spark._jvm.System.gc()
    gc.collect()
    while time.perf_counter() - t0 < SETTLE_MAX_S:
        c = cpu_s()
        time.sleep(0.5)
        if cpu_s() - c < 0.05:  # under a tenth of one core
            break
    return time.perf_counter() - t0


class Jobs:
    """Spark jobs and completed tasks run under a job group. Only calls made
    while the tracer is on are counted, so the untraced half of a traced run
    pays none of the bookkeeping's py4j round trips."""

    def __init__(self, sc, tracer: Tracer):
        self.sc, self.tracer, self.n = sc, tracer, 0

    def begin(self) -> str | None:
        if not self.tracer.enabled:
            return None
        self.n += 1
        gid = f"perfbench-{self.n}"
        self.sc.setJobGroup(gid, gid)
        return gid

    def end(self, gid: str | None) -> tuple[int, int]:
        if gid is None:
            return 0, 0
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(gid)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                tasks += si.numCompletedTasks if si else 0
        return len(jobs), tasks


def dir_bytes(path: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


class Run:
    def __init__(self, work: str, workload: str, seconds: float, trace: bool):
        self.work, self.workload, self.seconds = work, workload, seconds
        with open(os.path.join(work, "inputs.json")) as f:
            self.inputs = json.load(f)
        self.pool = self.inputs["pool"]
        self.stream = self.inputs["stream"]
        self.tracer = Tracer()
        self.trace = trace
        if trace:
            install_layers(self.tracer)
            self.tracer.enabled = True
        self.ops: list[float] = []  # latency of each timed operation, s
        self.reads: list[float] = []  # latency of each /_search request, s
        self.setups: list[float] = []
        self.traced_ops: list[bool] = []
        self.builds: list[dict] = []  # per timed build: wall, manifest stages, jobs
        self.responses: dict[str, dict] = {}  # "state:body" -> first response
        self.mismatched = 0  # repeat of a body whose answer changed
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.state = 0  # index state the responses belong to (CDC batch)
        self.request_jobs: list[int] = []
        self.ingest: list[float] = []  # cdc_mixed: add_generation wall, s
        self.reopen: list[float] = []  # cdc_mixed: fresh pinned reader, s
        self.batches_done = 0
        self.generations = 0
        self.dead_slots = 0
        self._n_ops = 0
        self._cursor = 0
        self.yard = Yardstick()

    # --- program calls -------------------------------------------------
    def spark_start(self):
        t = time.perf_counter()
        self.spark = start_spark(self.work)
        self.session_start_s = time.perf_counter() - t
        self.jobs = Jobs(self.spark.sparkContext, self.tracer)
        from search_replica_spark.index import build
        from search_replica_spark.query import dsl
        from search_replica_spark.streaming import incremental

        self.build, self.dsl, self.incremental = build, dsl, incremental

    def corpus_df(self, name: str = "corpus.parquet"):
        return self.spark.read.parquet(os.path.join(self.work, name))

    def cfg(self):
        from search_replica_spark.config import IndexConfig

        return IndexConfig(shuffle_partitions=_nproc())

    def timed_build(self, df, out: str) -> dict:
        gid = self.jobs.begin()
        t_wall = time.time()
        t = time.perf_counter()
        stats = self.build.build_index(self.spark, df, out, self.cfg())
        wall = time.perf_counter() - t
        njobs, ntasks = self.jobs.end(gid)
        self.builds.append(self._build_record(out, t_wall, wall, njobs, ntasks, stats))
        return stats

    def _build_record(self, out, t_wall, wall, njobs, ntasks, stats) -> dict:
        with open(os.path.join(out, "manifest.json")) as f:
            st = json.load(f)["stages"]
        rec = {"wall_s": wall, "jobs": njobs, "tasks": ntasks,
               "fingerprint_s": st["docmap"]["started_at"] - t_wall}
        for name in ("docmap", "segments", "finalize"):
            rec[f"{name}_s"] = st[name]["finished_at"] - st[name]["started_at"]
        for k in ("postings_emitted", "n_terms", "n_blocks", "bytes_compressed"):
            rec[k] = stats.get(k, 0)
        return rec

    def request(self, reader, i: int, record: bool = True) -> dict | None:
        body = self.pool[i]
        self.attempted += 1
        self.tracer.request = f"request{self.attempted}"
        gid = self.jobs.begin()
        t = time.perf_counter()
        try:
            resp = self.dsl.execute_request(reader, body)
        except Exception as e:  # a failed request is counted, not fatal
            self.failed += 1
            self.errors.append(f"request {i}: {type(e).__name__}: {e}")
            self.jobs.end(gid)
            return None
        dt = time.perf_counter() - t
        if gid is not None:
            self.request_jobs.append(self.jobs.end(gid)[0])
        if record:
            self.reads.append(dt)
            if len(self.reads) % YARD_EVERY == 0:
                self.yard.sample()
        self._keep(f"{self.state}:{i}", resp)
        return resp

    def _keep(self, key: str, resp: dict) -> None:
        hits = [[h["_id"], h["_score"]] for h in resp["hits"]["hits"]]
        got = {"hits": hits, "total": resp["hits"]["total"]["value"]}
        prev = self.responses.setdefault(key, got)
        if prev is not got and prev != got:
            self.mismatched += 1

    def open_reader(self, index: str, multigen: bool = False):
        """A reader that answers from driver RAM."""
        from search_replica_spark.query.bm25 import IndexReader

        if multigen:
            r = self.incremental.MultiGenReader(self.spark, index)
            r.doc_arrays()
            len(r)  # resolves liveDocs before the first request
        else:
            r = IndexReader(self.spark, index)
            r.doc_arrays()
        r.pin_driver()
        return r

    def timed_setups(self, index: str, multigen: bool = False):
        """SETUP_REPS timed opens. Each drops the previous reader first, so
        one copy is pinned at a time and the peak RSS does not depend on
        when the garbage collector ran."""
        reader = None
        for _ in range(SETUP_REPS):
            reader = None
            gc.collect()
            t = time.perf_counter()
            reader = self.open_reader(index, multigen=multigen)
            self.setups.append(time.perf_counter() - t)
        return reader

    def next_body(self) -> int:
        i = self.stream[self._cursor % len(self.stream)]
        self._cursor += 1
        return i

    def traced_op(self, name: str) -> None:
        """In a traced run, every other operation runs with the wrappers
        switched off; comparing the two halves gives the tracing overhead."""
        self._n_ops += 1
        self.tracer.request = f"{name}{self._n_ops}"
        if self.trace:
            self.tracer.enabled = self._n_ops % 2 == 1

    # --- workloads -----------------------------------------------------
    def cached_index(self) -> str:
        """The index kept between runs (``run.index_cache``): built here
        when missing and renamed into place once complete, so a killed run
        leaves no half-built index behind. Its build record is kept beside
        it for the traced run's build metrics."""
        index = self.inputs["index_cache"]
        if os.path.isdir(index):
            with open(f"{index}.build.json") as f:
                self.builds.append(json.load(f))
            log("cached index found")
            return index
        tmp = f"{index}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        self.timed_build(self.corpus_df(), tmp)
        with open(f"{index}.build.json", "w") as f:
            json.dump(self.builds[-1], f)
        os.rename(tmp, index)
        log("index built and cached")
        return index

    def search_hot(self):
        index = self.cached_index()
        self.index_bytes = dir_bytes(index)
        reader = self.timed_setups(index)
        for _ in range(20):  # first requests: imports, allocator, JIT
            self.request(reader, self.next_body(), record=False)
        log(f"JVM idle after {settle(self.spark):.2f}s")
        deadline = time.perf_counter() + self.seconds
        while time.perf_counter() < deadline:
            self.traced_op("request")
            if self.request(reader, self.next_body()) is not None:
                self.traced_ops.append(self.tracer.enabled)
        self.ops = list(self.reads)  # the operation is the request
        self.tracer.enabled = self.trace

    def cdc_mixed(self):
        index = os.path.join(self.work, "idx")
        inc = self.incremental
        inc.add_generation(self.spark, self.corpus_df(), index, self.cfg())
        log("generation 0 built")
        self.index_bytes = dir_bytes(index)
        reader = self.timed_setups(index, multigen=True)
        for _ in range(20):  # first requests: imports, allocator, JIT
            self.request(reader, self.next_body(), record=False)
        # the generation-0 build has warmed the JIT; a fixed number of timed
        # batches follows, so every run does the same work, each from an
        # idle JVM. LAST_BATCH_START_S only guards against a very slow host.
        for b, batch in enumerate(self.inputs["batches"]):
            log(f"JVM idle after {settle(self.spark):.2f}s")
            if b and time.perf_counter() - _T0 >= LAST_BATCH_START_S:
                self.errors.append(f"overran the time limit: {b} of "
                                   f"{len(self.inputs['batches'])} batches")
                break
            self.traced_op("batch")
            self.attempted += 1
            gid = self.jobs.begin()
            t_wall = time.time()
            t0 = time.perf_counter()
            try:
                bdf = self.corpus_df(batch["file"])
                stats = inc.add_generation(self.spark, bdf, index, self.cfg())
            except Exception as e:
                self.failed += 1
                self.errors.append(f"batch {b}: {type(e).__name__}: {e}")
                break
            t1 = time.perf_counter()
            njobs, ntasks = self.jobs.end(gid)
            gen_dir = os.path.join(index, f"gen={b + 1}")
            if gid is not None and os.path.exists(os.path.join(gen_dir, "manifest.json")):
                self.builds.append(
                    self._build_record(gen_dir, t_wall, t1 - t0, njobs, ntasks, stats))
            reader = self.open_reader(index, multigen=True)
            t2 = time.perf_counter()
            self.state = b + 1
            self.request(reader, batch["probe"], record=False)
            t3 = time.perf_counter()
            self.batches_done = b + 1
            log(f"batch {b}: add_generation {t1 - t0:.2f}s, reopen {t2 - t1:.2f}s, "
                f"probe {t3 - t2:.3f}s")
            self.ingest.append(t1 - t0)
            self.reopen.append(t2 - t1)
            self.ops.append(t3 - t0)
            self.traced_ops.append(self.tracer.enabled)
            for _ in range(BURST):
                self.request(reader, self.next_body())
        self.generations = len(reader.gens)
        self.dead_slots = reader.n_docs - len(reader)
        self.tracer.enabled = self.trace

    # --- results -------------------------------------------------------
    def result(self) -> dict:
        out = {
            "ops_s": self.ops,
            "reads_s": self.reads,
            "setups_s": self.setups,
            "yardstick_ms": self.yard.median_ms(),
            "index_bytes": self.index_bytes,
            "rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
            "responses": self.responses,
            "mismatched": self.mismatched,
            "attempted": self.attempted,
            "failed": self.failed,
            "errors": self.errors[:20],
            "ingest_s": self.ingest,
            "reopen_s": self.reopen,
            "batches_done": self.batches_done,
        }
        if self.trace:
            out["per_layer"] = self.per_layer()
        return out

    def per_layer(self) -> dict:
        layers = self.tracer.by_layer()  # a missing layer reads as zeros
        n_req = max(1, layers["dsl"]["n"])

        def per_req(name, key="self_s", scale=1e3):
            return layers[name][key] * scale / n_req

        def top(name):  # durations of the calls the benchmark made itself
            return [s[2] - s[1] for s in self.tracer.spans if s[0] == name and s[3] is None]

        b = self.builds
        last = b[-1] if b else {}
        traced = [o for o, on in zip(self.ops, self.traced_ops) if on]
        plain = [o for o, on in zip(self.ops, self.traced_ops) if not on]
        blocks = layers["reader.fetch_blocks"]["rows"]
        matched = layers["dsl"]["matched"]
        return {
            "session.start_s": self.session_start_s,
            "build.fingerprint_s": median([x["fingerprint_s"] for x in b]),
            "build.docmap_s": median([x["docmap_s"] for x in b]),
            "build.segments_s": median([x["segments_s"] for x in b]),
            "build.finalize_s": median([x["finalize_s"] for x in b]),
            "build.spark_jobs": median([x["jobs"] for x in b]),
            "build.spark_tasks": median([x["tasks"] for x in b]),
            "build.postings": last.get("postings_emitted", 0),
            "build.terms": last.get("n_terms", 0),
            "build.blocks": last.get("n_blocks", 0),
            "build.bytes_per_posting": (
                last["bytes_compressed"] / last["postings_emitted"]
                if last.get("postings_emitted") else 0.0),
            "incremental.reopen_s": median(self.reopen),
            "incremental.generations": self.generations,
            "incremental.dead_slots": self.dead_slots,
            "reader.pin_s": median(top("reader.pin")),
            "reader.doc_arrays_s": median(top("reader.doc_arrays")),
            "reader.fetch_ms": per_req("reader.fetch_blocks", "total_s"),
            "reader.blocks_per_request": blocks / n_req,
            "reader.spark_jobs_per_request": (  # over the traced requests
                sum(self.request_jobs) / len(self.request_jobs) if self.request_jobs else 0.0),
            "codec.decode_ms": per_req("codec.decode", "total_s"),
            "codec.postings_decoded": per_req("codec.decode", "postings", 1.0),
            "scorer.self_ms": per_req("scorer"),
            "scorer.matched_docs": matched / n_req,
            "wand.blocks_total": blocks / n_req,
            "wand.blocks_decoded_ratio": (
                layers["codec.decode"]["blocks"] / blocks if blocks else 0.0),
            "dsl.self_ms": per_req("dsl"),
            "dsl.returned_over_matched": (
                layers["dsl"]["returned"] / matched if matched else 0.0),
            "analysis.query_tokenize_us": per_req("analysis.tokenize", "total_s", 1e6),
            "trace.overhead_ratio": (
                median(traced) / median(plain) if traced and plain else 0.0),
        }


def main(argv: list[str]) -> int:
    work, workload, seconds, trace = argv[0], argv[1], float(argv[2]), argv[3] == "1"
    run = Run(work, workload, seconds, trace)
    run.spark_start()
    log("session started")
    try:
        if workload == "prepare":  # build the kept index; measure nothing
            run.cached_index()
            return 0
        getattr(run, workload)()
        log("workload done")
        res = run.result()
    finally:
        stop_spark(run.spark)
        log("session stopped")
    if trace:
        run.tracer.dump(os.path.join(work, "spans.jsonl"))
    with open(os.path.join(work, "result.json.tmp"), "w") as f:
        json.dump(res, f)
    os.replace(os.path.join(work, "result.json.tmp"), os.path.join(work, "result.json"))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
