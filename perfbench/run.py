"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Generates the workload's seeded inputs
(``gen.py``), runs the workload against ``search_replica_spark`` in a child
process (``driver.py``), checks every answer against the reference scorer
(``check.py``), and prints one line per metric followed by one JSON object
as the last line of standard output. With ``--trace 1`` the child wraps
each layer's entry points and the JSON carries the per-layer metrics
instead of the end-to-end ones.

Exit status: 0 when every answer is right, 1 on a wrong answer or a failed
operation, 2 on bad arguments or a missing package, 3 when the child
process fails or overruns.
"""

from __future__ import annotations

import argparse
import ctypes
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
CHILD_TIMEOUT_S = 165

# files in the generated corpus, per workload (README.md, "Sizing")
WORKLOADS = {
    "search_hot": 12000,
    "cdc_mixed": 4000,
}
POOL_SIZE = 256
CDC_BATCHES = 2  # all timed; each costs 8–10 s of fixed Spark work
# search_hot's corpus is the same on every run, so its index is built once
# per checkout and engine version and kept (README.md, "Index cache"); the
# seed picks the request pool's words
HOT_CORPUS_SEED = 20_251_017


def index_cache(workload: str) -> str:
    """Where the workload's index is kept between runs, named by a hash of
    every engine source file, the generator, the driver and the corpus."""
    h = hashlib.sha256(f"{workload}:{WORKLOADS[workload]}:{HOT_CORPUS_SEED}".encode())
    files = [os.path.join(HERE, "gen.py"), os.path.join(HERE, "driver.py")]
    for d, dirs, names in os.walk(os.path.join(ROOT, "search_replica_spark")):
        dirs[:] = sorted(x for x in dirs if x != "__pycache__")
        files += [os.path.join(d, n) for n in sorted(names) if not n.endswith(".pyc")]
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return os.path.join(ROOT, ".perfbench", "cache", f"{workload}-{h.hexdigest()[:16]}")


def env_info() -> dict:
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"nproc": len(os.sched_getaffinity(0)), "ram_gb": round(ram / 2**30, 1),
            "loadavg": load}


def cpu_times() -> list[int]:
    """The machine's cpu line from /proc/stat (user ... steal, in ticks)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between:
    high values mean a slow, shared host rather than slow code."""
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / sum(d) if sum(d) else 0.0


def write_parquet(df, path: str, parts: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    step = math.ceil(len(df) / parts)
    for i in range(parts):
        chunk = df.iloc[i * step:(i + 1) * step]
        if len(chunk):
            pq.write_table(pa.Table.from_pandas(chunk, preserve_index=False),
                           os.path.join(path, f"part-{i:03d}.parquet"))


def make_inputs(workload: str, seed: int, work: str):
    """Write the child's inputs to ``work``; return (corpus, pool, batches)."""
    import pandas as pd

    import gen

    hot = workload == "search_hot"
    corpus, writer = gen.generate_corpus(HOT_CORPUS_SEED if hot else seed, WORKLOADS[workload])
    cache = index_cache(workload) if hot else None
    if not (cache and os.path.isdir(cache)):
        write_parquet(corpus.docs, os.path.join(work, "corpus.parquet"),
                      len(os.sched_getaffinity(0)))
    pool = gen.request_pool(corpus, seed, POOL_SIZE)
    stream = gen.request_stream(POOL_SIZE, 20_000).tolist()
    batches, files = [], []
    if workload == "cdc_mixed":
        marker_of: dict[tuple[str, str], str] = {}
        for b, batch in enumerate(gen.cdc_batches(seed, corpus, writer, CDC_BATCHES)):
            up = batch.upserts.drop(columns=["marker"]).assign(_change_type="upsert")
            dels = batch.deletes.assign(commit=None, lang=None, content=None,
                                        _change_type="delete")
            name = f"batch{b}.parquet"
            write_parquet(pd.concat([up, dels[up.columns]], ignore_index=True),
                          os.path.join(work, name), 1)
            # probe: this batch's markers, plus the markers the docs it
            # deletes carried (those must no longer match)
            gone = [marker_of[k] for k in zip(batch.deletes["repo"], batch.deletes["path"])]
            markers = list(batch.upserts["marker"]) + gone
            marker_of.update(zip(zip(batch.upserts["repo"], batch.upserts["path"]),
                                 batch.upserts["marker"]))
            pool.append({
                "query": {"match": {"content": {"query": " ".join(markers), "operator": "or"}}},
                "size": len(markers) + 10,
            })
            files.append({"file": name, "probe": len(pool) - 1})
            batches.append(batch)
    with open(os.path.join(work, "inputs.json"), "w") as f:
        json.dump({"pool": pool, "stream": stream, "batches": files, "index_cache": cache}, f)
    return corpus, pool, batches


def run_child(work: str, workload: str, seconds: int, trace: int, budget: float) -> int:
    """Run driver.py in its own process group; stop and reap every process
    it started (the JVM and Python workers included) before returning."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER: orphans come back here
    env = dict(os.environ)
    env["PYTHONPATH"] = ROOT + os.pathsep + env.get("PYTHONPATH", "")
    env["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(env["TMPDIR"], exist_ok=True)
    # every JVM, the spark-submit launcher included: temp files in the work
    # dir, no hsperfdata file in the system temp dir
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={env['TMPDIR']} -XX:-UsePerfData"
    with open(os.path.join(work, "driver.log"), "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "driver.py"), work, workload,
             str(seconds), str(trace)],
            cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            code = None
        for sig in (signal.SIGTERM, signal.SIGKILL):
            try:
                os.killpg(proc.pid, sig)
            except ProcessLookupError:
                break
            time.sleep(0.5)
        proc.wait()
        while True:  # reap the re-parented grandchildren
            try:
                os.waitpid(-1, 0)
            except ChildProcessError:
                break
    return 3 if code is None else code


def check_answers(res: dict, corpus, pool, batches) -> int:
    """Number of wrong answers among the child's distinct responses."""
    from check import VersionedOracle, same_answer

    oracle = VersionedOracle()
    oracle.upsert(corpus.docs)
    by_state: dict[int, list] = {}
    for key, got in res["responses"].items():
        state, body = key.split(":")
        by_state.setdefault(int(state), []).append((int(body), got))
    wrong = 0
    n_states = 1 + res.get("batches_done", 0)
    for state in range(n_states):
        if state:
            batch = batches[state - 1]
            oracle.delete(batch.deletes)
            oracle.upsert(batch.upserts)
        for body, got in by_state.get(state, []):
            spec = pool[body]["query"]["match"]["content"]
            hits, total = oracle.search(spec["query"], spec["operator"], int(pool[body]["size"]))
            if not same_answer(got, hits, total):
                wrong += 1
                print(f"wrong answer: state {state} body {body}", file=sys.stderr)
        if state:
            # the probe finds every marker of the batch and no deleted one
            from search_replica_spark.oracle import doc_id_of

            got = res["responses"].get(f"{state}:{POOL_SIZE + state - 1}")
            want = {doc_id_of(r, p) for r, p in zip(batch.upserts["repo"], batch.upserts["path"])}
            if got is None or {h[0] for h in got["hits"]} != want:
                wrong += 1
                print(f"probe failed after batch {state - 1}", file=sys.stderr)
    return wrong


def pct(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    i = (len(xs) - 1) * q
    lo = math.floor(i)
    return xs[lo] + (xs[min(lo + 1, len(xs) - 1)] - xs[lo]) * (i - lo)


def end_to_end(workload: str, res: dict, src_bytes: int) -> tuple[dict, dict]:
    """(metric values named in BENCHMARK.json, detail figures with units
    printed beside them)."""
    ops, reads = res["ops_s"], res["reads_s"]
    search_p50_ms = statistics.median(reads) * 1e3
    m = {
        "setup_s": statistics.median(res["setups_s"]),
        "search_p50_over_yardstick": search_p50_ms / res["yardstick_ms"],
        "driver_rss_mb": res["rss_mb"],
        "index_bytes_per_src_byte": res["index_bytes"] / src_bytes,
    }
    d = {
        "yardstick_ms": (res["yardstick_ms"], "ms"),
        "ops": (len(ops), "count"),
        "requests": (len(reads), "count"),
        "search_p50_ms": (search_p50_ms, "ms"),
        "search_p90_ms": (pct(reads, 0.9) * 1e3, "ms"),
        "search_p99_ms": (pct(reads, 0.99) * 1e3, "ms"),
        "failed_ratio": (res["failed"] / max(1, res["attempted"]), "ratio"),
        "op_min_ms": (min(ops) * 1e3, "ms"),
        "op_max_ms": (max(ops) * 1e3, "ms"),
    }
    if workload == "search_hot":
        d["search_qps"] = (len(reads) / sum(reads), "1/s")
    else:
        d["ingest_batch_s"] = (statistics.median(res["ingest_s"]), "s")
        d["visible_s"] = (statistics.median(ops), "s")
        d["reopen_s"] = (statistics.median(res["reopen_s"]), "s")
    return m, d


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.monotonic()
    if not os.path.isfile(os.path.join(ROOT, "search_replica_spark", "__init__.py")):
        print("search_replica_spark not found beside perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    info = env_info()
    print("env " + json.dumps(info))
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        corpus, pool, batches = make_inputs(args.workload, args.seed, work)
        t_inputs = time.monotonic()
        code = 0
        if args.workload == "search_hot" and not os.path.isdir(index_cache(args.workload)):
            code = run_child(work, "prepare", 0, 0, CHILD_TIMEOUT_S - (t_inputs - t_start))
        t_prepared = time.monotonic()
        budget = CHILD_TIMEOUT_S - (t_prepared - t_start)
        cpu0 = cpu_times()
        if code == 0:
            code = run_child(work, args.workload, args.seconds, args.trace, budget)
        if code != 0:
            with open(os.path.join(work, "driver.log")) as f:
                tail = f.read()[-4000:]
            print(f"driver exited with {code}\n{tail}", file=sys.stderr)
            return 3
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        if args.trace:
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(
                base, "traces", f"{args.workload}-{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    t_child = time.monotonic()
    steal = steal_pct(cpu0, cpu_times())
    wrong = check_answers(res, corpus, pool, batches)
    failed = res["failed"] + wrong + res["mismatched"]
    for e in res["errors"]:
        print(f"error: {e}", file=sys.stderr)
    src_bytes = int(corpus.docs["content"].str.len().sum())  # ASCII text
    metrics, detail = end_to_end(args.workload, res, src_bytes)
    detail["run.inputs_s"] = (t_inputs - t_start, "s")
    detail["run.prepare_s"] = (t_prepared - t_inputs, "s")
    detail["run.program_s"] = (t_child - t_prepared, "s")
    detail["run.check_s"] = (time.monotonic() - t_child, "s")
    detail["run.cpu_steal_pct"] = (steal, "%")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.trace:
        metrics = res["per_layer"]
    named = {m["name"]: (metrics[m["name"]], m["unit"])
             for m in spec["per_layer" if args.trace else "end_to_end"]}
    for k, (v, unit) in {**named, **detail}.items():
        print(f"{k} {v:.6g} {unit}")
    out = {
        "correct": failed == 0,
        "attempted": int(res["attempted"]),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
    }
    print(json.dumps(out))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
