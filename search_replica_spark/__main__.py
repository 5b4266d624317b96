"""CLI entry point, runnable locally or via spark-submit:

  # local
  python -m search_replica_spark build --corpus /path/code_files.parquet --out /tmp/idx
  python -m search_replica_spark query --index /tmp/idx --q "XMLHttpRequest parser" -k 10
  python -m search_replica_spark compact --index-dir /tmp/inc --corpus /path/current.parquet

  # cluster (north_rule: spark-submit --py-files)
  zip -r ssr.zip search_replica_spark
  spark-submit --py-files ssr.zip cli.py build --corpus ... --out ...
    (where cli.py is: `from search_replica_spark.__main__ import main; main()`)

Under spark-submit the active session is reused (getOrCreate); standalone it
builds a local one with the engine's standard settings.
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(args):
    from search_replica_spark.session import get_spark

    return get_spark("search_replica_spark", cores=args.cores, shuffle_partitions=args.cores)


def _read(args) -> None:
    """The read commands: ``query`` (the in-driver scorer, or with
    ``--dsl`` an ES query or /_search request body), ``count``, ``get``
    and ``termvectors``. Each reads the index parquet in the driver
    through ``IndexReader`` and starts no Spark session."""
    from search_replica_spark.query.bm25 import IndexReader

    if args.cmd == "count":
        from search_replica_spark.query.bm25 import count_match

        rd = IndexReader(None, args.index)
        print(json.dumps({"count": count_match(rd, args.q, mode=args.operator)}))
    elif args.cmd == "get":
        ids = [int(x) for x in args.ids.split(",")]
        for row in _stored_rows(IndexReader(None, args.index_dir), ids):
            print(json.dumps(row, default=str))
    elif args.cmd == "termvectors":
        _termvectors(IndexReader(None, args.index_dir), args.id)
    elif args.dsl:
        _dsl(IndexReader(None, args.index), args.q, args.k)
    else:
        hits = IndexReader(None, args.index).score(args.q, args.k)
        print(json.dumps([{"doc_id": d, "score": s} for d, s in hits]))


def _stored_rows(rd, ids: list[int]) -> list[dict]:
    """ES GET/mget: every stored column of the live docs among ``ids``,
    ``doc_id`` first and then the docs stores' columns in generation order
    (a column a generation lacks is null), ordered by doc_id. A struct
    prints as the list of its values."""
    import os

    import pyarrow.parquet as pq

    from search_replica_spark.index.manifest import part_files

    cols = dict.fromkeys(["doc_id"])
    for g in rd.live_gens:
        first = part_files(os.path.join(g["dir"], "docs"))[0]
        cols.update(dict.fromkeys(pq.read_schema(first).names))
    cols.pop("doc_idx", None)
    t = rd.stored_fields(ids, list(cols)).sort_by("doc_id").select(list(cols))
    return [{c: _struct_values(v) for c, v in row.items()} for row in t.to_pylist()]


def _struct_values(v):
    if isinstance(v, dict):
        return [_struct_values(x) for x in v.values()]
    if isinstance(v, list):
        return [_struct_values(x) for x in v]
    return v


def _termvectors(rd, doc_id: int) -> None:
    """ES _termvectors of one live doc's stored content: term → tf and
    positions, analyzed with the build tokenizer."""
    from search_replica_spark.analysis import tokenize_text

    t = rd.stored_fields([doc_id], ["content"])
    text = t["content"][0].as_py() if "content" in t.column_names and t.num_rows else None
    if text is None:
        print(json.dumps({"_id": doc_id, "found": False}))
        return
    terms: dict = {}
    for pos, tok in enumerate(tokenize_text(text)):
        e = terms.setdefault(tok, {"term_freq": 0, "positions": []})
        e["term_freq"] += 1
        e["positions"].append(pos)
    print(json.dumps({
        "_id": doc_id, "found": True,
        "term_vectors": {"content": {"terms": dict(sorted(terms.items()))}},
    }))


def _dsl(rd, body: str, k: int) -> None:
    """The ES switch-over path: run the user's query or /_search body
    as-is (``@path`` reads it from a file)."""
    from search_replica_spark.query.dsl import execute_dsl, execute_request

    if body.startswith("@"):
        with open(body[1:]) as f:
            body = f.read()
    req = json.loads(body)
    if isinstance(req, dict) and (set(req) - {"query"}):
        # a full /_search request body (from/size/sort/highlight/
        # min_score/...) — answer ES-shaped; a key the request does not
        # read (a bare query object's kind) is refused with its name
        if "size" not in req:
            req["size"] = k
        try:
            resp = execute_request(rd, req)
        except ValueError as e:
            sys.exit(f"query --dsl: {e}")
        print(json.dumps(resp))
        return
    ih: dict = {}
    hits = execute_dsl(rd, req, k=k, inner_hits=ih)
    out = [{"doc_id": d, "score": s} for d, s in hits]
    for h in out:
        if h["doc_id"] in ih:
            h["inner_hits"] = [{"doc_id": c, "score": cs} for c, cs in ih[h["doc_id"]]]
    print(json.dumps(out))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="search_replica_spark")
    p.add_argument("--cores", type=int, default=None, help="local[N]; omit under spark-submit")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build the inverted index from a corpus table")
    b.add_argument("--corpus", required=True, help="parquet path or Iceberg table name")
    b.add_argument("--out", required=True)
    b.add_argument("--snapshot-id", type=int, default=None)
    b.add_argument("--partitions", type=int, default=32)
    b.add_argument("--store-source", action="store_true",
                   help="persist the full source row in docs/ (Lucene stored "
                        "fields) — required for get/update")

    q = sub.add_parser("query", help="BM25 top-k against a built index")
    q.add_argument("--index", required=True)
    q.add_argument("--q", required=True)
    q.add_argument("-k", type=int, default=10)
    q.add_argument("--strategy", choices=["tata", "spark"], default="tata")
    q.add_argument(
        "--dsl", action="store_true",
        help="treat --q as an ES Query-DSL request JSON (the body a "
        "reference user POSTs to /_search today) and execute it verbatim; "
        "@path reads the JSON from a file",
    )

    c = sub.add_parser("compact", help="merge incremental generations from a snapshot")
    c.add_argument("--index-dir", required=True)
    c.add_argument("--corpus", required=True)

    g = sub.add_parser(
        "ingest",
        help="index one CDC batch as a generation (rows with _change_type="
        "'delete' become tombstones — reference: Delete dispatch)",
    )
    g.add_argument("--index-dir", required=True)
    g.add_argument("--batch", required=True, help="parquet path of the micro-batch")
    g.add_argument("--store-source", action="store_true",
                   help="store _source with the generation (required when the "
                        "batch carries _change_type='update_partial' rows)")

    ge = sub.add_parser("get", help="GET/mget by engine doc_id over the stored _source")
    ge.add_argument("--index-dir", required=True)
    ge.add_argument("--ids", required=True, help="comma-separated engine doc_ids")

    u = sub.add_parser(
        "update",
        help="scripted update (ES _update {script}): apply Spark SQL "
             "expressions to every doc matching --where, re-index as a new "
             "generation (requires a store_source index)",
    )
    u.add_argument("--index-dir", required=True)
    u.add_argument("--where", required=True, help="SQL predicate over the doc columns")
    u.add_argument("--set", action="append", required=True, metavar="COL=EXPR",
                   help="column assignment, repeatable (EXPR is Spark SQL over "
                        "the doc's current columns)")

    st = sub.add_parser(
        "stream",
        help="run the Structured Streaming ingest loop over a parquet drop dir "
        "(the reference's long-running replication loop)",
    )
    st.add_argument("--index-dir", required=True)
    st.add_argument("--input-dir", required=True)
    st.add_argument(
        "--trigger", default="availableNow",
        help='"availableNow" (drain+stop) or a processingTime interval like "5 seconds"',
    )
    st.add_argument("--with-deletes", action="store_true",
                    help="input schema includes a _change_type column")
    st.add_argument("--max-generations", type=int, default=None,
                    help="Lucene-style merge policy: collapse generations when "
                         "the count exceeds this (merge uses index data only)")

    rp = sub.add_parser(
        "replicate",
        help="multi-table replication into one index from a JSON config "
        "(topo-ordered main + inline child streams — the reference's "
        "whole-database replication loop, replication.go:237-367)",
    )
    rp.add_argument("--index-dir", required=True)
    rp.add_argument(
        "--config", required=True,
        help='JSON file: {"<table>": {"input_dir": ..., "schema": "<DDL>", '
        '"kind": "main"|"inline", "parent": "<table>", ...}}',
    )
    rp.add_argument(
        "--trigger", default="availableNow",
        help='"availableNow" (drain in topo order, then exit) or a '
        'processingTime interval like "5 seconds" (run until killed)',
    )

    m = sub.add_parser(
        "metrics",
        help="print the replication-loop metrics surface (K9 — the "
        "reference's /state healthcheck + slot-lag analogue); no Spark "
        "session needed",
    )
    m.add_argument("--index-dir", required=True)
    m.add_argument("--refresh", action="store_true",
                   help="recompute from generations.json before printing")

    sv = sub.add_parser(
        "serve",
        help="HTTP /metrics (Prometheus text) + /state (JSON healthcheck) "
        "for an index dir (reference: main.go:100-107); no Spark needed",
    )
    sv.add_argument("--index-dir", required=True)
    sv.add_argument("--port", type=int, default=9090)
    sv.add_argument("--input-dir", default=None,
                    help="source dir for LIVE slot-lag gauges on /metrics "
                    "(pending_input_files / seconds_behind_source)")

    sn = sub.add_parser(
        "snapshot",
        help="point-in-time snapshot of an index (ES snapshot-API parity; "
        "hardlinks when possible); no Spark needed",
    )
    sn.add_argument("--index-dir", required=True)
    sn.add_argument("--snap-dir", required=True)

    rs = sub.add_parser(
        "restore", help="restore a snapshot to a (new) index dir; no Spark needed"
    )
    rs.add_argument("--snap-dir", required=True)
    rs.add_argument("--index-dir", required=True)

    al = sub.add_parser(
        "alias",
        help="ES index aliases: zero-downtime reindex swap (atomic "
        "aliases.json in the base dir); query/get/metrics/serve resolve "
        "aliases automatically; no Spark needed",
    )
    al.add_argument("action", choices=["set", "rm", "ls"])
    al.add_argument("--base-dir", required=True, help="directory holding the indexes")
    al.add_argument("--name", help="alias name (set/rm)")
    al.add_argument("--target", help="index dir the alias points at (set)")

    ri = sub.add_parser(
        "reindex",
        help="ES _reindex: build a NEW index from another index's live "
        "stored _source (optional --where filter); destination inherits "
        "the source's creation-time flags",
    )
    ri.add_argument("--src", required=True)
    ri.add_argument("--dest", required=True)
    ri.add_argument("--where", default=None, help="SQL predicate over the doc columns")

    dq = sub.add_parser(
        "delete-by-query",
        help="ES _delete_by_query: tombstone every live doc matching a "
        "query (plain match text, or --dsl for an ES request JSON); "
        "commits one delete-only generation",
    )
    dq.add_argument("--index-dir", required=True)
    dq.add_argument("--q", required=True)
    dq.add_argument("--dsl", action="store_true")

    ct = sub.add_parser(
        "count",
        help="ES _count API: matching-doc cardinality for a query "
        "(no scoring, no fetch)",
    )
    ct.add_argument("--index", required=True)
    ct.add_argument("--q", required=True)
    ct.add_argument("--operator", choices=["or", "and"], default="or")

    tv = sub.add_parser(
        "termvectors",
        help="ES _termvectors API: per-document term statistics "
        "(term → tf + positions) from the stored _source, analyzed with "
        "the exact build tokenizer",
    )
    tv.add_argument("--index-dir", required=True)
    tv.add_argument("--id", required=True, type=int)

    an = sub.add_parser(
        "analyze",
        help="ES _analyze API: show how text tokenizes (the exact analyzer "
        "the index build uses); no Spark needed",
    )
    an.add_argument("--text", required=True)
    an.add_argument("--field", default=None,
                    help="analyze as this field of a fielded mapping "
                    "(keyword fields pass the value through untokenized)")
    an.add_argument("--analyzer", default="text", choices=["text", "keyword"])

    mp = sub.add_parser(
        "mapping",
        help="ES GET /<index>/_mapping: the index's field mapping derived "
        "from stats.json (input columns, analyzers, positions/_source "
        "flags); no Spark needed",
    )
    mp.add_argument("--index-dir", required=True)

    args = p.parse_args(argv)
    if args.cmd == "analyze":  # pure Python — the same TOKEN_PATTERN path
        from search_replica_spark.analysis import tokenize_text
        from search_replica_spark.analysis.fields import field_query_terms

        if args.field:
            toks = field_query_terms(args.field, args.text, kind=args.analyzer)
        elif args.analyzer == "keyword":
            toks = [args.text]
        else:
            toks = tokenize_text(args.text)
        print(json.dumps({"tokens": [
            {"token": t, "position": i} for i, t in enumerate(toks)
        ]}))
        return 0
    if args.cmd == "mapping":  # pure file metadata — no Spark session
        from search_replica_spark.index.alias import resolve_index
        from search_replica_spark.index.manifest import _gen_stats, read_generations

        idx = resolve_index(args.index_dir)
        gens = read_generations(idx)
        # build flags are fixed at creation: every generation has the same
        st = _gen_stats(idx, [g for g in gens if g["dir"]][-1])
        fa = st.get("field_analyzers")
        # a plain build analyzes the default content field; a fielded build
        # analyzes exactly its mapped fields
        analyzers = dict(fa) if fa is not None else {"content": "text"}
        props = {}
        for col in st.get("input_columns", []):
            kind = analyzers.get(col)
            if kind is None:
                props[col] = {"type": "text", "index": False, "store": True}
            elif kind == "noindex":
                props[col] = {"type": "text", "index": False}
            elif kind.startswith("keyword"):
                ent = {"type": "keyword"}
                if ":" in kind:
                    ent["ignore_above"] = int(kind.split(":", 1)[1])
                props[col] = ent
            else:
                props[col] = {"type": "text"}
        print(json.dumps({"mappings": {
            "properties": props,
            "_source": {"enabled": bool(st.get("store_source"))},
            "index_options": (
                "positions" if st.get("store_positions") else "freqs"
            ),
            "n_docs": sum(g["n_docs"] for g in gens),
        }}))
        return 0
    if args.cmd == "alias":  # pure file metadata — no Spark session
        from search_replica_spark.index.alias import aliases, delete_alias, set_alias

        if args.action == "set":
            if not args.name or not args.target:
                p.error("alias set requires --name and --target")
            prev = set_alias(args.base_dir, args.name, args.target)
            print(json.dumps({"alias": args.name, "target": args.target, "previous": prev}))
        elif args.action == "rm":
            if not args.name:
                p.error("alias rm requires --name")
            print(json.dumps({"alias": args.name, "removed": delete_alias(args.base_dir, args.name)}))
        else:
            print(json.dumps(aliases(args.base_dir)))
        return 0

    # every command that OPERATES ON an existing index accepts an alias for
    # it (build/restore create their target, so their paths stay literal);
    # commands that may legitimately create a new index resolve an alias if
    # one matches and otherwise keep the literal path
    if args.cmd in ("query", "get", "metrics", "serve", "update", "snapshot",
                    "count", "termvectors", "delete-by-query"):
        from search_replica_spark.index.alias import resolve_index

        attr = "index" if args.cmd in ("query", "count") else "index_dir"
        setattr(args, attr, resolve_index(getattr(args, attr)))
    elif args.cmd in ("ingest", "stream", "compact", "replicate"):
        from search_replica_spark.index.alias import resolve_index_or_literal

        args.index_dir = resolve_index_or_literal(args.index_dir)
    if args.cmd == "snapshot":
        from search_replica_spark.snapshot import snapshot_index

        print(json.dumps(snapshot_index(args.index_dir, args.snap_dir)))
        return 0
    if args.cmd == "restore":
        from search_replica_spark.snapshot import restore_index

        print(json.dumps(restore_index(args.snap_dir, args.index_dir)))
        return 0
    if args.cmd == "serve":  # pure file reads — no Spark session
        from search_replica_spark.serve import serve_state

        srv, port = serve_state(args.index_dir, args.port, input_dir=args.input_dir)
        print(json.dumps({"listening": port, "endpoints": ["/metrics", "/state"]}))
        try:
            import threading

            threading.Event().wait()  # serve until interrupted
        except KeyboardInterrupt:
            srv.shutdown()
        return 0
    if args.cmd == "metrics":  # pure file read — no Spark session
        from search_replica_spark.streaming.incremental import read_metrics, write_metrics

        out = write_metrics(args.index_dir) if args.refresh else read_metrics(args.index_dir)
        print(json.dumps(out))
        return 0
    if args.cmd in ("count", "get", "termvectors") or (
        args.cmd == "query" and (args.dsl or args.strategy == "tata")
    ):
        _read(args)
        return 0

    spark = _spark(args)

    if args.cmd == "reindex":
        from search_replica_spark.index.alias import resolve_index
        from search_replica_spark.streaming.incremental import reindex

        st = reindex(spark, resolve_index(args.src), args.dest, where=args.where)
        print(json.dumps({k: st[k] for k in ("n_docs", "total_tokens") if k in st}))
        return 0
    if args.cmd == "delete-by-query":
        from search_replica_spark.streaming.incremental import delete_by_query

        q = json.loads(args.q) if args.dsl else args.q
        print(json.dumps(delete_by_query(spark, args.index_dir, q)))
        return 0

    if args.cmd == "build":
        from search_replica_spark.config import IndexConfig
        from search_replica_spark.index.build import build_index
        from search_replica_spark.sources.code_table import read_corpus

        corpus = read_corpus(spark, args.corpus, snapshot_id=args.snapshot_id)
        stats = build_index(
            spark, corpus, args.out,
            IndexConfig(shuffle_partitions=args.partitions, store_source=args.store_source),
        )
        print(json.dumps(stats))
    elif args.cmd == "query":  # --strategy spark: the distributed plan
        from search_replica_spark.query.bm25 import bm25_topk_spark

        rows = bm25_topk_spark(spark, args.index, args.q, args.k).collect()
        print(json.dumps([{"doc_id": r["doc_id"], "score": r["score"]} for r in rows]))
    elif args.cmd == "compact":
        from search_replica_spark.sources.code_table import read_corpus
        from search_replica_spark.streaming.incremental import compact

        stats = compact(spark, read_corpus(spark, args.corpus), args.index_dir)
        print(json.dumps(stats))
    elif args.cmd == "ingest":
        from search_replica_spark.config import IndexConfig
        from search_replica_spark.streaming.incremental import (
            add_generation,
            derive_index_cfg,
        )

        # an existing index pins the build flags (positions/source/
        # analyzers); --store-source only matters for the FIRST generation
        cfg = derive_index_cfg(args.index_dir, IndexConfig(store_source=args.store_source))
        stats = add_generation(spark, spark.read.parquet(args.batch), args.index_dir, cfg)
        print(json.dumps(stats))
    elif args.cmd == "update":
        from search_replica_spark.streaming.incremental import scripted_update

        # build flags derive from the index itself; a sourceless index is
        # rejected with a clear error instead of silently wiping content
        set_exprs = dict(kv.split("=", 1) for kv in args.set)
        stats = scripted_update(spark, args.index_dir, args.where, set_exprs)
        print(json.dumps(stats))
    elif args.cmd == "stream":
        from search_replica_spark.sources.code_table import INPUT_SCHEMA
        from search_replica_spark.streaming.incremental import index_stream

        schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in INPUT_SCHEMA.fields)
        if args.with_deletes:
            schema += ", _change_type string"
        trig = (
            {"availableNow": True}
            if args.trigger == "availableNow"
            else {"processingTime": args.trigger}
        )
        q = index_stream(spark, args.input_dir, args.index_dir, schema, trigger=trig,
                         max_generations=args.max_generations)
        q.awaitTermination()
    elif args.cmd == "replicate":
        import json as _json

        from search_replica_spark.streaming.orchestrate import replicate_tables

        with open(args.config) as f:
            tables = _json.load(f)
        trig = (
            {"availableNow": True}
            if args.trigger == "availableNow"
            else {"processingTime": args.trigger}
        )
        handles = replicate_tables(
            spark, tables, args.index_dir, trigger=trig
        )
        if args.trigger != "availableNow":
            for q in handles.values():
                q.awaitTermination()
    return 0


if __name__ == "__main__":
    sys.exit(main())
