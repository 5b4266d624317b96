"""Engine configuration.

The reference configures itself from env vars + SQL-comment struct tags
(reference: config.go:25-80, conftags/tags.go:60-114). We replace that DSL
with a plain dataclass — the Spark-native equivalent of its Database/Table
config tree (reference: postgres/config.go:34-52).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from search_replica_spark import B, K1


@dataclass(frozen=True)
class IndexConfig:
    k1: float = K1
    b: float = B
    shuffle_partitions: int = 32
    # columns of the input contract (BASELINE.json#input_hint)
    input_columns: tuple[str, ...] = ("repo", "path", "commit", "lang", "content")
    # "auto" (default): the jvm codegen path. Measured head-to-head at the
    #        bench's 32-core setting (r6, quiet box, same commit): jvm 41.3 s
    #        vs arrow 79.7 s for the sf0.1 build — the JVM→Python Arrow copy
    #        of every content byte is what saturates this box's shared
    #        memory bandwidth, and it costs ~2× the explode+groupBy shuffle
    #        it saves. (An earlier min-of-3 on a CONTENDED box measured the
    #        opposite; the uncontended 32-core number is the driver's shape.)
    # "jvm": regexp_extract_all inside whole-stage codegen (no Python in
    #        the hot loop; required for positions / field_analyzers);
    # "arrow": Arrow-batched pandas tokenizer whose per-batch (doc, term,
    #        tf) aggregation makes the postings write MAP-ONLY (no explode+
    #        groupBy shuffle of every posting) — the right trade on clusters
    #        whose constraint is shuffle/network capacity rather than local
    #        memory bandwidth; also the extension point for analyses Spark
    #        SQL cannot express.
    # All produce identical postings (tested); the shared regex lives in
    # analysis.tokenizer.
    tokenizer: str = "auto"
    # dedup input rows by (repo, path) before indexing (last-wins is
    # undefined without an ordering column, so an arbitrary-but-single row
    # survives). Off by default: the build instead FAILS FAST when the same
    # doc_id appears twice (duplicate input or a 60-bit hash collision) —
    # silent posting merges are never allowed. At a true 10^12-doc scale the
    # identity should be the full 256-bit hash as two longs; doc_idx already
    # carries all internal identity, so only this guard would change.
    dedup_input: bool = False
    # per-field analysis (ES mapping parity, demo/mapping.json:22-29):
    # ((field, "text"|"keyword"), ...). When set, every term is qualified as
    # "field:term" (Lucene per-field term space) — "text" runs the standard
    # analyzer, "keyword" indexes the exact value as one untokenized term.
    # None (default) = the single-field contract (content, text analyzer).
    # doc_len then counts tokens across ALL mapped fields (one norm per doc
    # — a deliberate simplification of ES's per-field norms; scoring stays
    # self-consistent and oracle-twinnable). Requires the jvm tokenizer.
    field_analyzers: tuple[tuple[str, str], ...] | None = None
    # store token POSITIONS per posting (a list<int32> column of postings/,
    # tf long) — enables phrase queries (Lucene PhraseQuery semantics). Off
    # by default: positions cost one value per token OCCURRENCE, the classic
    # Lucene omitTermFreqAndPositions trade. Requires the jvm tokenizer
    # (posexplode supplies positions).
    store_positions: bool = False
    # persist the full source row (every input column, content included) in
    # the per-index docs/ store — Lucene stored-fields/_source parity. Off by
    # default (docs/ then carries only identity + stats columns). Required
    # for partial updates (ES `_update {"doc": ...}`, reference
    # postgres/table.go:143-151): the engine resolves a partial row by
    # merging its non-null columns over the latest stored version and
    # re-indexing the merged doc — exactly what ES does internally.
    store_source: bool = False


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
