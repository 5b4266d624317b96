"""Exact logical comparison of two format-2 index dirs (old vs new build code).

Compares: stats.json (minus build_sec), dict (term, term_id, df, start),
docs (all columns), postings (term_id, doc_idx, tf[, positions], sorted by
term_id then doc_idx — the order a reader concatenates them in).

Usage: python scripts/compare_index.py OLD_DIR NEW_DIR
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _cells(col):
    """List cells (positions) as tuples, so that they compare by value."""
    return col.map(lambda v: tuple(v) if isinstance(v, np.ndarray) else v)


def main():
    old, new = sys.argv[1], sys.argv[2]
    from search_replica_spark.session import get_spark

    spark = get_spark("compare_index", cores=8, shuffle_partitions=8)
    ok = True

    with open(os.path.join(old, "stats.json")) as f:
        so = json.load(f)
    with open(os.path.join(new, "stats.json")) as f:
        sn = json.load(f)
    for k in set(so) | set(sn):
        if k == "build_sec":
            continue
        if so.get(k) != sn.get(k):
            print(f"STATS DIFF {k}: {so.get(k)!r} vs {sn.get(k)!r}")
            ok = False

    def cmp(sub, sort_cols):
        nonlocal ok
        a = spark.read.parquet(os.path.join(old, sub)).toPandas()
        b = spark.read.parquet(os.path.join(new, sub)).toPandas()
        a = a.reindex(sorted(a.columns), axis=1).sort_values(sort_cols).reset_index(drop=True)
        b = b.reindex(sorted(b.columns), axis=1).sort_values(sort_cols).reset_index(drop=True)
        if list(a.columns) != list(b.columns):
            print(f"{sub}: COLUMN DIFF {list(a.columns)} vs {list(b.columns)}")
            ok = False
            return
        if len(a) != len(b):
            print(f"{sub}: ROW COUNT {len(a)} vs {len(b)}")
            ok = False
            return
        for c in a.columns:
            ca, cb = _cells(a[c]), _cells(b[c])
            eq = (ca == cb) | (a[c].isna() & b[c].isna())
            if not eq.all():
                bad = (~eq).idxmax()
                print(f"{sub}: DIFF col {c} at row {bad}: {a[c][bad]!r} vs {b[c][bad]!r} "
                      f"({int((~eq).sum())} rows differ)")
                ok = False
        print(f"{sub}: {'OK' if ok else 'CHECKED'} ({len(a)} rows)")

    cmp("dict", ["term"])
    cmp("docs", ["doc_idx"])
    cmp("postings", ["term_id", "doc_idx"])
    print("RESULT:", "IDENTICAL" if ok else "DIFFERS")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
