"""Self-check mimicking the driver's correctness gate:
run each __spark_entry__.queries() entry at sf0.01 and compare against its
oracle_sql() twin via DuckDB (row count + column names + sorted values)."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    return pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)


def values_equal(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            if os.environ.get("EXACT", "0") == "1":
                # r4 verdict: a float that can't convert must FAIL the
                # gate loudly, not soften into a string compare
                raise TypeError(
                    f"EXACT mode: unconvertible float operands {a!r} vs {b!r}"
                )
            return str(a) == str(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        if os.environ.get("EXACT", "0") == "1":
            return fa == fb  # driver value-hash proxy: bit equality
        return abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb))
    return a == b


def frames_match(spark_pdf, duck_pdf) -> str | None:
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        return f"columns differ: {sorted(spark_pdf.columns)} vs {sorted(duck_pdf.columns)}"
    if len(spark_pdf) != len(duck_pdf):
        return f"row count {len(spark_pdf)} vs {len(duck_pdf)}"
    a, b = canon(spark_pdf.copy()), canon(duck_pdf.copy())
    for col in a.columns:
        av, bv = a[col].tolist(), b[col].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            if not values_equal(x, y):
                return f"value mismatch col={col} row={i}: {x!r} vs {y!r}"
    return None


def main():
    import __spark_entry__ as ent
    from search_replica_spark.session import get_spark

    spark = get_spark("harness_check", cores=8, shuffle_partitions=8,
                      extra={"spark.ui.showConsoleProgress": "false"})
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs, os_ = ent.queries(), ent.oracle_sql()
    only = sys.argv[1:]
    fails = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            fails += 1
            continue
        if name not in os_:
            print(f"ROWS-ONLY {name}: {len(sdf)} rows, cols={list(sdf.columns)}")
            continue
        try:
            ddf = con.execute(os_[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            fails += 1
            continue
        try:
            err = frames_match(sdf, ddf)
        except TypeError as e:
            # EXACT-mode unconvertible-float guard: fail THIS query loudly
            # but keep checking the rest — aborting mid-loop would leave
            # every later entry unverified and no summary line
            err = str(e)
        if err:
            print(f"FAIL {name}: {err}")
            fails += 1
        else:
            print(f"OK   {name}: {len(sdf)} rows")
    print(f"\n{'ALL GREEN' if fails == 0 else f'{fails} FAILURES'}")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
