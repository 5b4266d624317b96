"""Round-6 optimization guards: the rewritten internals must produce
bit-identical results to the shapes they replaced."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def spark():
    from search_replica_spark.session import get_spark

    return get_spark("test_r06_opts", cores=4, shuffle_partitions=4)


def test_bucket_pairs_slice_expansion(spark):
    """The distributed slice expansion emits exactly the a<b pairs of the
    old explode²+filter form, including across the repartition."""
    from search_replica_spark.operators.dedup import _bucket_pairs

    rows = [(b % 3, i * 7 % 97) for b in range(3) for i in range(40 + b * 13)]
    df = spark.createDataFrame(rows, "bkt int, id int").distinct()
    got = {
        (r["_a"], r["_b"])
        for r in _bucket_pairs(df, ["bkt"], "id").collect()
    }
    pdf = df.toPandas()
    want = set()
    for _b, g in pdf.groupby("bkt"):
        ids = sorted(g["id"].tolist())
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                want.add((ids[i], ids[j]))
    assert got == want
