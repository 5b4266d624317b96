import os
import sys

import pytest

# ensure repo root importable when pytest runs from elsewhere
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from search_replica_spark.session import get_spark

    sp = get_spark("tests", cores=8, shuffle_partitions=8)
    yield sp


@pytest.fixture(scope="session")
def small_corpus():
    from search_replica_spark.corpus import generate_corpus

    return generate_corpus(600)


@pytest.fixture(scope="session")
def small_index(spark, small_corpus, tmp_path_factory):
    """Index built once over the 600-doc corpus; shared by query tests."""
    from search_replica_spark.config import IndexConfig
    from search_replica_spark.index.build import build_index

    out = str(tmp_path_factory.mktemp("idx"))
    sdf = spark.createDataFrame(small_corpus)
    cfg = IndexConfig(shuffle_partitions=8)
    stats = build_index(spark, sdf, out, cfg)
    return out, stats


@pytest.fixture(scope="session")
def small_oracle(small_corpus):
    from search_replica_spark.oracle import OracleIndex

    return OracleIndex.build(small_corpus)
