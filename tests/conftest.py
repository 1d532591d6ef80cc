from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from iresearch_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("iresearch-spark-tests", cores=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def bursty_store(spark, tmp_path_factory):
    """30k-doc corpus with term burstiness, one segment: mid-frequency
    burst terms give block-max WAND real blocks to skip."""
    from iresearch_spark.corpus import generate_corpus
    from iresearch_spark.index.segments import IndexStore, build_segment

    store = IndexStore(str(tmp_path_factory.mktemp("bursty") / "idx"))
    corpus = generate_corpus(spark, 30_000, seed=43, burstiness=0.1)
    build_segment(spark, store, corpus, "b0")
    return store
