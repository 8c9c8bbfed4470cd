"""Shared fixtures: one local SparkSession per test run, testdata paths."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

# bound the test JVM's heap: under a large heap it grows past 13 GB
# over one run of the suite (garbage the collector is never pressed to
# reclaim), and the session default is half the host's memory; 4g
# keeps it near 5 GB with the same results
os.environ.setdefault("SPARK_DRIVER_MEM", "4g")

SF_SMALL = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")
SF_MED = os.environ.get("SPARK_GRAFT_SF_MED", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from word_sketch_lucene_spark.session import get_spark

    s = get_spark("tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def docs_small(spark):
    return spark.read.parquet(f"{SF_SMALL}/documents.parquet")


@pytest.fixture(scope="session")
def docs_small_pd(docs_small):
    return docs_small.select("doc_id", "text").toPandas()


@pytest.fixture(scope="session")
def index_small(spark, docs_small, tmp_path_factory):
    """A built index over sf0.001 documents, shared across query tests."""
    from word_sketch_lucene_spark.index.build import build_index

    root = tmp_path_factory.mktemp("index_sf0001")
    build_index(spark, docs_small, root, doc_salt=2, n_partitions=8,
                input_paths=[f"{SF_SMALL}/documents.parquet"])
    return root
