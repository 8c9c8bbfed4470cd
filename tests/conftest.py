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


@pytest.fixture(scope="session")
def conllu_index(spark, docs_small, tmp_path_factory):
    """Parsed CoNLL-U corpus + a full multi-layer index with forward
    layers, shared by the relation/sentence/containing/fallback tests
    (read-only). Returns (root, parsed, name→dense-id map)."""
    from word_sketch_lucene_spark.functions.tokenize import explode_tokens
    from word_sketch_lucene_spark.index.build import build_conllu_index
    from word_sketch_lucene_spark.operators.dependency import rule_annotate
    from word_sketch_lucene_spark.sources.conllu import (
        parse_conllu_docs,
        to_conllu_text,
    )

    parsed = parse_conllu_docs(to_conllu_text(
        rule_annotate(explode_tokens(docs_small), sent_len=10))) \
        .localCheckpoint()
    root = tmp_path_factory.mktemp("conllu_idx")
    build_conllu_index(spark, parsed, root, doc_salt=2, n_partitions=4)
    name2id = {r["doc_name"]: r["doc_id"] for r in
               spark.read.parquet(str(root / "doc_names")).collect()}
    return root, parsed, name2id
