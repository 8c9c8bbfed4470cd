"""Segment layout: full decode of a built index must equal the oracle's
postings exactly — covers both the vectorized single-block path (rare
Zipf terms) and the per-term multi-block path (head terms)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from word_sketch_lucene_spark.functions.codec import positions_flat, vbyte_decode
from word_sketch_lucene_spark.index.build import build_index
from word_sketch_lucene_spark.query.bm25 import BM25Oracle
from word_sketch_lucene_spark.sources.pages import generate_pages


@pytest.fixture(scope="module")
def zipf_setup(spark, tmp_path_factory):
    pages = generate_pages(spark, 400, seed=13).cache()
    root = tmp_path_factory.mktemp("zipf_idx")
    build_index(spark, pages, root, doc_salt=2, n_partitions=8)
    pdf = pages.select("doc_id", "text").toPandas()
    oracle = BM25Oracle.from_texts(dict(zip(pdf["doc_id"], pdf["text"])))
    return root, oracle


def test_full_index_decode_matches_oracle(spark, zipf_setup):
    root, oracle = zipf_setup
    seg = spark.read.parquet(str(root / "segments")).collect()
    doc_lens = {r["doc_id"]: r["dl"] for r in
                spark.read.parquet(str(root / "doc_lens")).collect()}
    seen_tf: dict[str, dict[int, int]] = {}
    seen_pos: dict[str, dict[int, list]] = {}
    for r in seg:
        gaps = vbyte_decode(bytes(r["docs_vb"])).astype("int64")
        docs = gaps.cumsum() + r["first_doc"]
        tfs = vbyte_decode(bytes(r["tfs_vb"])).astype("int64")
        dls = np.array([doc_lens[int(d)] for d in docs])
        pls = np.split(positions_flat(bytes(r["pos_vb"]), tfs),
                       np.cumsum(tfs)[:-1])
        assert r["n"] == docs.size == tfs.size == dls.size == len(pls)
        assert r["first_doc"] == docs[0] and r["last_doc"] == docs[-1]
        assert np.all(np.diff(docs) > 0)  # strictly ascending within block...
        assert r["max_tf"] == tfs.max() and r["sum_tf"] == tfs.sum()
        for d, tf, dl, pl in zip(docs, tfs, dls, pls):
            t = r["term"]
            assert oracle.dl[int(d)] == dl
            assert len(pl) == tf
            seen_tf.setdefault(t, {})[int(d)] = int(tf)
            seen_pos.setdefault(t, {})[int(d)] = list(pl)
    assert seen_tf == oracle.postings
    assert seen_pos == oracle.positions


def test_block_impact_bounds_are_safe(spark, zipf_setup):
    """Every posting's exact score must be ≤ the bound derived from the
    block's (max_tf, min_dl) impact metadata."""
    from word_sketch_lucene_spark.functions.scoring import K1, B
    from word_sketch_lucene_spark.query.wand import idf_py

    root, oracle = zipf_setup
    seg = spark.read.parquet(str(root / "segments")).collect()
    for r in seg:
        gaps = vbyte_decode(bytes(r["docs_vb"])).astype("int64")
        docs = gaps.cumsum() + r["first_doc"]
        idf = idf_py(oracle.df(r["term"]), oracle.n_docs)
        bound = idf * (r["max_tf"] * (K1 + 1.0)) / (
            r["max_tf"] + K1 * (1.0 - B + B * r["min_dl"] / oracle.avgdl))
        for d in docs:
            s = oracle.score_doc([r["term"]], int(d))
            assert s <= bound + 1e-12


def test_rank_identity_on_zipf_corpus(spark, zipf_setup):
    from word_sketch_lucene_spark.query.engine import IndexSearcher

    root, oracle = zipf_setup
    searcher = IndexSearcher(spark, root)
    # head term, rare terms, mixes
    queries = [["t0"], ["t1", "t7"], ["t0", "t3", "t42"],
               ["rare17", "t0"], ["t999"], ["t5000", "t2"]]
    for q in queries:
        expected = oracle.topk(q, k=10)
        for mode in ("bmw", "vec", "auto", "daat"):
            got, _ = searcher.search(q, k=10, mode=mode)
            assert [d for d, _ in got] == [d for d, _ in expected], (q, mode)
            for (d1, s1), (d2, s2) in zip(got, expected):
                assert s1 == pytest.approx(s2, abs=1e-12), (q, mode)
