"""Store sizing: every shuffle and every store's file count follows one
rule, one partition per 16 MB of the bytes a write reads, and an
explicit ``n_partitions`` is used as given. A small default build
writes one file per store and one doc-ordered run per term; a build
spread over several ``seg_part``s answers exactly like it. The bytes
are those of the decoded token rows a write carries (``stats.json``
``token_bytes``), scaled for a per-doc store by its share of them."""

from __future__ import annotations

import json
from pathlib import Path

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from word_sketch_lucene_spark.index.build import (
    PART_BYTES,
    _adaptive_parts,
    build_conllu_index,
    build_index,
    store_bytes,
    store_parts,
)
from word_sketch_lucene_spark.query.engine import IndexSearcher

QUERIES = (["data"], ["spark", "join"], ["the", "order", "stream"])
PHRASES = (["order", "fast"], ["window", "join", "column"])
PATTERNS = ('[xpos="JJ"] [xpos="NN.*"]', '[lemma="the"] [xpos="NN"]')


def test_sizing_rule_matches_the_old_count_at_scale():
    """One partition per 16 MB, at least 1 and at most the cap. Where
    the replaced rule's cluster-width floor did not bind (``bytes //
    16 MB`` at least the width) it gives the old count,
    ``min(cap, max(width, bytes // 16 MB))``; below that the floor only
    ever raised small inputs, and the new count is lower."""
    assert store_parts(0, 8) == 1
    assert store_parts(PART_BYTES, 8) == 1
    assert store_parts(PART_BYTES + 1, 8) == 2
    assert store_parts(100 * PART_BYTES, 8) == 8
    for nbytes in (1 << 20, 96 << 20, 1 << 30, 3 << 34, 1 << 40, 5 << 40):
        for width in (4, 64, 512):
            for cap in (512, 4096, 1 << 20):
                old = min(cap, max(width, nbytes // PART_BYTES))
                new = store_parts(nbytes, cap)
                if nbytes // PART_BYTES >= width:
                    assert new == old, (nbytes, width, cap)
                else:
                    assert new <= old, (nbytes, width, cap)


def test_per_doc_stores_stay_small_where_postings_fill_the_cap():
    """A per-doc store is sized by the token bytes times its docs per
    token. At the token volume where a 512-wide cap fills the posting
    shuffle (8 GiB), a corpus of web pages (64+ tokens per doc) gets at
    most the 8 files the old ``min(nparts, 8)`` coalesce gave
    ``doc_lens``/``doc_meta``, not the 512 its token bytes alone would
    give. Past that volume the store grows by one file per 16 MB."""
    cap = 512
    tok_bytes = cap * PART_BYTES
    assert store_parts(tok_bytes, cap) == cap
    for avgdl in (64, 300, 1000):
        assert store_parts(tok_bytes / avgdl, cap) <= 8, avgdl


def test_explicit_partitions_used_as_given(spark, tmp_path):
    cap = spark.sparkContext.defaultParallelism
    assert _adaptive_parts(spark, 4096, 1 << 40) == 4096
    assert _adaptive_parts(spark, None, 0) == 1
    assert _adaptive_parts(spark, None, None) == cap  # token_bytes unknown
    assert store_bytes(tmp_path / "missing") == 0


def _part_files(root: Path) -> dict[str, int]:
    return {d.name: len(list(d.glob("part-*.parquet")))
            for d in sorted(root.iterdir())
            if d.is_dir() and any(d.glob("*.parquet"))}


def _seg_parts(root: Path, store: str) -> set[int]:
    return set(pq.read_table(root / store, columns=["seg_part"])
               ["seg_part"].to_pylist())


@pytest.fixture(scope="module")
def pages_roots(spark, docs_small, tmp_path_factory):
    d = tmp_path_factory.mktemp("sizing_pages")
    build_index(spark, docs_small, d / "default")
    build_index(spark, docs_small, d / "four", n_partitions=4)
    return d / "default", d / "four"


@pytest.fixture(scope="module")
def conllu_roots(spark, conllu_index, tmp_path_factory):
    _, parsed, _ = conllu_index
    d = tmp_path_factory.mktemp("sizing_conllu")
    build_conllu_index(spark, parsed, d / "default")
    build_conllu_index(spark, parsed, d / "four", n_partitions=4)
    return d / "default", d / "four"


def test_default_build_writes_one_file_per_store(pages_roots,
                                                 conllu_roots):
    """A small input: one part file per store, one seg_part per
    posting store (one doc-ordered run per term)."""
    for root, stores in ((pages_roots[0], {"segments", "doc_lens",
                                           "term_stats", "docstore"}),
                         (conllu_roots[0], {"segments", "layers",
                                            "layer_stats", "doc_lens",
                                            "term_stats", "doc_names",
                                            "forward_layers"})):
        files = _part_files(root)
        assert stores <= set(files), root
        assert set(files.values()) == {1}, files
        for store in {"segments", "layers"} & stores:
            assert _seg_parts(root, store) == {0}, store


def test_explicit_partitions_answer_like_default(spark, pages_roots,
                                                 conllu_roots):
    """``n_partitions=4`` spreads each store's postings over 4
    ``seg_part``s (terms split into several doc-interleaved runs), and
    BM25, phrase and CQL results equal the one-run default build's."""
    for default, four in (pages_roots, conllu_roots):
        assert _seg_parts(four, "segments") == {0, 1, 2, 3}
        a, b = IndexSearcher(spark, default), IndexSearcher(spark, four)
        for q in QUERIES:
            for mode in IndexSearcher.MODES:
                got = a.search(q, k=10, mode=mode)[0]
                assert got and got == b.search(q, k=10, mode=mode)[0], \
                    (q, mode)
        for p in PHRASES:
            hits = a.phrase_hits(p)
            assert hits and hits == b.phrase_hits(p), p
    a, b = (IndexSearcher(spark, r) for r in conllu_roots)
    assert _seg_parts(conllu_roots[1], "layers") == {0, 1, 2, 3}
    for p in PATTERNS:
        hits = a.pattern_hits(p)
        assert hits and hits == b.pattern_hits(p), p


def test_build_and_merge_sized_by_token_bytes(spark, docs_small, tmp_path,
                                              monkeypatch):
    """Through the real sources, with the 16 MB unit shrunk to a third
    of one corpus half's token bytes: the build's posting shuffle gets
    ``store_parts(token_bytes)`` seg_parts while its per-doc stores
    (sized by docs per token) stay at one file, and the merge of two
    halves shuffles the same decoded rows into the count a build of
    their summed token bytes gets, and records that sum."""
    from word_sketch_lucene_spark.index import build as build_mod
    from word_sketch_lucene_spark.index.merge import merge_indexes

    def stats(root):
        return json.loads((root / "stats.json").read_text())

    halves = [tmp_path / "lo", tmp_path / "hi"]
    for root, cond in zip(halves, (F.col("doc_id") < 250,
                                   F.col("doc_id") >= 250)):
        build_index(spark, docs_small.filter(cond), root)
    tb = [stats(r)["token_bytes"] for r in halves]
    cap = spark.sparkContext.defaultParallelism
    monkeypatch.setattr(build_mod, "PART_BYTES", tb[0] // 3 + 1)

    sized = tmp_path / "sized"
    build_index(spark, docs_small.filter(F.col("doc_id") < 250), sized)
    want = store_parts(stats(sized)["token_bytes"], cap)
    assert want == 3
    assert _seg_parts(sized, "segments") == set(range(want))
    files = _part_files(sized)
    assert files["doc_lens"] == files["doc_meta"] == 1, files

    merged = tmp_path / "merged"
    merge_indexes(spark, halves, merged)
    assert stats(merged)["token_bytes"] == sum(tb)
    want = _adaptive_parts(spark, None, sum(tb))
    assert 3 < want <= cap
    assert _seg_parts(merged, "segments") == set(range(want))
