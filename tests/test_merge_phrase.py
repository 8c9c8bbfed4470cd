"""LSM merge, incremental indexing, and positional phrase search."""

import json

import pytest
from pyspark.sql import functions as F

from word_sketch_lucene_spark.index.build import build_index
from word_sketch_lucene_spark.index.merge import (
    add_documents,
    compact_if_needed,
    decode_segments_to_tokens,
    merge_indexes,
)
from word_sketch_lucene_spark.query.bm25 import BM25Oracle
from word_sketch_lucene_spark.query.engine import IndexSearcher
from word_sketch_lucene_spark.sources.pages import generate_pages


@pytest.fixture(scope="module")
def split_corpus(spark):
    pages = generate_pages(spark, 300, seed=21).cache()
    a = pages.filter(F.col("doc_id") < 150)
    b = pages.filter(F.col("doc_id") >= 150)
    pdf = pages.select("doc_id", "text").toPandas()
    oracle = BM25Oracle.from_texts(dict(zip(pdf["doc_id"], pdf["text"])))
    return pages, a, b, oracle


def test_decode_inverts_encode(spark, split_corpus, tmp_path):
    pages, a, _, _ = split_corpus
    root = tmp_path / "idx"
    build_index(spark, a, root, doc_salt=2, n_partitions=4)
    toks = decode_segments_to_tokens(
        spark.read.parquet(str(root / "segments")))
    from word_sketch_lucene_spark.functions.tokenize import explode_tokens

    expected = explode_tokens(a).orderBy(
        "term", "doc_id", "pos").toPandas()
    got = toks.orderBy("term", "doc_id", "pos").toPandas()
    # doc lengths live in doc_lens, not in the decoded postings
    assert toks.columns == ["term", "doc_id", "pos"]
    assert len(got) == len(expected)
    assert (got["term"].to_numpy() == expected["term"].to_numpy()).all()
    assert (got["doc_id"].to_numpy() == expected["doc_id"].to_numpy()).all()
    assert (got["pos"].to_numpy() == expected["pos"].to_numpy()).all()


def _check_block_metadata(spark, root):
    """Every ``segments`` block's impacts against its decoded postings:
    ``max_tf`` is the largest tf, ``min_dl`` the smallest ``doc_lens``
    length of the block's docs."""
    import numpy as np

    from word_sketch_lucene_spark.functions.codec import vbyte_decode

    dl = {r["doc_id"]: r["dl"] for r in
          spark.read.parquet(str(root / "doc_lens")).collect()}
    rows = spark.read.parquet(str(root / "segments")).select(
        "first_doc", "max_tf", "min_dl", "docs_vb", "tfs_vb").collect()
    assert rows
    for r in rows:
        docs = vbyte_decode(bytes(r["docs_vb"])).astype(np.int64).cumsum() \
            + r["first_doc"]
        tfs = vbyte_decode(bytes(r["tfs_vb"]))
        assert r["max_tf"] == tfs.max()
        assert r["min_dl"] == min(dl[int(d)] for d in docs)


def test_block_metadata_matches_doc_lens(spark, split_corpus, tmp_path):
    """Block impacts of a built root and of an ``add_documents``
    merged root (whose encoder reads ``dl`` through a join of the
    decoded tokens to the folded ``doc_lens``)."""
    _, a, b, _ = split_corpus
    base = tmp_path / "base"
    build_index(spark, a, base, doc_salt=2, n_partitions=4)
    _check_block_metadata(spark, base)
    merged = add_documents(spark, base, b, tmp_path / "staging",
                           doc_salt=2, n_partitions=4)
    _check_block_metadata(spark, merged)


def test_missing_doc_length_raises(spark, split_corpus, tmp_path):
    """A doc with postings but no ``doc_lens`` row fails BM25 scoring
    with a rebuild message instead of scoring with length 0."""
    import shutil

    _, a, _, _ = split_corpus
    root = tmp_path / "idx"
    build_index(spark, a, root, doc_salt=2, n_partitions=4)
    hits, _ = IndexSearcher(spark, root).search(["t0"], k=1)
    doc = hits[0][0]
    kept = spark.read.parquet(str(root / "doc_lens")).filter(
        F.col("doc_id") != doc).toPandas()
    shutil.rmtree(root / "doc_lens")
    (root / "doc_lens").mkdir()
    kept.to_parquet(root / "doc_lens" / "part-0.parquet")
    for mode in IndexSearcher.MODES:
        with pytest.raises(ValueError, match=f"doc {doc} .*rebuild"):
            IndexSearcher(spark, root).search(["t0"], k=1, mode=mode)


def test_overlapping_blocks_in_one_run_raise(spark, split_corpus,
                                            tmp_path):
    """A term whose blocks under one ``seg_part`` overlap in doc range
    (two doc-interleaved runs, as a coalesced encoder would write them)
    fails every ``search`` mode with a rebuild message: block-max WAND
    and exhaustive DAAT would skip postings of it, and the vectorized
    mode would answer differently from them."""
    import shutil

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    _, a, _, _ = split_corpus
    root = tmp_path / "idx"
    build_index(spark, a, root, doc_salt=2, n_partitions=4)
    seg = pq.read_table(root / "segments")
    t0 = seg.filter(pc.equal(seg["term"], "t0")).to_pylist()
    assert len({r["seg_part"] for r in t0}) > 1
    runs = sorted((r["first_doc"], r["last_doc"]) for r in t0)
    assert any(y[0] <= x[1] for x, y in zip(runs, runs[1:]))
    shutil.rmtree(root / "segments")
    (root / "segments").mkdir()
    pq.write_table(seg.set_column(
        seg.schema.get_field_index("seg_part"), "seg_part",
        pa.array([0] * seg.num_rows, pa.int32())),
        root / "segments" / "part-0.parquet")
    for mode in IndexSearcher.MODES:
        with pytest.raises(ValueError, match="overlap.*rebuild"):
            IndexSearcher(spark, root).search(["t0"], k=3, mode=mode)


def test_merged_index_rank_identical_to_full_build(spark, split_corpus, tmp_path):
    """Index(A) ⊔ Index(B) merged must answer like Index(A∪B)."""
    _, a, b, oracle = split_corpus
    ra, rb, rm = tmp_path / "a", tmp_path / "b", tmp_path / "m"
    build_index(spark, a, ra, doc_salt=2, n_partitions=4)
    build_index(spark, b, rb, doc_salt=2, n_partitions=4)
    stats = merge_indexes(spark, [ra, rb], rm, doc_salt=2, n_partitions=4)
    assert stats["n_docs"] == oracle.n_docs
    assert stats["avgdl"] == pytest.approx(oracle.avgdl, rel=1e-12)
    s = IndexSearcher(spark, rm)
    for q in (["t0"], ["t3", "t17"], ["rare42", "t1"]):
        expected = oracle.topk(q, k=10)
        got, _ = s.search(q, k=10, mode="auto")
        assert [d for d, _ in got] == [d for d, _ in expected], q
        for (d1, s1), (d2, s2) in zip(got, expected):
            assert s1 == pytest.approx(s2, abs=1e-12)


def test_merge_is_resumable(spark, split_corpus, tmp_path):
    _, a, b, _ = split_corpus
    ra, rb, rm = tmp_path / "a", tmp_path / "b", tmp_path / "m"
    build_index(spark, a, ra, doc_salt=2, n_partitions=4)
    build_index(spark, b, rb, doc_salt=2, n_partitions=4)
    merge_indexes(spark, [ra, rb], rm)
    m1 = json.loads((rm / "_manifest.json").read_text())
    merge_indexes(spark, [ra, rb], rm)
    m2 = json.loads((rm / "_manifest.json").read_text())
    assert m1["committed_at"] == m2["committed_at"]


def test_add_documents_incremental(spark, split_corpus, tmp_path):
    _, a, b, oracle = split_corpus
    base = tmp_path / "base"
    build_index(spark, a, base, doc_salt=2, n_partitions=4)
    merged = add_documents(spark, base, b, tmp_path / "staging",
                           doc_salt=2, n_partitions=4)
    s = IndexSearcher(spark, merged)
    expected = oracle.topk(["t0", "t5"], k=10)
    got, _ = s.search(["t0", "t5"], k=10)
    assert [d for d, _ in got] == [d for d, _ in expected]


def test_filtered_search_on_merged_root(spark, split_corpus, tmp_path):
    """add_documents keeps the doc_meta store: a root that served
    search(doc_filter=…) still serves it after a delta merge, over the
    metadata of base and delta docs alike."""
    pages, a, b, oracle = split_corpus
    base = tmp_path / "base"
    build_index(spark, a, base, doc_salt=2, n_partitions=4)
    merged = add_documents(spark, base, b, tmp_path / "staging",
                           doc_salt=2, n_partitions=4)
    flt = "lang = 'de' OR lang = 'fr'"
    allowed = {r["doc_id"] for r in
               pages.filter(flt).select("doc_id").collect()}
    assert allowed & {r["doc_id"] for r in b.select("doc_id").collect()}
    q = ["t0", "t5"]
    hits, _ = IndexSearcher(spark, merged).search(q, k=10, doc_filter=flt)
    expected = [d for d, _ in oracle.topk(q, k=oracle.n_docs)
                if d in allowed][:10]
    assert [d for d, _ in hits] == expected and expected


def test_add_documents_rejects_colliding_ids(spark, split_corpus, tmp_path):
    """A delta whose doc ids collide with the base would silently yield
    duplicate postings and a wrong n_docs: add_documents must refuse
    it before building anything."""
    _, a, b, _ = split_corpus
    base = tmp_path / "base"
    build_index(spark, a, base, doc_salt=2, n_partitions=4)
    clash = b.unionByName(a.filter(F.col("doc_id").isin(7, 42)))
    with pytest.raises(ValueError, match=r"doc ids .*\[7, 42\]"):
        add_documents(spark, base, clash, tmp_path / "staging",
                      doc_salt=2, n_partitions=4)
    assert not (tmp_path / "staging").exists()


def test_repeated_adds_do_not_grow_per_doc_file_counts(spark, split_corpus,
                                                      tmp_path):
    """Each merge sizes a per-doc store by its inputs' bytes: two
    add_documents cycles leave the merged docstore and doc_lens with no
    more files than the base (a plain union summed the inputs' files,
    so every cycle added the delta's), and the stores still hold every
    doc once."""
    pages, a, b, oracle = split_corpus
    base = tmp_path / "base"
    build_index(spark, a, base, doc_salt=2, n_partitions=4)
    root = base
    for i, part in enumerate((b.filter(F.col("doc_id") < 225),
                              b.filter(F.col("doc_id") >= 225))):
        root = add_documents(spark, root, part, tmp_path / f"stage{i}",
                             doc_salt=2, n_partitions=4)

    def n_files(r, store):
        return len(list((r / store).glob("part-*")))

    for store in ("docstore", "doc_lens"):
        assert n_files(root, store) <= n_files(base, store), store
    ids = [r["doc_id"] for r in
           spark.read.parquet(str(root / "docstore")).collect()]
    assert sorted(ids) == list(range(oracle.n_docs))
    assert spark.read.parquet(str(root / "doc_lens")).count() \
        == oracle.n_docs
    got, _ = IndexSearcher(spark, root).search(["t0", "t5"], k=10)
    assert [d for d, _ in got] == [d for d, _ in
                                   oracle.topk(["t0", "t5"], k=10)]


def test_compact_policy(spark, split_corpus, tmp_path):
    pages, a, b, _ = split_corpus
    roots = []
    for i in range(3):
        r = tmp_path / f"d{i}"
        build_index(spark, pages.filter(F.col("doc_id") % 3 == i), r,
                    doc_salt=2, n_partitions=4)
        roots.append(r)
    live = compact_if_needed(spark, roots, tmp_path / "c", max_live=4)
    assert live == [*map(str, roots)] or live == roots  # under threshold: untouched
    live = compact_if_needed(spark, roots, tmp_path / "c", max_live=2)
    assert len(live) == 1
    s = IndexSearcher(spark, live[0])
    assert s.stats["n_docs"] == 300


def test_phrase_hits_match_oracle(spark, split_corpus, tmp_path):
    pages, _, _, oracle = split_corpus
    root = tmp_path / "full"
    build_index(spark, pages, root, doc_salt=2, n_partitions=4)
    s = IndexSearcher(spark, root)

    def brute(phrase):
        hits = {}
        for d in range(oracle.n_docs):
            pos0 = oracle.positions.get(phrase[0], {}).get(d, [])
            matches = []
            for p in pos0:
                if all((p + i) in set(oracle.positions.get(t, {}).get(d, []))
                       for i, t in enumerate(phrase)):
                    matches.append(p)
            if matches:
                hits[d] = matches
        return hits

    for phrase in (["t0", "t1"], ["t0", "t0"], ["t1", "t2", "t0"]):
        expected = brute(phrase)
        got = dict(s.phrase_hits(phrase))
        assert got == expected, phrase
    assert s.phrase_hits(["nonexistent123", "t0"]) == []


def test_merge_preserves_layer_postings(spark, split_corpus, tmp_path):
    """Merged layered indexes must answer layer patterns identically to
    a full layered build (layers decoded, re-keyed, re-encoded like the
    term segments)."""
    from word_sketch_lucene_spark.index.build import build_layer_postings

    pages, a, b, _ = split_corpus
    lt_all = _toy_layers(pages)
    ra, rb, rm, rf = (tmp_path / n for n in ("a", "b", "m", "full"))
    for pp, root in ((a, ra), (b, rb), (pages, rf)):
        build_index(spark, pp, root, doc_salt=2, n_partitions=4)
        build_layer_postings(
            spark, lt_all.join(pp.select("doc_id"), "doc_id", "left_semi"),
            root, layers=("lemma", "upos"), doc_salt=2, n_partitions=4)
    merge_indexes(spark, [ra, rb], rm, doc_salt=2, n_partitions=4)
    sm = IndexSearcher(spark, rm)
    sf = IndexSearcher(spark, rf)
    assert sm.layers is not None and sm.layer_stats is not None
    for pattern in ('[upos="NOUN"] [lemma="t1"]',
                    '[lemma="t.*"] []{0,2} [upos="NOUN"]'):
        got = set(sm.pattern_hits(pattern))
        want = set(sf.pattern_hits(pattern))
        assert got == want and got, pattern
    # layer dictionary folded
    assert set(sm.expand_terms(".*", layer="upos")) == \
        set(sf.expand_terms(".*", layer="upos"))


def _toy_layers(pages):
    """Deterministic layer table from the pages corpus: lemma = term,
    upos = NOUN for t-terms else X."""
    from word_sketch_lucene_spark.functions.tokenize import explode_tokens

    toks = explode_tokens(pages)
    return toks.select(
        "doc_id", "pos", "term",
        F.col("term").alias("lemma"),
        F.when(F.col("term").rlike("^t[0-9]+$"), "NOUN")
        .otherwise("X").alias("upos"))


def test_add_conllu_documents_incremental(spark, tmp_path):
    """Incremental CoNLL-U indexing: base + delta merged must answer
    layer patterns and sketches like a full build of the whole corpus
    (compared through the name↔id mapping — delta ids are offset)."""
    from word_sketch_lucene_spark.index.build import build_conllu_index
    from word_sketch_lucene_spark.index.merge import add_conllu_documents
    from word_sketch_lucene_spark.sources.conllu import read_conllu

    SENTS = {
        "a.conllu": ("1\tThe\tthe\tDET\tDT\t_\t2\tdet\n"
                     "2\tcat\tcat\tNOUN\tNN\t_\t3\tnsubj\n"
                     "3\tsleeps\tsleep\tVERB\tVBZ\t_\t0\troot\n"),
        "b.conllu": ("1\tDogs\tdog\tNOUN\tNNS\t_\t2\tnsubj\n"
                     "2\tbark\tbark\tVERB\tVBP\t_\t0\troot\n"),
        "c.conllu": ("1\tA\ta\tDET\tDT\t_\t2\tdet\n"
                     "2\tcat\tcat\tNOUN\tNN\t_\t3\tnsubj\n"
                     "3\tbarks\tbark\tVERB\tVBZ\t_\t0\troot\n"),
    }
    base_dir, delta_dir, full_dir = (tmp_path / n
                                     for n in ("base", "delta", "full"))
    for d in (base_dir, delta_dir, full_dir):
        d.mkdir()
    for name, text in SENTS.items():
        (full_dir / name).write_text(text)
        ((delta_dir if name == "c.conllu" else base_dir) / name
         ).write_text(text)

    base_root = tmp_path / "base_idx"
    build_conllu_index(spark, read_conllu(spark, str(base_dir)), base_root,
                       doc_salt=1, n_partitions=2)
    merged = add_conllu_documents(
        spark, base_root, read_conllu(spark, str(delta_dir)),
        tmp_path / "staging", doc_salt=1, n_partitions=2)
    full_root = tmp_path / "full_idx"
    build_conllu_index(spark, read_conllu(spark, str(full_dir)), full_root,
                       doc_salt=1, n_partitions=2)

    sm, sf_ = IndexSearcher(spark, merged), IndexSearcher(spark, full_root)

    def names(root):
        return {r["doc_id"]: r["doc_name"] for r in
                spark.read.parquet(str(root / "doc_names")).collect()}

    nm, nf = names(merged), names(full_root)
    assert sorted(nm.values()) == sorted(nf.values())
    for pattern in ('[upos="NOUN"] [lemma="bark"]',
                    '[lemma="cat"]'):
        got = {(nm[d], a, b) for d, a, b in sm.pattern_hits(pattern)}
        want = {(nf[d], a, b) for d, a, b in sf_.pattern_hits(pattern)}
        assert got == want and got, pattern
    # BM25 scores identical through the name mapping
    gm, _ = sm.search(["cat"], k=5)
    gf, _ = sf_.search(["cat"], k=5)
    assert {(nm[d], round(s, 10)) for d, s in gm} == \
        {(nf[d], round(s, 10)) for d, s in gf}
