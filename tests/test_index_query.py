"""End-to-end index build + query: rank-identity vs the exact oracle.

SURVEY §5 rebuild test plan: build at sf-small → run the query set →
compare against the brute-force Python scorer; plus resume-from-
checkpoint behavior.
"""

import json
import math

import pytest
from pyspark.sql import functions as F

from word_sketch_lucene_spark.query.bm25 import BM25Oracle
from word_sketch_lucene_spark.query.engine import IndexSearcher, bm25_topk_df

# mix of head terms, multi-term, rare+head (WAND pruning), zero-hit
QUERIES = [
    ["the"],
    ["spark"],
    ["join", "filter"],
    ["merge", "sort", "window"],
    ["customer", "the"],
    ["nonexistentterm123"],
    ["vector", "nonexistentterm123"],
]


@pytest.fixture(scope="module")
def oracle(docs_small_pd):
    return BM25Oracle.from_texts(
        dict(zip(docs_small_pd["doc_id"], docs_small_pd["text"])))


def test_corpus_stats_match_oracle(index_small, oracle):
    stats = json.loads((index_small / "stats.json").read_text())
    assert stats["n_docs"] == oracle.n_docs
    assert math.isclose(stats["avgdl"], oracle.avgdl, rel_tol=1e-12)


def test_term_stats_match_oracle(spark, index_small, oracle):
    ts = spark.read.parquet(str(index_small / "term_stats")).collect()
    assert len(ts) == len(oracle.postings)
    for r in ts:
        assert r["df"] == oracle.df(r["term"]), r["term"]
        assert r["cf"] == oracle.cf(r["term"]), r["term"]


@pytest.mark.parametrize("terms", QUERIES, ids=["-".join(q) for q in QUERIES])
def test_searcher_rank_identical_to_oracle(spark, index_small, oracle, terms):
    searcher = IndexSearcher(spark, index_small)
    expected = oracle.topk(terms, k=10)
    for mode in ("bmw", "wand", "daat", "vec", "auto"):
        got, _ = searcher.search(terms, k=10, mode=mode)
        assert [d for d, _ in got] == [d for d, _ in expected], mode
        for (d1, s1), (d2, s2) in zip(got, expected):
            assert s1 == pytest.approx(s2, abs=1e-12), (mode, d1)


def test_search_rejects_unknown_mode(spark, index_small):
    """A mode typo must fail loudly, not silently run global-bound
    WAND; search_regex passes its mode through the same check."""
    searcher = IndexSearcher(spark, index_small)
    with pytest.raises(ValueError, match="'bwm'.*auto, bmw, wand, vec, daat"):
        searcher.search(["spark"], mode="bwm")
    with pytest.raises(ValueError, match="'bwm'"):
        searcher.search_regex("sp.*", mode="bwm")
    with pytest.raises(ValueError, match="'bwm'"):
        searcher.search_regex("zzz-no-such-term", mode="bwm")


def test_bmw_prunes_blocks(spark, index_small):
    """Block-max WAND must decode strictly fewer blocks than exhaustive DAAT
    on a rare+head query, with identical results."""
    searcher = IndexSearcher(spark, index_small)
    q = ["customer", "the"]
    r_bmw, st_bmw = searcher.search(q, k=5, mode="bmw")
    r_daat, st_daat = searcher.search(q, k=5, mode="daat")
    assert r_bmw == r_daat
    assert st_bmw["decoded_blocks"] <= st_daat["decoded_blocks"]


def test_dataframe_path_rank_identical(spark, docs_small, oracle):
    terms = ["join", "filter"]
    got = bm25_topk_df(docs_small, terms, k=10).collect()
    expected = oracle.topk(terms, k=10)
    assert [r["doc_id"] for r in got] == [d for d, _ in expected]
    for r, (d, s) in zip(got, expected):
        assert r["score"] == pytest.approx(s, rel=1e-9)


def test_positions_stored_correctly(spark, index_small, oracle):
    """Decode one term's position lists from segments and compare."""
    import numpy as np

    from word_sketch_lucene_spark.functions.codec import positions_flat, vbyte_decode

    term = "spark"
    rows = (spark.read.parquet(str(index_small / "segments"))
            .filter(F.col("term") == term).collect())
    seen = {}
    for r in rows:
        gaps = vbyte_decode(bytes(r["docs_vb"])).astype("int64")
        docs = gaps.cumsum() + r["first_doc"]
        tfs = vbyte_decode(bytes(r["tfs_vb"]))
        assert tfs.size == r["n"]
        pls = np.split(positions_flat(bytes(r["pos_vb"]), tfs),
                       np.cumsum(tfs)[:-1])
        for d, pl in zip(docs, pls):
            seen[int(d)] = list(pl)
    assert seen == {d: pl for d, pl in oracle.positions[term].items()}


def test_build_is_resumable(spark, docs_small, tmp_path):
    """Second build run with same inputs+config must skip all stages."""
    from word_sketch_lucene_spark.index.build import build_index

    root = tmp_path / "idx"
    build_index(spark, docs_small, root, doc_salt=2, n_partitions=4)
    m1 = json.loads((root / "segments" / "_manifest.json").read_text())
    build_index(spark, docs_small, root, doc_salt=2, n_partitions=4)
    m2 = json.loads((root / "segments" / "_manifest.json").read_text())
    assert m1["committed_at"] == m2["committed_at"]  # stage skipped, not rerun
    # manifests carry per-partition lineage metrics
    assert m1["partitions"] and {"seg_part", "n_postings", "term_min"} <= set(m1["partitions"][0])


def test_empty_doc_convention(spark, tmp_path):
    """Empty docs are excluded from N/avgdl on EVERY path (Lucene
    docCount semantics): python oracle, DataFrame BM25, and the built
    index must agree on a corpus containing a zero-token doc."""
    from word_sketch_lucene_spark.index.build import build_index
    from word_sketch_lucene_spark.query.engine import IndexSearcher, bm25_topk_df

    rows = [(0, "spark join spark"), (1, "join group"), (2, ""),
            (3, "spark table scan"), (4, "--- ***")]  # 2 and 4 tokenize empty
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    oracle = BM25Oracle.from_texts({d: t for d, t in rows})
    assert oracle.n_docs == 3
    expected = oracle.topk(["spark", "join"], k=5)

    got_df = [(r["doc_id"], r["score"])
              for r in bm25_topk_df(docs, ["spark", "join"], k=5).collect()]
    assert [d for d, _ in got_df] == [d for d, _ in expected]
    for (d1, s1), (d2, s2) in zip(got_df, expected):
        assert s1 == pytest.approx(s2, rel=1e-9)

    root = tmp_path / "idx_empty"
    stats = build_index(spark, docs, root, doc_salt=1, n_partitions=2)
    assert stats["n_docs"] == 3
    hits, _ = IndexSearcher(spark, root).search(["spark", "join"], k=5)
    assert [d for d, _ in hits] == [d for d, _ in expected]



def test_arrow_tokenizer_matches_default(docs_small):
    """The Arrow-vectorized tokenizer UDF (``use_pandas_udf=True``)
    gives the same ``(doc_id, pos, term)`` rows and ``dl`` as the
    default JVM expression."""
    from word_sketch_lucene_spark.functions.tokenize import explode_tokens

    for with_dl in (False, True):
        want, got = (
            sorted(tuple(r) for r in explode_tokens(
                docs_small, use_pandas_udf=udf, with_dl=with_dl).collect())
            for udf in (False, True))
        assert got == want and want, with_dl

def test_regex_term_expansion(spark, index_small, oracle):
    """P1 regex expansion: dictionary rlike → OR search; results must
    equal an explicit OR over the python oracle's matching vocab."""
    import re

    s = IndexSearcher(spark, index_small)
    terms = s.expand_terms("s.*")
    vocab = {t for t in oracle.postings if re.fullmatch("s.*", t)}
    assert set(terms) == vocab and len(terms) > 1
    hits, _ = s.search_regex("s.*", k=10)
    expected = oracle.topk(sorted(vocab, key=lambda t: (-oracle.df(t), t)),
                           k=10)
    assert [d for d, _ in hits] == [d for d, _ in expected]
    assert s.search_regex("zz_nomatch.*", k=5) == ([], {"decoded_blocks": 0,
                                                        "total_blocks": 0})


def test_index_pattern_hits_match_dataframe_path(spark, index_small,
                                                 docs_small):
    """Index-side BCQL == DataFrame-side BCQL on the same corpus: the
    two execution paths must produce the identical (doc, start, end)
    span set for regex constraints and bounded gaps."""
    from word_sketch_lucene_spark.functions.tokenize import explode_tokens
    from word_sketch_lucene_spark.plans.cql import compile_cql

    s = IndexSearcher(spark, index_small)
    for pattern in ['[word="spark"] []{0,2} [word="(join|table)"]',
                    '[word="sp.*"] [word="j.*"]',
                    '"spark" "join"']:
        idx = set(s.pattern_hits(pattern))
        dfp = {(r["doc_id"], r["start"], r["end"])
               for r in compile_cql(explode_tokens(docs_small),
                                    pattern).collect()}
        assert idx == dfp and idx, pattern
    with pytest.raises(NotImplementedError):
        s.pattern_hits('[word!="spark"]')


# ------------------------------------------- multi-layer index patterns
@pytest.fixture(scope="module")
def layered(spark, docs_small, tmp_path_factory):
    """Term index + lemma/upos/xpos/deprel layer postings over the SAME
    token stream (CoNLL-U route), plus the flat layer table for the
    DataFrame-path twin."""
    from word_sketch_lucene_spark.functions.tokenize import explode_tokens
    from word_sketch_lucene_spark.index.build import (
        build_index,
        build_layer_postings,
    )
    from word_sketch_lucene_spark.operators.dependency import rule_annotate
    from word_sketch_lucene_spark.sources.conllu import (
        layer_tokens,
        parse_conllu_docs,
        to_conllu_text,
    )

    root = tmp_path_factory.mktemp("layered_idx")
    build_index(spark, docs_small, root, doc_salt=2, n_partitions=4)
    lt = layer_tokens(
        parse_conllu_docs(
            to_conllu_text(rule_annotate(explode_tokens(docs_small),
                                         sent_len=10))),
        sent_len=10)
    # parse returns doc_id as string — restore long ids for span compare
    lt = lt.withColumn("doc_id", F.col("doc_id").cast("long")).cache()
    build_layer_postings(spark, lt, root, doc_salt=2, n_partitions=4)
    return root, lt


LAYER_PATTERNS = [
    '[word="table"] []{0,2} [xpos="JJ.*"]',
    '[lemma="table"] [upos="VERB"]',
    '[xpos="NN.*" & word!="table"] [xpos="VB.*"]',   # mixed negation
    '[word="the"] [word!="fast"] [xpos="NN.*"]',     # pure-negation slot
    '[upos="DET"] [] [deprel="nsubj"]',
]


def test_layered_pattern_hits_match_dataframe_path(spark, layered):
    """Index-side multi-layer BCQL (xpos/lemma/upos/deprel constraints,
    negation incl. complement slots) == the DataFrame compiler over the
    same layer table, span for span."""
    from word_sketch_lucene_spark.plans.cql import compile_cql

    root, lt = layered
    s = IndexSearcher(spark, root)
    for pattern in LAYER_PATTERNS:
        idx = set(s.pattern_hits(pattern))
        dfp = {(r["doc_id"], r["start"], r["end"])
               for r in compile_cql(lt, pattern).collect()}
        assert idx == dfp, pattern
        assert idx, f"pattern matched nothing (weak test): {pattern}"


def test_layer_term_dictionary_expansion(spark, layered):
    root, _ = layered
    s = IndexSearcher(spark, root)
    assert set(s.expand_terms(".*", layer="upos")) >= {"NOUN", "VERB",
                                                        "ADJ", "DET"}
    assert s.expand_terms("NN.*", layer="xpos") == ["NN"] or \
        set(s.expand_terms("NN.*", layer="xpos")) <= {"NN", "NNS"}


def test_pattern_hits_auto_fallback_identical(spark, index_small, docs_small):
    """Vocabulary-wide slot: the Σdf budget routes to the DataFrame
    fallback over the forward index; spans must equal the (uncapped)
    DataFrame path, and pattern_cost must flag the hot slot."""
    from word_sketch_lucene_spark.functions.tokenize import explode_tokens
    from word_sketch_lucene_spark.plans.cql import compile_cql

    s = IndexSearcher(spark, index_small)
    hot = '[word="[a-z0-9]+"] [word="table"]'
    cost, capped = s.pattern_cost(hot, max_terms_per_slot=4)
    assert cost > 0 and capped
    expected = {(r["doc_id"], r["start"], r["end"])
                for r in compile_cql(explode_tokens(docs_small),
                                     hot).collect()}
    got = set(s.pattern_hits_auto(hot, df_budget=1))  # force fallback
    assert got == expected and got
    # under budget: auto == direct index path
    cheap = '[word="spark"] [word="j.*"]'
    assert set(s.pattern_hits_auto(cheap)) == set(s.pattern_hits(cheap))


def test_pure_negative_pattern_still_dataframe_only(spark, index_small):
    s = IndexSearcher(spark, index_small)
    with pytest.raises(NotImplementedError):
        s.pattern_hits('[word!="spark"] [word!="join"]')


def test_build_conllu_index_end_to_end(spark, tmp_path):
    """CoNLL-U files → dense-id multi-layer index: BM25 search works,
    layer patterns serve index-side, doc tokens read back from the
    forward store, name↔id mapping written."""
    from word_sketch_lucene_spark.index.build import build_conllu_index
    from word_sketch_lucene_spark.sources.conllu import read_conllu

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    (corpus / "a.conllu").write_text(
        "1\tThe\tthe\tDET\tDT\t_\t2\tdet\n"
        "2\tcat\tcat\tNOUN\tNN\t_\t3\tnsubj\n"
        "3\tsleeps\tsleep\tVERB\tVBZ\t_\t0\troot\n"
        "\n"
        "1\tDogs\tdog\tNOUN\tNNS\t_\t2\tnsubj\n"
        "2\tbark\tbark\tVERB\tVBP\t_\t0\troot\n")
    (corpus / "b.conllu").write_text(
        "1\tA\ta\tDET\tDT\t_\t2\tdet\n"
        "2\tcat\tcat\tNOUN\tNN\t_\t3\tnsubj\n"
        "3\tbarks\tbark\tVERB\tVBZ\t_\t0\troot\n")
    root = tmp_path / "cidx"
    stats = build_conllu_index(spark, read_conllu(spark, str(corpus)),
                               root, doc_salt=1, n_partitions=2)
    assert stats["n_docs"] == 2 and stats["total_tokens"] == 8
    s = IndexSearcher(spark, root)
    hits, _ = s.search(["cat"], k=5)
    assert len(hits) == 2
    # layer pattern: lemma-constrained verb after a NOUN
    spans = s.pattern_hits('[upos="NOUN"] [lemma="bark"]')
    assert len(spans) == 2  # "Dogs bark" and "cat barks"
    # xpos regex through the layer dictionary
    assert set(s.expand_terms("VB.*", layer="xpos")) == {"VBZ", "VBP"}
    # doc tokens from the forward store, in position order
    ds = {r["doc_id"]: " ".join(r["term"]) for r in
          s.forward_arrays({"term"}).collect()}
    assert set(ds.values()) == {"the cat sleeps dogs bark", "a cat barks"}
    names = {r["doc_name"]: r["doc_id"] for r in
             spark.read.parquet(str(root / "doc_names")).collect()}
    assert set(names) == {"a.conllu", "b.conllu"}
    assert sorted(names.values()) == [0, 1]


def test_index_word_sketch_matches_dataframe_path(spark, docs_small,
                                                  tmp_path):
    """The index-served sketch (span chain + forward layer + dictionary
    stats) must reproduce the DataFrame fan-out row for row — rank,
    counts, and 4-dp scores."""
    from word_sketch_lucene_spark.functions.tokenize import explode_tokens
    from word_sketch_lucene_spark.index.build import build_conllu_index
    from word_sketch_lucene_spark.operators.dependency import rule_annotate
    from word_sketch_lucene_spark.plans.relations import (
        EN_CATALOG,
        GrammarCatalog,
        word_sketch_patterns,
    )
    from word_sketch_lucene_spark.query.sketch import index_word_sketch
    from word_sketch_lucene_spark.sources.conllu import (
        layer_tokens,
        parse_conllu_docs,
        to_conllu_text,
    )

    parsed = parse_conllu_docs(to_conllu_text(
        rule_annotate(explode_tokens(docs_small), sent_len=10)))
    root = tmp_path / "sk_idx"
    build_conllu_index(spark, parsed, root, doc_salt=2, n_partitions=4)
    cat = GrammarCatalog.load(EN_CATALOG)

    lt = layer_tokens(parsed, sent_len=10)
    lemma_stats = lt.groupBy(F.col("lemma").alias("term")) \
        .agg(F.count("*").alias("cf"))
    want = [(r["relation"], r["colloc_term"], r["pair_freq"],
             r["logdice"], r["rel_freq"])
            for r in word_sketch_patterns(
                lt, lemma_stats, "table", cat, head_pos="NOUN",
                limit_per_relation=10, round_dp=4).collect()]

    s = IndexSearcher(spark, root)
    got = index_word_sketch(s, "table", cat, head_pos="NOUN",
                            limit_per_relation=10, round_dp=4)
    assert sorted(got) == sorted(want)
    assert got, "sketch produced no rows (weak test)"
    # warm repeat (postings/dictionary caches) stays identical
    again = index_word_sketch(s, "table", cat, head_pos="NOUN",
                              limit_per_relation=10, round_dp=4)
    assert again == got
    # DEP pattern relations (deprel layer) serve identically too
    want_dep = [(r["relation"], r["colloc_term"], r["pair_freq"],
                 r["logdice"], r["rel_freq"])
                for r in word_sketch_patterns(
                    lt, lemma_stats, "scan", cat, head_pos="VERB",
                    relation_types=("DEP",), limit_per_relation=10,
                    round_dp=4).collect()]
    got_dep = index_word_sketch(s, "scan", cat, head_pos="VERB",
                                relation_types=("DEP",),
                                limit_per_relation=10, round_dp=4)
    assert sorted(got_dep) == sorted(want_dep) and got_dep


# ------------------------------------------------- metadata filters
def test_metadata_filtered_search_paths_identical(spark, index_small,
                                                  docs_small):
    """Lucene filter-query semantics on both engines: the DataFrame
    semi-join tier and the index doc_meta mask return the same ranked
    page, candidates restrict to the predicate, and per-doc scores are
    UNCHANGED vs the unfiltered query (stats stay corpus-level)."""
    from word_sketch_lucene_spark.query.engine import (
        IndexSearcher,
        bm25_topk_df,
    )

    flt = "lang = 'en' AND source LIKE 'src1%'"
    terms = ["spark", "join"]
    s = IndexSearcher(spark, index_small)
    hits, _ = s.search(terms, k=10, doc_filter=flt)
    assert hits
    allowed = {r["doc_id"] for r in
               docs_small.filter(flt).select("doc_id").collect()}
    assert {d for d, _ in hits} <= allowed
    # scores identical to the unfiltered run for surviving docs
    unfiltered = dict(s.search(terms, k=10_000, mode="vec")[0])
    for d, sc in hits:
        assert abs(unfiltered[d] - sc) < 1e-9
    df_rows = bm25_topk_df(docs_small, terms, k=10, round_dp=4,
                           doc_filter=flt).collect()
    df_ranked = [(r["doc_id"], r["score"]) for r in df_rows]
    idx_ranked = sorted(((d, round(sc, 4)) for d, sc in hits),
                        key=lambda x: (-x[1], x[0]))
    assert df_ranked == idx_ranked[:len(df_ranked)]


def test_metadata_filter_requires_doc_meta(spark, docs_small, tmp_path):
    from word_sketch_lucene_spark.index.build import build_index
    from word_sketch_lucene_spark.query.engine import IndexSearcher

    root = tmp_path / "nometa"
    build_index(spark, docs_small.select("doc_id", "text"), root,
                doc_salt=2, n_partitions=4)
    s = IndexSearcher(spark, root)
    with pytest.raises(NotImplementedError, match="doc_meta"):
        s.search(["spark"], doc_filter="lang = 'en'")


def test_metadata_filter_cache_and_empty(spark, index_small):
    from word_sketch_lucene_spark.query.engine import IndexSearcher

    s = IndexSearcher(spark, index_small)
    a1 = s.filtered_doc_ids("lang = 'zz'")
    assert a1.size == 0
    hits, _ = s.search(["spark"], doc_filter="lang = 'zz'")
    assert hits == []
    # cached object is reused verbatim
    assert s.filtered_doc_ids("lang = 'zz'") is a1


def test_metadata_filtered_pattern_routes_identical(spark, index_small,
                                                    docs_small):
    """doc_filter on the pattern surface: the in-driver masked route
    and the forced-distributed semi-join route return identical spans,
    all within the allowed doc set and exactly the unfiltered spans of
    those docs."""
    from word_sketch_lucene_spark.query.engine import IndexSearcher

    flt = "lang = 'en'"
    pat = '[word="sp.*"] [word="window"]'
    s = IndexSearcher(spark, index_small)
    allowed = {r["doc_id"] for r in
               docs_small.filter(flt).select("doc_id").collect()}
    base = set(s.pattern_hits_auto(pat))
    in_driver = {(r["doc_id"], r["start"], r["end"]) for r in
                 s.pattern_spans_df(pat, doc_filter=flt).collect()}
    distributed = {(r["doc_id"], r["start"], r["end"]) for r in
                   s.pattern_spans_df(pat, df_budget=0,
                                      doc_filter=flt).collect()}
    expected = {sp for sp in base if sp[0] in allowed}
    assert in_driver == distributed == expected and expected
    assert set(s.pattern_hits_auto(pat, doc_filter=flt)) == expected
