"""BCQL dependency-relation operator (``"x" -deprel-> _``), sentence-
bounded spans, the layer-complete distributed fallback, and the
distributed index-served sketch — round-4 parity items.

Reference behavior mirrored: ``BlackLabQueryExecutor.java:211-229``
(relation-operator queries), ``conllu-sentences.blf.yaml:16`` (``<s>``
span bounding), ``BlackLabQueryExecutor.java:117-144`` (all patterns
index-executed — here: executor-side when hot).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from word_sketch_lucene_spark.plans.cql import (
    RelationQuery,
    compile_cql,
    parse_relation_query,
)


# ------------------------------------------------------------- parser
def test_parse_relation_query_forms():
    rq = parse_relation_query('"theory" -nsubj-> _')
    assert rq == RelationQuery(
        source=rq.source, deprel="nsubj", target=rq.target)
    (t,) = rq.source.tests
    assert (t.attr, t.value, t.negated) == ("lemma", "theory", False)
    assert rq.target.tests == []

    rq2 = parse_relation_query('[lemma="do" & xpos="VB.*"] -obj-> [upos="NOUN"]')
    assert rq2.deprel == "obj"
    assert {t.attr for t in rq2.source.tests} == {"lemma", "xpos"}
    assert [t.attr for t in rq2.target.tests] == ["upos"]

    # subtyped deprel names parse
    assert parse_relation_query('"x" -nsubj:pass-> _').deprel == "nsubj:pass"
    # non-relation patterns fall through as None
    assert parse_relation_query('[word="a"] [word="b"]') is None
    assert parse_relation_query('"just a literal"') is None


def test_parse_relation_query_errors():
    with pytest.raises(ValueError):
        parse_relation_query('"x" -nsubj-> ???')
    with pytest.raises(ValueError):
        parse_relation_query('"x" -nsubj-> _ trailing')


# ------------------------------------- DataFrame + index path identity
def test_relation_query_matches_dependency_sketch(spark, conllu_index):
    """`[lemma="scan"] -nsubj-> _` must reproduce dependency_sketch for
    the same (lemma, deprel) on BOTH paths (DataFrame compile and
    index-served)."""
    from word_sketch_lucene_spark.operators.dependency import (
        annotated_from_conllu,
        dependency_sketch,
        relation_query_collocates,
    )
    from word_sketch_lucene_spark.query.engine import IndexSearcher
    from word_sketch_lucene_spark.query.sketch import (
        index_relation_collocates,
    )

    root, parsed, _ = conllu_index
    ann = annotated_from_conllu(parsed)
    stats = ann.groupBy("term").agg(F.count("*").alias("cf"))
    want = [(r["dep_term"], r["pair_freq"], r["logdice"]) for r in
            dependency_sketch(ann, stats, "scan", "nsubj",
                              limit=20, round_dp=4).collect()]
    assert want, "no nsubj dependents of 'scan' (weak corpus)"
    got_df = [(r["dep_term"], r["pair_freq"], r["logdice"]) for r in
              relation_query_collocates(
                  parsed, stats, '[lemma="scan"] -nsubj-> _',
                  limit=20, round_dp=4).collect()]
    assert got_df == want
    s = IndexSearcher(spark, root)
    got_idx = index_relation_collocates(
        s, '[lemma="scan"] -nsubj-> _', limit=20, round_dp=4)
    assert got_idx == want
    # constrained target narrows (or keeps) the result set
    narrowed = index_relation_collocates(
        s, '[lemma="scan"] -nsubj-> [upos="NOUN"]', limit=20, round_dp=4)
    assert set(t for t, _, _ in narrowed) <= set(t for t, _, _ in got_idx)


def test_relation_query_requires_literal_head(spark, conllu_index):
    from word_sketch_lucene_spark.operators.dependency import (
        relation_query_collocates,
    )

    _, parsed, _ = conllu_index
    stats = parsed.groupBy(F.lower("lemma").alias("term")) \
        .agg(F.count("*").alias("cf"))
    with pytest.raises(ValueError):
        relation_query_collocates(parsed, stats, '_ -nsubj-> _')


# ------------------------------------------------ sentence-bounded spans
SENT_PAT = '[xpos="NN.*"] []{0,2} [xpos="VB.*"]'


def test_within_sentence_spans_identical_and_strict(spark, conllu_index):
    """Index span chain with within_sentence == DataFrame compile with
    within_sentence (mapped ids), strictly excluding cross-sentence gap
    matches the flat stream admits."""
    from word_sketch_lucene_spark.query.engine import IndexSearcher
    from word_sketch_lucene_spark.sources.conllu import layer_tokens

    root, parsed, name2id = conllu_index
    s = IndexSearcher(spark, root)
    flat = set(s.pattern_hits(SENT_PAT))
    bounded = set(s.pattern_hits(SENT_PAT, within_sentence=True))
    assert bounded < flat, "no cross-sentence match excluded (weak test)"
    lt = layer_tokens(parsed, sent_len=10)
    df_bounded = {(name2id[r["doc_id"]], r["start"], r["end"]) for r in
                  compile_cql(lt, SENT_PAT, within_sentence=True).collect()}
    assert bounded == df_bounded


def test_within_clause_in_pattern_string(spark, conllu_index):
    """BlackLab's `within <s/>` clause parses off the pattern string and
    equals the explicit flag on every route (index, auto, DataFrame)."""
    from word_sketch_lucene_spark.query.engine import IndexSearcher
    from word_sketch_lucene_spark.sources.conllu import layer_tokens

    root, parsed, name2id = conllu_index
    s = IndexSearcher(spark, root)
    clause = SENT_PAT + " within <s/>"
    want = set(s.pattern_hits(SENT_PAT, within_sentence=True))
    assert set(s.pattern_hits(clause)) == want
    assert set(s.pattern_hits_auto(clause, df_budget=1)) == want
    lt = layer_tokens(parsed, sent_len=10)
    got_df = {(name2id[r["doc_id"]], r["start"], r["end"]) for r in
              compile_cql(lt, clause).collect()}
    assert got_df == want
    # pattern_cost tolerates the clause (the router strips it)
    cost, _ = s.pattern_cost(clause)
    assert cost > 0


REP_PAT = '[xpos="JJ.*"]{1,2} [xpos="NN.*"]'


def test_repetition_quantifier_cross_path_identity(spark, conllu_index):
    """Bounded token quantifiers (`[J]{1,2} [N]`, the BlackLab form):
    index span chain == DataFrame compiler == manual variant union."""
    from word_sketch_lucene_spark.query.engine import IndexSearcher
    from word_sketch_lucene_spark.sources.conllu import layer_tokens

    root, parsed, name2id = conllu_index
    s = IndexSearcher(spark, root)
    lt = layer_tokens(parsed, sent_len=10)
    got_idx = set(s.pattern_hits(REP_PAT))
    got_df = {(name2id[r["doc_id"]], r["start"], r["end"]) for r in
              compile_cql(lt, REP_PAT).collect()}
    assert got_idx == got_df and got_idx
    # the union semantics: exactly the 1-rep ∪ 2-rep fixed sequences
    single = {(name2id[r["doc_id"]], r["start"], r["end"]) for r in
              compile_cql(lt, '[xpos="JJ.*"] [xpos="NN.*"]').collect()}
    double = {(name2id[r["doc_id"]], r["start"], r["end"]) for r in
              compile_cql(
                  lt, '[xpos="JJ.*"] [xpos="JJ.*"] [xpos="NN.*"]'
              ).collect()}
    assert got_idx == single | double
    assert double and got_idx > single  # double adjectives exist
    # quantified + within-clause compose
    bounded = set(s.pattern_hits(REP_PAT + " within <s/>"))
    assert bounded <= got_idx
    # auto route handles quantifiers on the distributed plan too
    assert set(s.pattern_hits_auto(REP_PAT, df_budget=1)) == got_idx


def test_repetition_quantifier_parse_rules():
    from word_sketch_lucene_spark.plans.cql import (
        TokenItem,
        expand_repetitions,
        parse_cql,
    )

    items = parse_cql(REP_PAT)
    assert isinstance(items[0], TokenItem)
    assert (items[0].rep_min, items[0].rep_max) == (1, 2)
    assert len(expand_repetitions(items)) == 2
    # min 0 = OPTIONAL constrained token (the Sketch-Engine grammar
    # form [tag="DT"]{0,1}); expansion emits the absent variant
    opt = parse_cql('[xpos="JJ.*"]{0,2} [xpos="NN.*"]')
    assert (opt[0].rep_min, opt[0].rep_max) == (0, 2)
    assert len(expand_repetitions(opt)) == 3
    with pytest.raises(ValueError, match="repetition"):
        parse_cql('[xpos="JJ.*"]{3,2} [xpos="NN.*"]')  # min > max
    with pytest.raises(ValueError, match="variants"):
        expand_repetitions(parse_cql('[a="x"]{1,9} [b="y"]{1,9}'))


def test_within_sentence_needs_sent_no_column(spark, docs_small):
    from word_sketch_lucene_spark.functions.tokenize import explode_tokens

    with pytest.raises(ValueError, match="sent_no"):
        compile_cql(explode_tokens(docs_small), SENT_PAT,
                    within_sentence=True)


# -------------------------------------- layer-complete hot-pattern fallback
def test_layered_pattern_auto_fallback_identical(spark, conllu_index):
    """A hot LAYERED pattern (xpos-headed — Σdf ≈ corpus size) must
    leave the driver: the forced fallback runs the forward-layer token
    table through the DataFrame compiler and reproduces the span chain
    span for span (round-3 verdict item #1)."""
    from word_sketch_lucene_spark.query.engine import IndexSearcher

    root, _, _ = conllu_index
    s = IndexSearcher(spark, root)
    pat = '[xpos="NN.*"] []{0,1} [xpos="VB.*" & word!="scan"]'
    direct = set(s.pattern_hits(pat))
    assert direct
    fallback = set(s.pattern_hits_auto(pat, df_budget=1))  # force
    assert fallback == direct
    # the xpos slot really is hot: Σcf estimate exceeds any real budget
    cost, _ = s.pattern_cost(pat)
    assert cost > 1
    # sentence bounding holds through the distributed fallback too
    bounded_direct = set(s.pattern_hits(pat, within_sentence=True))
    bounded_fb = set(s.pattern_hits_auto(pat, df_budget=1,
                                         within_sentence=True))
    assert bounded_fb == bounded_direct < direct


def test_forward_token_table_shape(spark, conllu_index):
    from word_sketch_lucene_spark.query.engine import IndexSearcher

    root, _, _ = conllu_index
    s = IndexSearcher(spark, root)
    tok = s.forward_token_table()
    assert {"doc_id", "pos", "term", "lemma", "upos", "xpos",
            "deprel", "sent_no", "token_id", "head"} <= set(tok.columns)
    # positions dense 0..dl-1 per doc (the forward-store invariant)
    row = tok.groupBy("doc_id").agg(
        F.count("*").alias("n"), F.min("pos").alias("lo"),
        F.max("pos").alias("hi")).agg(
        F.sum(F.when((F.col("lo") != 0)
                     | (F.col("hi") != F.col("n") - 1), 1)
              .otherwise(0)).alias("bad")).collect()[0]
    assert row["bad"] == 0


# --------------------------------------------- distributed index sketch
def test_index_word_sketch_distributed_identical(spark, conllu_index):
    """The executor-side sketch (forward_layers posexplode +
    word_sketch_patterns + layer_stats dictionary) row-equals the
    in-driver span-chain sketch — peak driver memory O(result rows)
    (round-3 verdict item #2)."""
    from word_sketch_lucene_spark.plans.relations import (
        EN_CATALOG,
        GrammarCatalog,
    )
    from word_sketch_lucene_spark.query.engine import IndexSearcher
    from word_sketch_lucene_spark.query.sketch import (
        index_word_sketch,
        index_word_sketch_distributed,
    )

    root, _, _ = conllu_index
    s = IndexSearcher(spark, root)
    cat = GrammarCatalog.load(EN_CATALOG)
    want = sorted(index_word_sketch(s, "table", cat, head_pos="NOUN",
                                    limit_per_relation=10, round_dp=4))
    got = sorted(
        (r["relation"], r["colloc_term"], r["pair_freq"], r["logdice"],
         r["rel_freq"])
        for r in index_word_sketch_distributed(
            s, "table", cat, head_pos="NOUN", limit_per_relation=10,
            round_dp=4).collect())
    assert got == want and got
    # DEP relations too
    want_dep = sorted(index_word_sketch(
        s, "scan", cat, head_pos="VERB", relation_types=("DEP",),
        limit_per_relation=10, round_dp=4))
    got_dep = sorted(
        (r["relation"], r["colloc_term"], r["pair_freq"], r["logdice"],
         r["rel_freq"])
        for r in index_word_sketch_distributed(
            s, "scan", cat, head_pos="VERB", relation_types=("DEP",),
            limit_per_relation=10, round_dp=4).collect())
    assert got_dep == want_dep and got_dep


def test_relation_matches_auto_distributed_identical(spark, conllu_index):
    """The deprel slot is corpus-proportional, so hot relation queries
    must leave the driver: the forced distributed dependency join over
    the forward token table reproduces the in-driver resolver match
    for match, and the collocate ranking is route-independent."""
    from word_sketch_lucene_spark.query.engine import IndexSearcher
    from word_sketch_lucene_spark.query.sketch import (
        index_relation_collocates,
    )

    root, _, _ = conllu_index
    s = IndexSearcher(spark, root)
    q = '[lemma="scan"] -nsubj-> [upos="NOUN"]'
    direct = sorted(s.relation_matches(q))
    assert direct
    routed = sorted(s.relation_matches_auto(q, df_budget=0))  # force
    assert routed == direct
    # under budget the auto path is the in-driver resolver
    assert sorted(s.relation_matches_auto(q)) == direct
    want = index_relation_collocates(s, q, limit=20, round_dp=4)
    got = index_relation_collocates(s, q, limit=20, round_dp=4,
                                    df_budget=0)
    assert got == want and got


def test_position_cache_byte_budget_evicts_not_breaks(spark, conllu_index):
    """The searcher's one cache is bounded in BYTES: under a 1 KiB
    budget nearly every entry is served to its query and then evicted
    (or never kept), and every query surface still answers exactly as
    a default-budget searcher does — twice over, through cold caches.
    Resident bytes stay within the budget plus one entry."""
    from word_sketch_lucene_spark.plans.relations import (
        EN_CATALOG,
        GrammarCatalog,
    )
    from word_sketch_lucene_spark.query.engine import IndexSearcher
    from word_sketch_lucene_spark.query.sketch import index_word_sketch

    root, _, _ = conllu_index
    cat = GrammarCatalog.load(EN_CATALOG)
    pat = '[xpos="NN.*"] [xpos="VB.*"]'
    neg = '[xpos="NN.*"] [xpos!="VB.*"] [xpos="VB.*"]'

    def answers(s):
        out = [s.search("scan table index", k=10, mode=m)[0]
               for m in IndexSearcher.MODES]
        out.append(s.phrase_hits("the table"))
        out.append(s.pattern_hits(pat))
        out.append(s.pattern_hits(neg))
        out.append(index_word_sketch(s, "table", cat, head_pos="NOUN",
                                     limit_per_relation=10, round_dp=4,
                                     use_store=False))
        return out

    ref = IndexSearcher(spark, root)
    want = answers(ref)
    assert all(want[:5]) and want[5] and want[6] and want[8]

    s = IndexSearcher(spark, root)
    s._cache.budget_bytes = 1024  # force constant eviction
    largest = 0
    for _ in range(2):
        assert answers(s) == want
        largest = max([largest] + [size for _v, size
                                   in s._cache._entries.values()])
        assert s._cache.bytes <= 1024 + largest
    # the default-budget searcher keeps its working set
    assert ref._cache.bytes > 1024 >= s._cache.bytes


# ------------------------------------------------- sent_len guard (#8)
def test_layer_tokens_sent_len_guard(spark):
    """An 11-token sentence under sent_len=10 must FAIL the job (the
    arithmetic position would collide with the next sentence), not
    corrupt adjacency joins silently."""
    from py4j.protocol import Py4JJavaError

    from word_sketch_lucene_spark.sources.conllu import (
        layer_tokens,
        parse_conllu_docs,
    )

    lines = "\n".join(
        f"{i}\tw{i}\tw{i}\tNOUN\tNN\t_\t0\tdep" for i in range(1, 12))
    docs = spark.createDataFrame([("d1", lines)], "doc_id string, conllu string")
    parsed = parse_conllu_docs(docs)
    with pytest.raises(Exception) as ei:
        # consume the pos column (count() would prune it away unevaluated)
        layer_tokens(parsed, sent_len=10).agg(F.max("pos")).collect()
    assert "collide" in str(ei.value) or isinstance(ei.value, Py4JJavaError)
    # the windowed path handles the same sentence fine
    assert layer_tokens(parsed).agg(F.max("pos")).collect()[0][0] == 10


# ------------------------------------------- negated operand tests (r5)
def test_relation_negated_tests_all_routes_identical(spark, conllu_index):
    """Negated operand tests (``upos!=...``) must constrain identically
    on ALL THREE routes — in-driver resolver, forced distributed join,
    DataFrame compile — and must actually narrow the unnegated set
    (ADVICE r4: suspected silent drop on the in-driver path)."""
    from word_sketch_lucene_spark.operators.dependency import (
        relation_query_pairs,
    )
    from word_sketch_lucene_spark.query.engine import IndexSearcher
    from word_sketch_lucene_spark.sources.conllu import layer_tokens

    root, parsed, name2id = conllu_index
    s = IndexSearcher(spark, root)
    base = '[lemma="scan"] -nsubj-> _'
    full = sorted(s.relation_matches(base))
    assert full
    # negate the WORD of one actual dependent, so the negation is
    # guaranteed to bite regardless of the synthetic tag distribution
    lt = layer_tokens(parsed, sent_len=10)
    id2name = {v: k for k, v in name2id.items()}
    d0, _gp0, dp0 = full[0]
    dep_word = lt.filter((F.col("doc_id") == id2name[d0])
                         & (F.col("pos") == dp0)) \
        .select("term").collect()[0][0]
    neg = f'[lemma="scan"] -nsubj-> [word!="{dep_word}"]'
    direct = sorted(s.relation_matches(neg))
    routed = sorted(s.relation_matches_auto(neg, df_budget=0))  # force
    assert routed == direct
    assert set(direct) < set(full), "negation excluded nothing (weak)"
    # negated SOURCE test: 'scan' is VERB, so upos!="VERB" on the
    # source must empty the result on every route
    neg_src = '[lemma="scan" & upos!="VERB"] -nsubj-> _'
    assert s.relation_matches(neg_src) == []
    assert s.relation_matches_auto(neg_src, df_budget=0) == []
    # DataFrame twin on the SAME corpus: map (doc, sent, gov_id, dep_id)
    # → flat positions via layer_tokens to compare spans
    pos_of = {(name2id[r["doc_id"]], int(r["sent_no"]),
               r["token_id"]): r["pos"]
              for r in lt.select("doc_id", "sent_no", "token_id", "pos")
              .collect()}
    df_pairs = relation_query_pairs(parsed, neg).collect()
    df_spans = sorted(
        (name2id[r["doc_id"]],
         pos_of[(name2id[r["doc_id"]], int(r["sent_id"]), r["gov_id"])],
         pos_of[(name2id[r["doc_id"]], int(r["sent_id"]), r["dep_id"])])
        for r in df_pairs)
    assert df_spans == direct


def test_relation_purely_negative_source_auto_routes(spark, conllu_index):
    """A purely-negative source operand can't drive in-driver candidates
    (complement is corpus-sized) — relation_matches raises, but the
    AUTO router must serve it via the distributed join instead, and the
    result must equal the DataFrame twin's."""
    from word_sketch_lucene_spark.query.engine import IndexSearcher

    root, parsed, name2id = conllu_index
    s = IndexSearcher(spark, root)
    q = '[upos!="NOUN"] -nsubj-> _'
    with pytest.raises(NotImplementedError):
        s.relation_matches(q)
    routed = sorted(s.relation_matches_auto(q))
    rows = s.relation_join_df(
        __import__("word_sketch_lucene_spark.plans.cql",
                   fromlist=["parse_relation_query"])
        .parse_relation_query(q)).collect()
    want = sorted((int(r["doc_id"]), int(r["gp"]), int(r["dp"]))
                  for r in rows)
    assert routed == want and routed


def test_index_relation_concordance(spark, conllu_index, monkeypatch):
    """Relation-query KWIC off index artifacts: keyword covers the
    governor→dependent span, context from the docstore; the forced
    distributed route pages inside the plan (no full match collect)
    and equals the in-driver route's page."""
    from word_sketch_lucene_spark.query.concordance import (
        index_relation_concordance,
    )
    from word_sketch_lucene_spark.query.engine import IndexSearcher

    root, _, _ = conllu_index
    s = IndexSearcher(spark, root)
    q = '[lemma="scan"] -nsubj-> _'
    want = [tuple(r) for r in index_relation_concordance(
        s, q, page_size=5, context=2, df_budget=10**12).collect()]
    assert 0 < len(want) <= 5
    spans = {(d, min(g, p)): max(g, p)
             for d, g, p in s.relation_matches(q)}
    for r in want:
        rank, doc_id, pos, left, kw, right = r
        end = spans[(doc_id, pos)]
        assert len(kw.split()) == end - pos + 1
        assert len(left.split()) <= 2 and len(right.split()) <= 2
    # distributed route: never materializes the match list driver-side
    def boom(*a, **k):  # pragma: no cover
        raise AssertionError("relation KWIC collected the match list")

    monkeypatch.setattr(s, "relation_matches", boom)
    got = [tuple(r) for r in index_relation_concordance(
        s, q, page_size=5, context=2, df_budget=0).collect()]
    assert got == want
