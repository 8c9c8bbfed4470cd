"""One parsed query for every consumer: the clause orders the parser
accepts (``within <s/>`` before or after the inter-slot constraints)
give the same rows on every route, and constrained queries price and
filter sentences like their unconstrained cores."""

from __future__ import annotations

from word_sketch_lucene_spark.plans.cql import parse_query

CORE = '1:[lemma="table"] []{0,3} 2:[xpos="NN.*"]'
# BlackLab writes the constraint last, wsdef before the `within`
BLACKLAB = f"{CORE} within <s/> :: 1.deprel = 2.deprel"
WSDEF = f"{CORE} & 1.deprel = 2.deprel within <s/>"


def _searcher(spark, conllu_index):
    from word_sketch_lucene_spark.query.engine import IndexSearcher

    return IndexSearcher(spark, conllu_index[0])


def test_clause_orders_give_equal_rows(spark, conllu_index):
    s = _searcher(spark, conllu_index)
    assert parse_query(BLACKLAB).layers == parse_query(WSDEF).layers \
        == {"lemma", "xpos", "deprel"}
    hits = s.pattern_hits(BLACKLAB)
    assert hits and hits == s.pattern_hits(WSDEF)
    matches = s.pattern_matches(BLACKLAB)
    assert matches and matches == s.pattern_matches(WSDEF)
    assert sorted({(d, a[0], a[-1]) for d, a in matches}) == hits
    for pattern in (BLACKLAB, WSDEF):
        spans = sorted(tuple(r) for r in s.pattern_spans_df(
            pattern, df_budget=-1).collect())
        assert spans == hits, pattern


def test_constrained_query_prices_and_filters_sentences(spark,
                                                        conllu_index):
    from word_sketch_lucene_spark.plans import cql

    s = _searcher(spark, conllu_index)
    pattern = '1:[xpos="JJ.*"] 2:[xpos="NN.*"] & 1.deprel != 2.deprel'
    # the constraint compares forward values; only the tests are priced
    assert s.pattern_cost(pattern) == \
        s.pattern_cost('1:[xpos="JJ.*"] 2:[xpos="NN.*"]')
    for clause in ("containing", "!containing"):
        query = f"<s/> {clause} {pattern}"
        got = sorted(tuple(r) for r in
                     s.sentence_spans_containing(query).collect())
        tokens = s.forward_token_table(
            columns={"xpos", "deprel", "sent_no"})
        want = sorted(tuple(r) for r in cql.sentence_spans_containing(
            tokens, query).collect())
        assert got == want and got, clause
