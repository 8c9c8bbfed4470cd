"""Sketch-Engine wsdef grammar loader + the quantifier DP compiler."""

import os

import pytest

from word_sketch_lucene_spark.plans.cql import (
    Query,
    compile_cql,
    expand_repetitions,
    parse_cql,
    parse_query,
)
from word_sketch_lucene_spark.plans.wsdef import load_wsdef, parse_wsdef

REF_GRAMMAR = "/root/reference/grammars/penn_3.1_en.txt"

WSDEF = """
# tiny grammar exercising every construct the loader handles
*STRUCTLIMIT s
*DEFAULTATTR tag

*FIXORDER ;a;b

=coordination of "%w"
*UNIMAP and_or
*SYMMETRIC
\t1:"VB.*" [word="and"] 2:"VB.*" & 1.tag = 2.tag

*DUAL
=objects of "%w"/verbs with "%w" as object
*UNIMAP object/object_of
\t1:"VB.*" [tag="DT"]{0,1} [tag="JJ"|tag="RB"]{0,2} 2:"NN.*"

*UNARY
=in passive
*UNIMAP passive
\t"VB.*"? 1:"VBN"
"""


def test_parse_wsdef_sections():
    cat = parse_wsdef(WSDEF)
    assert cat.catalog_structlimit is True
    assert cat.skipped_unary == ["passive"]
    by = {}
    for r in cat.relations:
        by.setdefault(r.id, []).append(r)
    assert set(by) == {"and_or", "and_or__sym", "object", "object_of"}
    # symmetric mirror swaps the labels, constraint included
    a, s = by["and_or"][0], by["and_or__sym"][0]
    assert '1:[tag="VB.*"]' in a.pattern and "1.tag = 2.tag" in a.pattern
    assert s.pattern.index('2:[tag="VB.*"]') < s.pattern.index(
        '1:[tag="VB.*"]')
    # bare default-attr token + `?` + `{m,n}` + in-bracket `|` translate
    o = by["object"][0]
    assert o.pattern == ('1:[tag="VB.*"] [tag="DT"]{0,1} '
                         '[tag="JJ"|tag="RB"]{0,2} 2:[tag="NN.*"]')
    assert o.head_position == 1 and o.colloc_position == 4
    # dual mirror keeps the swapped labels
    of = by["object_of"][0]
    assert of.pattern.startswith('2:[tag="VB.*"]')
    # every emitted pattern parses in the engine dialect
    for r in cat.relations:
        assert r.query == parse_query(r.pattern)


def test_parse_wsdef_keep_unary():
    cat = parse_wsdef(WSDEF, skip_unary=False)
    un = [r for r in cat.relations if r.extra.get("unary")]
    assert [r.id for r in un] == ["passive"]
    assert un[0].pattern == '[tag="VB.*"]{0,1} 1:[tag="VBN"]'
    # a unary relation's collocate is its head
    assert un[0].head_position == un[0].colloc_position == 2


@pytest.mark.skipif(not os.path.exists(REF_GRAMMAR),
                    reason="reference grammar not present")
def test_full_reference_grammar_parses():
    """The COMPLETE shipped English Penn grammar loads: 54 directed
    pattern entries over 30 relation ids, every pattern parseable by
    the engine (quantifiers, cross-attr `|`, negated groups,
    `& 1.tag = 2.tag` constraints)."""
    cat = load_wsdef(REF_GRAMMAR)
    assert cat.catalog_structlimit is True
    ids = {r.id for r in cat.relations}
    assert len(cat.relations) == 54 and len(ids) == 30
    assert {"object", "object_of", "subject", "subject_of", "and_or",
            "and_or__sym", "modifier", "modifies"} <= ids
    assert cat.skipped_unary == ["passive", "reflexive", "it", "it",
                                 "it"]
    for r in cat.relations:
        assert r.query == parse_query(r.pattern)


# ------------------------------------------------- quantifier DP path
DP_PATTERNS = [
    '1:[xpos="NN.*"] [xpos="RB.*"]{0,3} 2:[xpos="VB.*"]',
    '1:[xpos="VB.*"] [xpos="RB"]{0,2} [xpos="DT"]{0,1} [xpos="CD"]{0,2}'
    ' 2:[xpos="NN"]',
    '1:[xpos="VB.*"] [xpos="RB"]{1,2} 2:[xpos="JJ.*"]',
    '[xpos="DT"] [xpos="JJ"]{0,2} [xpos="NN.*"]{1,2} 1:[xpos="VB.*"] '
    '[]{0,2} 2:[xpos="NN"]',
    # same filler class SPLIT across an intervening optional (run
    # capacity must not leak between the two RB quantifiers)
    '1:[xpos="NN"] [xpos="WP"]{0,1} [xpos="RB"]{0,3} [xpos="VB.*"]{0,1}'
    ' [xpos="RB"]{0,2} 2:[xpos="JJ.*"] [xpos!="NN.*"]',
    # cross-attr `|` disjunction inside a quantified filler
    '1:[xpos="NN"] [xpos="JJ.*"|xpos="RB.*"|word=","]{0,3} 2:[xpos="NN"]'
    ' [xpos!="NN.*"]',
]


@pytest.fixture(scope="module")
def dp_tokens(spark):
    import random

    random.seed(11)
    tags = ["DT", "CD", "JJ", "JJR", "RB", "NN", "NNZ", "VB", "VBD",
            "IN", "PP", ",", "WP"]
    rows = []
    for d in range(25):
        for p in range(random.randint(5, 22)):
            rows.append((d, p, f"w{random.randint(0, 20)}",
                         f"l{random.randint(0, 10)}",
                         random.choice(tags), p // 7))
    return spark.createDataFrame(
        rows, "doc_id long, pos long, term string, lemma string, "
              "xpos string, sent_no long").localCheckpoint()


@pytest.mark.parametrize("pat", DP_PATTERNS)
def test_dp_equals_expansion(dp_tokens, pat):
    """The interval-DP compile is row-identical to brute-force variant
    expansion (the semantics oracle)."""
    got = {tuple(r) for r in compile_cql(dp_tokens, pat).collect()}
    exp = None
    for v in expand_repetitions(parse_cql(pat), max_variants=4096):
        b = compile_cql(dp_tokens, Query(tuple(v)))
        exp = b if exp is None else exp.unionByName(b)
    want = {tuple(r) for r in exp.distinct().collect()}
    assert got == want


def test_dp_handles_explosive_pattern(dp_tokens):
    """The Sketch-Engine copula NP chunk — 2592 expansion variants —
    compiles and runs as ONE linear plan (run-table joins), where
    expansion is unusable."""
    heavy = ('1:[xpos="NN.*"] [xpos="WP"]{0,1} [xpos="RB.*"]{0,5} '
             '[xpos="VB.*"] [xpos="RB.*"]{0,2} [xpos="DT"]{0,1} '
             '[xpos="CD"]{0,2} [xpos="JJ.*"|xpos="RB.*"|word=","]{0,3} '
             '[xpos="NN.*"]{0,2} 2:[xpos="NN"] [xpos!="NN.*"]')
    n = compile_cql(dp_tokens, heavy).count()
    assert n >= 0  # completes; exactness pinned by the smaller shapes


def test_dp_interval_end_enumeration(spark):
    """A trailing optional filler yields one row per realizable end —
    the interval state enumerates ends exactly."""
    rows = [(0, 0, "v", "v", "VB", 0), (0, 1, "a", "a", "RB", 0),
            (0, 2, "b", "b", "RB", 0), (0, 3, "n", "n", "NN", 0)]
    tok = spark.createDataFrame(
        rows, "doc_id long, pos long, term string, lemma string, "
              "xpos string, sent_no long")
    spans = {(r["start"], r["end"]) for r in compile_cql(
        tok, '1:[xpos="VB"] [xpos="RB"]{0,2}').collect()}
    assert spans == {(0, 0), (0, 1), (0, 2)}


def test_unary_counts(spark):
    """SkE *UNARY gramrels: per-relation head match frequencies;
    zero-match relations are absent."""
    from word_sketch_lucene_spark.plans.relations import unary_counts

    g = """\
*DEFAULTATTR tag
*UNARY
=before verb
*UNIMAP u_v
\t1:"NN" [tag="DT"]{0,1} "VB"

*UNARY
=never matches
*UNIMAP u_zero
\t1:"NN" [word="zzz"]
"""
    cat = parse_wsdef(g, skip_unary=False)
    rows = [(0, 0, "cats", "cat", "NN", 0), (0, 1, "the", "the", "DT", 0),
            (0, 2, "run", "run", "VB", 0), (0, 3, "cat", "cat", "NN", 0),
            (0, 4, "sit", "sit", "VB", 0), (1, 0, "cat", "cat", "NN", 0)]
    tok = spark.createDataFrame(
        rows, "doc_id long, pos long, term string, lemma string, "
              "xpos string, sent_no long")
    got = [(r["relation"], r["freq"])
           for r in unary_counts(tok, cat, "cat").collect()]
    # doc0 pos0 (cat DT VB) and pos3 (cat VB) both match u_v; doc1 no VB
    assert got == [("u_v", 2)]


def test_trinary_sub_relations(spark):
    """SkE *TRINARY gramrels: the 3: slot's lemma parameterizes the
    relation id — one sub-relation per value, separately ranked."""
    from word_sketch_lucene_spark.plans.relations import (
        word_sketch_patterns,
    )
    from pyspark.sql import functions as F

    g = """\
*DEFAULTATTR tag
*TRINARY
="%w" %(3.lemma) ...
*UNIMAP pp
\t1:"NN" 3:"IN" 2:"NN"
"""
    cat = parse_wsdef(g)
    rows = [(0, 0, "cat", "cat", "NN"), (0, 1, "in", "in", "IN"),
            (0, 2, "box", "box", "NN"), (0, 3, "cat", "cat", "NN"),
            (0, 4, "on", "on", "IN"), (0, 5, "mat", "mat", "NN")]
    tok = spark.createDataFrame(
        rows, "doc_id long, pos long, term string, lemma string, "
              "xpos string")
    stats = tok.groupBy(F.col("lemma").alias("term")) \
        .agg(F.count("*").alias("cf"))
    got = {(r["relation"], r["colloc_term"], r["pair_freq"])
           for r in word_sketch_patterns(tok, stats, "cat", cat).collect()}
    assert got == {("pp/in", "box", 1), ("pp/on", "mat", 1)}


@pytest.fixture(scope="module")
def penn_tokens(spark):
    """A tiny Penn-tagged corpus for the reference-grammar tests."""
    sent = [("the", "the", "DT"), ("big", "big", "JJ"),
            ("dog", "dog", "NN"), ("chased", "chase", "VBD"),
            ("a", "a", "DT"), ("small", "small", "JJ"),
            ("cat", "cat", "NN"), ("quickly", "quickly", "RB"),
            ("and", "and", "CC"), ("the", "the", "DT"),
            ("dog", "dog", "NN"), ("ran", "run", "VBD"),
            (".", ".", "SENT")]
    rows = [(d, p, w, l, x, 0)
            for d in range(3) for p, (w, l, x) in enumerate(sent)]
    return spark.createDataFrame(
        rows, "doc_id long, pos long, term string, lemma string, "
              "xpos string, sent_no long").localCheckpoint()


@pytest.mark.skipif(not os.path.exists(REF_GRAMMAR),
                    reason="reference grammar not present")
def test_reference_grammar_core_relations_sketch(spark, penn_tokens):
    """The reference grammar's core relations (object/subject + duals,
    NP-chunk optionals) run as a word-sketch fan-out over a
    Penn-tagged corpus: 'chased a small cat' ranks cat as object of
    chase, 'dog chased' ranks dog as subject — through the full
    2592-variant NP chunk compiled by the interval DP."""
    from pyspark.sql import functions as F

    from word_sketch_lucene_spark.plans.relations import (
        GrammarCatalog,
        word_sketch_patterns,
    )

    stats = penn_tokens.groupBy(F.col("lemma").alias("term")) \
        .agg(F.count("*").alias("cf"))
    cat = load_wsdef(REF_GRAMMAR)
    keep = {"object", "subject", "object_of", "subject_of"}
    sub = GrammarCatalog([r for r in cat.relations if r.id in keep])
    out = word_sketch_patterns(penn_tokens, stats, "chase", sub,
                               limit_per_relation=5, round_dp=4)
    got = {(r["relation"], r["colloc_term"]) for r in out.collect()}
    assert ("object", "cat") in got
    assert ("subject", "dog") in got
    # the noun-headed duals match nothing for a verb head
    assert not any(rel.endswith("_of") for rel, _ in got)


@pytest.mark.skipif(not os.path.exists(REF_GRAMMAR),
                    reason="reference grammar not present")
def test_reference_grammar_every_pattern_executes(spark, penn_tokens):
    """EVERY directed pattern entry of the complete shipped grammar
    (54 — incl. the 2592-variant copula chunks, negated groups,
    TRINARY 3: slots, coordination constraints) compiles and executes
    against a token table. Sanity-anchors: the object NP chunk finds
    'chased a small cat', coordination finds nothing (no same-tag
    conjuncts adjacent), and no pattern errors."""
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        cat = load_wsdef(REF_GRAMMAR)
        by_id = {}
        for r in cat.relations:
            by_id.setdefault(r.id, []).append(r)
        obj_hits = 0
        for r in cat.relations:
            n = compile_cql(penn_tokens, r.pattern).count()
            if r.id == "object":
                obj_hits += n
        assert obj_hits >= 3  # 'chased … cat' in each of the 3 docs
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
