"""Grammar catalog validation, word sketch fan-out, dependency joins,
KWIC concordances."""

import json

import pytest
from pyspark.sql import functions as F

from word_sketch_lucene_spark.functions.tokenize import explode_tokens, tokens_expr
from word_sketch_lucene_spark.index.stats import term_stats
from word_sketch_lucene_spark.operators.dependency import (
    annotate_tokens,
    dependency_pairs,
    dependency_sketch,
)
from word_sketch_lucene_spark.plans.relations import GrammarCatalog, word_sketch
from word_sketch_lucene_spark.query.concordance import (
    concordance_page,
    dedup_examples,
    find_hits,
    find_phrase_hits,
)


def test_catalog_loads_and_validates():
    cat = GrammarCatalog.load()
    assert len(cat.relations) >= 30
    assert len(cat.surface()) >= 18 and len(cat.dep()) >= 12
    assert cat.by_id["adj_modifier"].colloc_class == "ADJ"
    assert any(r.pattern for r in cat.surface())  # BCQL pattern relations
    assert any(r.dual for r in cat.surface())


@pytest.mark.parametrize("bad,msg", [
    ([{"id": "x", "name": "n"}], "missing"),
    ([{"id": "x", "name": "n", "type": "SURFACE"},
      {"id": "x", "name": "n2", "type": "SURFACE"}], "duplicate"),
    ([{"id": "x", "name": "n", "type": "WEIRD"}], "bad type"),
    ([{"id": "x", "name": "n", "type": "DEP"}], "deprel"),
])
def test_catalog_validation_errors(tmp_path, bad, msg):
    p = tmp_path / "rel.json"
    p.write_text(json.dumps(bad))
    with pytest.raises(ValueError, match=msg):
        GrammarCatalog.load(p)


def test_word_sketch_fanout(spark, docs_small):
    from word_sketch_lucene_spark.plans.relations import sketch_branches

    tokens = explode_tokens(docs_small)
    ts = term_stats(tokens)
    cat = GrammarCatalog.load()
    sk = word_sketch(tokens, ts, "table", cat, limit_per_relation=5)
    rows = sk.collect()
    rels = {r["relation"] for r in rows}
    allowed = ({b.id for b in sketch_branches(cat, "table")}
               | {r.id for r in cat.surface() if r.pattern})
    assert rels <= allowed
    assert {"adj_modifier", "near_5", "pred_adj"} <= rels
    # dual mirrors fire for a NOUN head (noun plays the collocate role)
    assert "object_of~of" in rels and "det_noun~of" in rels
    # negative-gap ordered relations (collocate BEFORE the head) fire too
    assert "noun_modifiers" in rels and "noun_dets" in rels
    # per-relation cap respected
    for rel in rels:
        assert sum(1 for r in rows if r["relation"] == rel) <= 5


def test_dual_mirror_semantics(spark):
    """Golden: det_noun is DET→NOUN ordered; its ~of mirror for a NOUN
    head must count determiners PRECEDING the noun within the gap."""
    df = spark.createDataFrame([(0, "the table scan the fast table")],
                               ["doc_id", "text"])
    toks = explode_tokens(df)
    sk = word_sketch(toks, term_stats(toks), "table", GrammarCatalog.load(),
                     limit_per_relation=10)
    rows = {(r["relation"], r["colloc_term"]): r["pair_freq"]
            for r in sk.collect()}
    # 'table' at pos 1 (the@0, gap 1) and pos 5 (the@3, gap 2) → freq 2
    assert rows[("det_noun~of", "the")] == 2
    # forward branch must NOT fire for a NOUN head (det_noun head is DET)
    assert not any(r == "det_noun" for r, _ in rows)


def test_word_sketch_dual_pattern_relation(spark, docs_small):
    """The EN catalog's ``verb_nouns`` is a dual one-slot pattern
    (``1:[xpos="NN.*"]``, no 2: label). ``word_sketch`` folds it, like
    every pattern relation, through the ``word_sketch_patterns`` pair
    builder: the call returns rows, and its pattern-relation rows equal
    ``word_sketch_patterns`` over the surface layer."""
    from word_sketch_lucene_spark.caching import release_all
    from word_sketch_lucene_spark.plans.relations import (
        EN_CATALOG,
        word_class_expr,
        word_sketch_patterns,
    )

    wc = word_class_expr("term")
    lt = explode_tokens(docs_small).select(
        "doc_id", "pos", "term", F.col("term").alias("lemma"),
        F.when(wc == "NOUN", "NN").when(wc == "VERB", "VB")
        .when(wc == "ADJ", "JJ").when(wc == "DET", "DT")
        .otherwise("XX").alias("xpos"))
    stats = term_stats(lt)
    cat = GrammarCatalog.load(EN_CATALOG)
    kw = dict(limit_per_relation=10, round_dp=4)
    ws = sorted(tuple(r) for r in
                word_sketch(lt, stats, "table", cat, **kw).collect())
    pat = sorted(tuple(r) for r in word_sketch_patterns(
        lt, stats, "table", cat, subst_attr="word", colloc_attr=None,
        **kw).collect())
    release_all()
    pattern_ids = {r.id for r in cat.surface() if r.pattern}
    assert ws and pat
    assert any(r[0] == "verb_nouns" for r in ws)
    assert [r for r in ws if r[0].split("/")[0] in pattern_ids] == pat


def test_annotate_deterministic_and_shaped(spark, docs_small):
    ann = annotate_tokens(explode_tokens(docs_small))
    r = ann.filter((F.col("doc_id") == 0) & (F.col("sent_id") == 0)).orderBy(
        "token_id").collect()
    assert r[0]["token_id"] == 1 and r[0]["head_id"] == 0  # sentence root
    assert all(x["head_id"] == x["token_id"] - 1 for x in r)
    assert {x["deprel"] for x in r} <= {"det", "amod", "nsubj", "conj", "dep"}


def test_dependency_pairs_structure(spark, docs_small):
    ann = annotate_tokens(explode_tokens(docs_small))
    pairs = dependency_pairs(ann)
    # every dependent with head_id>0 joins exactly one governor
    n_dep = ann.filter(F.col("head_id") > 0).count()
    assert pairs.count() == n_dep


def test_dependency_sketch_runs_and_ranked(spark, docs_small):
    tokens = explode_tokens(docs_small)
    ann = annotate_tokens(tokens)
    ts = term_stats(tokens)
    sk = dependency_sketch(ann, ts, "table", "nsubj", limit=10).collect()
    assert sk, "expected nsubj dependents of 'table'"
    scores = [r["logdice"] for r in sk]
    assert scores == sorted(scores, reverse=True)


def test_concordance_page_golden(spark):
    docs = [(0, "a b target c d e"), (1, "x target y")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    tokens = explode_tokens(df)
    docstore = df.select("doc_id", tokens_expr("text").alias("tokens"))
    hits = find_hits(tokens, "target")
    assert hits.count() == 2
    page = concordance_page(hits, docstore, offset=0, page_size=10,
                            context=2).collect()
    assert (page[0]["left"], page[0]["kw"], page[0]["right"]) == ("a b", "target", "c d")
    assert (page[1]["left"], page[1]["kw"], page[1]["right"]) == ("x", "target", "y")
    # pagination window
    p2 = concordance_page(hits, docstore, offset=1, page_size=1, context=2).collect()
    assert len(p2) == 1 and p2[0]["rank"] == 2


def test_concordance_context_sorts(spark):
    docs = [(0, "q target b b q target a a"), (1, "z z target c")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    tokens = explode_tokens(df)
    docstore = df.select("doc_id", tokens_expr("text").alias("tokens"))
    hits = find_hits(tokens, "target")
    right = concordance_page(hits, docstore, page_size=10, context=2,
                             sort="right").collect()
    assert [(r["right"], r["rank"]) for r in right] == \
        [("a a", 1), ("b b", 2), ("c", 3)]
    # left sort compares nearest-token-first: "b q" reversed is "q b"
    left = concordance_page(hits, docstore, page_size=10, context=2,
                            sort="left").collect()
    assert [r["left"] for r in left] == ["q", "b q", "z z"]
    # edge hit at doc end: empty right context sorts first
    df2 = spark.createDataFrame([(0, "a target"), (1, "target b")],
                                ["doc_id", "text"])
    t2 = explode_tokens(df2)
    ds2 = df2.select("doc_id", tokens_expr("text").alias("tokens"))
    r2 = concordance_page(find_hits(t2, "target"), ds2, page_size=10,
                          context=2, sort="right").collect()
    assert [r["right"] for r in r2] == ["", "b"]


def test_phrase_hits(spark):
    docs = [(0, "the quick brown fox"), (1, "quick brown shoes"),
            (2, "quick red brown")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    tokens = explode_tokens(df)
    hits = find_phrase_hits(tokens, ["quick", "brown"]).collect()
    assert {(h["doc_id"], h["pos"]) for h in hits} == {(0, 1), (1, 0)}


def test_dedup_examples(spark):
    df = spark.createDataFrame(
        [("s1",), ("s1",), ("s2",), ("s3",)], ["kw_context"])
    assert dedup_examples(df, max_examples=2).count() == 2


CONLLU_DOC = """# newdoc id = d1
# sent_id = 1
# text = The big dogs chase cars
1\tThe\tthe\tDET\tDT\t_\t3\tdet
2\tbig\tbig\tADJ\tJJ\t_\t3\tamod
3\tdogs\tdog\tNOUN\tNNS\t_\t4\tnsubj
3-4\tignored\t_\t_\t_\t_\t_\t_
4\tchase\tchase\tVERB\tVBP\t_\t0\troot
4.1\tghost\t_\t_\t_\t_\t_\t_
5\tcars\tcar\tNOUN\tNNS\t_\t4\tobj

1\tBig\tbig\tADJ\tJJ\t_\t2\tamod
2\tdogs\tdog\tNOUN\tNNS\t_\t3\tnsubj
3\tbark\tbark\tVERB\tVBP\t_\t0\troot
"""


def test_conllu_layers_route_into_dependency_sketch(spark):
    """Real CoNLL-U (comments, MWT ranges, empty nodes) parsed by the
    production parser and routed into the dependency join: amod
    dependents of lemma 'dog' must be 'big' with freq 2 (both sents)."""
    from word_sketch_lucene_spark.operators.dependency import (
        annotated_from_conllu,
    )
    from word_sketch_lucene_spark.sources.conllu import parse_conllu_docs

    df = spark.createDataFrame([("d1", CONLLU_DOC)], ["doc_id", "conllu"])
    parsed = parse_conllu_docs(df)
    assert parsed.count() == 8  # MWT + empty-node lines dropped
    ann = annotated_from_conllu(parsed)
    stats = ann.groupBy("term").agg(F.count("*").alias("cf"))
    sk = dependency_sketch(ann, stats, "dog", "amod", limit=5).collect()
    assert len(sk) == 1
    assert sk[0]["dep_term"] == "big" and sk[0]["pair_freq"] == 2
    # nsubj of the verbs: dog in both sentences
    sk2 = dependency_sketch(ann, stats, "chase", "nsubj", limit=5).collect()
    assert [r["dep_term"] for r in sk2] == ["dog"]


def test_conllu_text_roundtrip(spark, docs_small):
    """rule_annotate → to_conllu_text → parse restores every layer."""
    from word_sketch_lucene_spark.operators.dependency import rule_annotate
    from word_sketch_lucene_spark.sources.conllu import (
        parse_conllu_docs,
        to_conllu_text,
    )

    ann = rule_annotate(explode_tokens(docs_small.limit(20)), sent_len=10)
    back = parse_conllu_docs(to_conllu_text(ann))
    a = {(r["doc_id"], r["sent_id"], r["token_id"]):
         (r["word"], r["lemma"], r["upos"], r["head"], r["deprel"])
         for r in ann.withColumn("doc_id", F.col("doc_id").cast("string"))
         .collect()}
    b = {(r["doc_id"], r["sent_id"], r["token_id"]):
         (r["word"], r["lemma"], r["upos"], r["head"], r["deprel"])
         for r in back.collect()}
    assert a == b


def test_rule_annotate_attachments(spark):
    """Golden: DET/ADJ attach to the next noun, NOUN to the last verb."""
    from word_sketch_lucene_spark.operators.dependency import rule_annotate

    df = spark.createDataFrame([(0, "the fast table scan a row")],
                               ["doc_id", "text"])
    rows = {r["word"]: (r["head"], r["deprel"])
            for r in rule_annotate(explode_tokens(df), sent_len=10).collect()}
    assert rows["the"] == (3, "det")       # next noun = table @3
    assert rows["fast"] == (3, "amod")
    assert rows["table"] == (4, "nsubj")   # no verb before → NEXT verb
    assert rows["scan"] == (3, "conj")     # previous token
    assert rows["a"] == (6, "det")         # next noun = row @6
    assert rows["row"] == (4, "obj")       # last verb before = scan @4


# ---------------------------------------------- EN pattern catalog (ported)
def test_en_catalog_loads_69_relations():
    from word_sketch_lucene_spark.plans.relations import EN_CATALOG

    cat = GrammarCatalog.load(EN_CATALOG)
    assert len(cat.relations) == 69
    assert len(cat.surface()) == 41 and len(cat.dep()) == 28
    # every entry is pattern-typed
    assert all(r.pattern for r in cat.relations)
    # DEP deprel derived from the pattern's deprel= test
    assert cat.by_id["dep_nsubj_pass"].deprel == "nsubj:pass"
    assert cat.by_id["dep_compound_prt"].deprel == "compound:prt"


def test_en_catalog_copula_positions():
    """Copula-style relations place the head label after filler tokens —
    positions must be derived from the labels, not assumed 1/2."""
    from word_sketch_lucene_spark.plans.relations import EN_CATALOG

    cat = GrammarCatalog.load(EN_CATALOG)
    r = cat.by_id["noun_adj_predicates"]  # 1:[NN] [lemma=be|...] 2:[JJ]
    assert (r.head_position, r.colloc_position) == (1, 3)
    it = cat.by_id["it_cleft"]  # 2:[word=it] [VB.*] 1:[JJ.*]
    assert (it.head_position, it.colloc_position) == (3, 1)
    # dual single-position relation: no 2: label, validation skipped
    vn = cat.by_id["verb_nouns"]
    assert vn.dual and vn.colloc_position == 2 and vn.default_slop == 10


def test_pattern_pos_group():
    from word_sketch_lucene_spark.plans.relations import (
        EN_CATALOG,
        pattern_pos_group,
    )

    cat = GrammarCatalog.load(EN_CATALOG)
    assert pattern_pos_group(cat.by_id["noun_adj_predicates"]) == "NOUN"
    assert pattern_pos_group(cat.by_id["verb_particles"]) == "VERB"
    assert pattern_pos_group(cat.by_id["it_cleft"]) == "ADJ"
    assert pattern_pos_group(cat.by_id["adj_adverbs"]) == "ADJ"


def test_pattern_relations_parse_once(monkeypatch, spark, conllu_index):
    """Each relation's pattern is parsed when the catalog is built:
    selecting a sketch's relations, reading their POS groups and
    trinary flags, and a warm live sketch parse no pattern again."""
    from word_sketch_lucene_spark.plans import cql
    from word_sketch_lucene_spark.plans.relations import (
        EN_CATALOG,
        pattern_pos_group,
    )
    from word_sketch_lucene_spark.query.engine import IndexSearcher
    from word_sketch_lucene_spark.query.sketch import index_word_sketch

    cat = GrammarCatalog.load(EN_CATALOG)
    s = IndexSearcher(spark, conllu_index[0])
    first = cat.pattern_relations(("SURFACE",), head_pos="NOUN")
    sketches = (("table", "NOUN"), ("make", "VERB"))
    warm = [index_word_sketch(s, h, cat, head_pos=pos, use_store=False)
            for h, pos in sketches]
    calls = []
    parse = cql.parse_cql
    monkeypatch.setattr(cql, "parse_cql",
                        lambda *a, **k: calls.append(a) or parse(*a, **k))
    again = cat.pattern_relations(("SURFACE",), head_pos="NOUN")
    groups = {r.id: (pattern_pos_group(r), r.trinary)
              for r in cat.relations}
    assert not calls
    assert again == first and first
    for (h, pos), want in zip(sketches, warm):
        assert index_word_sketch(s, h, cat, head_pos=pos,
                                 use_store=False) == want
        assert not calls, (h, len(calls))
    assert warm[0] and groups["noun_adj_predicates"] == ("NOUN", False)
    monkeypatch.undo()
    assert first == [r for r in cat.relations
                     if r.pattern and r.type == "SURFACE"
                     and pattern_pos_group(r) == "NOUN"]
    assert all(r.query == cql.parse_query(r.pattern)
               for r in cat.relations if r.pattern)


def test_pattern_validation_unlabeled_fails(tmp_path):
    bad = [{"id": "x", "name": "n", "type": "SURFACE",
            "pattern": '[xpos="NN.*"] [xpos="JJ.*"]'}]
    p = tmp_path / "rel.json"
    p.write_text(json.dumps(bad))
    with pytest.raises(ValueError, match="1: and 2:"):
        GrammarCatalog.load(p)


def test_dep_pattern_without_deprel_fails(tmp_path):
    bad = [{"id": "x", "name": "n", "type": "DEP",
            "pattern": '1:[xpos="VB.*"] 2:[xpos="NN.*"]'}]
    p = tmp_path / "rel.json"
    p.write_text(json.dumps(bad))
    with pytest.raises(ValueError, match="deprel"):
        GrammarCatalog.load(p)


@pytest.fixture(scope="module")
def conllu_layers(spark, docs_small):
    """Parsed CoNLL-U layer table from the rule annotator round trip."""
    from word_sketch_lucene_spark.operators.dependency import rule_annotate
    from word_sketch_lucene_spark.sources.conllu import (
        layer_tokens,
        parse_conllu_docs,
        to_conllu_text,
    )

    toks = explode_tokens(docs_small)
    conllu = to_conllu_text(rule_annotate(toks, sent_len=10))
    return layer_tokens(parse_conllu_docs(conllu), sent_len=10).cache()


def test_xpos_round_trips_conllu(conllu_layers):
    tags = {r["xpos"] for r in conllu_layers.select("xpos").distinct().collect()}
    assert {"NN", "VB", "JJ", "DT"} <= tags
    assert "_" not in tags  # xpos rendered, not placeholder-dropped


def test_word_sketch_patterns_copula(spark, conllu_layers):
    """noun_adj_predicates (1:[NN.*] [lemma=be|...] 2:[JJ.*]) finds
    adjective predicates of a noun head through the copula filler."""
    from word_sketch_lucene_spark.plans.relations import (
        EN_CATALOG,
        word_sketch_patterns,
    )

    lemma_stats = conllu_layers.groupBy(
        F.col("lemma").alias("term")).agg(F.count("*").alias("cf"))
    cat = GrammarCatalog.load(EN_CATALOG)
    sk = word_sketch_patterns(conllu_layers, lemma_stats, "table", cat,
                              head_pos="NOUN", limit_per_relation=10,
                              round_dp=4)
    rows = sk.collect()
    rels = {r["relation"] for r in rows}
    # all rows from NOUN-headed relations
    from word_sketch_lucene_spark.plans.relations import pattern_pos_group

    noun_headed = {r.id for r in cat.relations
                   if r.pattern and pattern_pos_group(r) == "NOUN"}
    assert rels <= noun_headed
    # dual verb_nouns (slop window) present; collocates are lemmas
    vn = [r for r in rows if r["relation"] == "verb_nouns"]
    assert vn and all(not r["colloc_term"].endswith("ss") for r in vn)


def test_word_sketch_patterns_layer_positions(spark):
    """Hand-built layer table: copula pattern matches across the filler,
    gap pattern []{0,3} spans variable distance, verb_nouns window is
    unordered."""
    rows = [
        # doc 1: "theory is valid" (NN VB JJ) -> noun_adj_predicates
        (1, 0, "theory", "theory", "NOUN", "NN", "dep"),
        (1, 1, "is", "be", "VERB", "VB", "cop"),
        (1, 2, "valid", "valid", "ADJ", "JJ", "amod"),
        # doc 2: head noun with a verb 3 positions later (verb_subjects gap)
        (2, 0, "theory", "theory", "NOUN", "NN", "dep"),
        (2, 1, "x", "x", "X", "XX", "dep"),
        (2, 2, "y", "y", "X", "XX", "dep"),
        (2, 3, "holds", "hold", "VERB", "VB", "dep"),
    ]
    spark_df = spark.createDataFrame(
        rows, "doc_id long, pos long, term string, lemma string, "
              "upos string, xpos string, deprel string")
    from word_sketch_lucene_spark.plans.cql import pattern_collocates

    lemma_stats = spark_df.groupBy(F.col("lemma").alias("term")) \
        .agg(F.count("*").alias("cf"))
    out = pattern_collocates(
        spark_df, lemma_stats,
        '1:[xpos="NN.*"] [lemma="be|appear|seem"] 2:[xpos="JJ.*"]',
        "theory", subst_attr="lemma", colloc_attr="lemma").collect()
    assert [r["colloc_term"] for r in out] == ["valid"]
    out2 = pattern_collocates(
        spark_df, lemma_stats,
        '2:[xpos="NN.*"] []{0,3} 1:[xpos="VB.*"]',
        "hold", head_label="1", colloc_label="2",
        subst_attr="lemma", colloc_attr="lemma").collect()
    assert [r["colloc_term"] for r in out2] == ["theory"]


def test_index_pattern_concordance(spark, docs_small, tmp_path):
    """Index-side BCQL → KWIC: spans + per-span keyword width + context
    from the index's own docstore (no corpus access)."""
    from word_sketch_lucene_spark.index.build import build_index
    from word_sketch_lucene_spark.query.concordance import (
        index_pattern_concordance,
    )
    from word_sketch_lucene_spark.query.engine import IndexSearcher

    root = tmp_path / "kwic_idx"
    build_index(spark, docs_small, root, doc_salt=2, n_partitions=4)
    s = IndexSearcher(spark, root)
    pattern = '[word="spark"] []{0,1} [word="join"]'
    page = index_pattern_concordance(s, pattern, page_size=5,
                                     context=2).collect()
    assert 0 < len(page) <= 5
    spans = dict()
    for d, a, b in s.pattern_hits(pattern):
        spans.setdefault((d, a), b)
    for r in page:
        kw_toks = r["kw"].split()
        assert kw_toks[0] == "spark" and kw_toks[-1] == "join"
        end = spans[(r["doc_id"], r["pos"])]
        assert len(kw_toks) == end - r["pos"] + 1  # span-wide keyword
        assert len(r["left"].split()) <= 2 and len(r["right"].split()) <= 2
    # ranks are the global (doc, pos) order, 1-based
    assert [r["rank"] for r in page] == list(range(1, len(page) + 1))


def test_catalog_loads_from_py_files_zip(tmp_path):
    """spark-submit deployment: the catalog must load when the package
    lives inside the --py-files zip (grammars/ shipped by package.py)."""
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    subprocess.run([sys.executable, str(repo / "scripts" / "package.py")],
                   check=True, capture_output=True)
    zip_path = repo / "dist" / "word_sketch_lucene_spark.zip"
    for name in ("relations.json", "relations_en.json"):
        inside = Path(str(zip_path) + f"/grammars/{name}")
        assert not inside.exists()  # only reachable through the zip
        cat = GrammarCatalog.load(inside)
        assert len(cat.relations) >= 47


def test_kwic_distributed_route_is_a_plan(spark, docs_small, tmp_path,
                                          monkeypatch):
    """Plan gate (r4 verdict #2): a ROUTED-DISTRIBUTED pattern's KWIC
    page must never materialize the full span list on the driver — the
    page window pushes into the distributed plan (orderBy+limit →
    TakeOrderedAndProject) and only ≤ offset+page_size span rows cross.
    Monkeypatching the list-returning API to raise proves the page
    never calls it; result identity vs the in-driver route proves the
    plan computes the same page."""
    from word_sketch_lucene_spark.index.build import build_index
    from word_sketch_lucene_spark.query.concordance import (
        index_pattern_concordance,
    )
    from word_sketch_lucene_spark.query.engine import IndexSearcher

    root = tmp_path / "kwic_dist_idx"
    build_index(spark, docs_small, root, doc_salt=2, n_partitions=4)
    s = IndexSearcher(spark, root)
    pattern = '[word="spark"] []{0,1} [word="join"]'
    want = [tuple(r) for r in index_pattern_concordance(
        s, pattern, page_size=5, context=2).collect()]

    def boom(*a, **k):  # pragma: no cover - the gate
        raise AssertionError("KWIC collected the full span list")

    monkeypatch.setattr(s, "pattern_hits_auto", boom)
    monkeypatch.setattr(s, "pattern_hits", boom)
    page_df = index_pattern_concordance(s, pattern, page_size=5,
                                        context=2, df_budget=0)  # force
    # the span side of the plan is windowed BEFORE the docstore join:
    # a limit/TakeOrdered node sits in the executed plan
    plan = page_df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan or "GlobalLimit" in plan
    got = [tuple(r) for r in page_df.collect()]
    assert got == want and got


def test_dual_alternation_relation_folds(spark, tmp_path):
    """A dual one-slot relation whose slot is a cross-attr ``|``
    alternation folds into the window join like any dual relation:
    ``pair_freq`` per collocate equals the pairs counted by a loop
    (``1 ≤ |cp − hp| ≤ default_slop``, the collocate matching either
    branch)."""
    import random

    from word_sketch_lucene_spark.plans.relations import word_sketch_patterns

    vocab = [("cat", "NN"), ("dog", "NN"), ("red", "JJ"), ("big", "JJ"),
             ("run", "VB"), ("see", "VB"), ("the", "DT")]
    rng = random.Random(3)
    docs = {d: [rng.choice(vocab) for _ in range(rng.randint(5, 14))]
            for d in range(6)}
    toks = spark.createDataFrame(
        [(d, p, lemma, lemma, xpos) for d, ts in docs.items()
         for p, (lemma, xpos) in enumerate(ts)],
        "doc_id long, pos long, term string, lemma string, xpos string")
    stats = toks.groupBy(F.col("lemma").alias("term")) \
        .agg(F.count("*").alias("cf"))
    slop = 4
    path = tmp_path / "catalog.json"
    path.write_text(json.dumps([{
        "id": "near_adj_or_run", "name": "near_adj_or_run",
        "type": "SURFACE", "dual": True, "default_slop": slop,
        "pattern": '1:[xpos="JJ"|lemma="run"]'}]))
    cat = GrammarCatalog.load(path)
    want: dict[str, int] = {}
    for ts in docs.values():
        for hp, (lemma, _) in enumerate(ts):
            if lemma != "cat":
                continue
            for cp, (cl, cx) in enumerate(ts):
                if 1 <= abs(cp - hp) <= slop and (cx == "JJ" or cl == "run"):
                    want[cl] = want.get(cl, 0) + 1
    got = {r["colloc_term"]: r["pair_freq"] for r in word_sketch_patterns(
        toks, stats, "cat", cat, limit_per_relation=100,
        min_logdice=-1e9).collect()}
    assert got == want and set(want) == {"red", "big", "run"}
