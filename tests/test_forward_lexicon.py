"""The CoNLL-U forward index as a lexicon of annotation tuples plus one
``type_id`` array per doc: lossless round trip (null annotations
included), merge ≡ rebuild, and path-independent stage lineage."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from word_sketch_lucene_spark.index.build import (
    LEXICON_COLUMNS,
    build_conllu_index,
    build_index,
)
from word_sketch_lucene_spark.index.merge import add_conllu_documents
from word_sketch_lucene_spark.query.engine import IndexSearcher

SCHEMA = ("doc_id {}, sent_id long, token_id int, word string, "
          "lemma string, upos string, xpos string, head int, "
          "deprel string, feats string, misc string")

# (doc, sent, token_id, word, lemma, upos, xpos, head, deprel, feats):
# null feats and xpos, forms whose lemma differs only in case,
# non-ASCII forms and the CoNLL-U "_" (no annotation) value
ROUND_TRIP = [
    (7, 0, 1, "The", "the", "DET", "DT", 2, "det", None),
    (7, 0, 2, "Éclair", "éclair", "NOUN", None, 3, "nsubj", "Number=Sing"),
    (7, 0, 3, "melts", "melt", "VERB", "VBZ", 0, "root", None),
    (7, 0, 4, "_", "_", "PUNCT", "_", 3, "punct", "_"),
    (7, 1, 1, "the", "the", "DET", "DT", 2, "det", "_"),
    (7, 1, 2, "Straße", "Straße", "PROPN", None, 0, "root", None),
    (9, 0, 1, "THE", "The", "DET", "DT", 2, "det", None),
    (9, 0, 2, "日本", "日本", "PROPN", "NNP", 0, "root", "_"),
    (9, 0, 3, "naïve", "naïve", "ADJ", None, 2, "amod", None),
]


def _want(rows) -> dict:
    """doc → layer → the input's array, in position order."""
    out: dict = {}
    for d, sent, tid, word, lemma, upos, xpos, head, deprel, feats in \
            sorted(rows):
        arrays = out.setdefault(d, {})
        for layer, v in (("word_cs", word), ("lemma_cs", lemma),
                         ("term", word.lower()), ("lemma", lemma.lower()),
                         ("upos", upos), ("xpos", xpos), ("deprel", deprel),
                         ("feats", feats), ("sent_no", sent),
                         ("token_id", tid), ("head", head)):
            arrays.setdefault(layer, []).append(v)
    return out


def test_forward_round_trip_is_lossless(spark, tmp_path):
    """Every stored layer reads back as the input's per-doc arrays,
    through the Spark read (``forward_arrays``) and the driver read
    (``forward_layer``) alike — tokens with a null annotation included,
    which a plain ``==`` join to the lexicon would drop."""
    parsed = spark.createDataFrame([(*r, "_") for r in ROUND_TRIP],
                                   SCHEMA.format("long"))
    root = tmp_path / "rt"
    build_conllu_index(spark, parsed, root, doc_salt=1, n_partitions=2)
    want = _want(ROUND_TRIP)
    s = IndexSearcher(spark, root)
    rows = s.forward_arrays().collect()
    layers = list(next(iter(want.values())))
    assert set(rows[0].asDict()) == {"doc_id", *layers}
    assert {r["doc_id"]: {c: r[c] for c in layers} for r in rows} == want
    ids = sorted(want)
    for layer in layers:
        assert s.forward_layer(ids, layer) == {
            d: want[d][layer] for d in ids}, layer
    # the lexicon holds each distinct annotation tuple once, densely
    lex = [r.asDict() for r in
           spark.read.parquet(str(root / "lexicon")).collect()]
    cols = [c for c in LEXICON_COLUMNS if c in lex[0]]
    assert sorted(r["type_id"] for r in lex) == list(range(len(lex)))
    assert len(lex) == len({tuple(r[c] for c in cols) for r in lex}) == \
        len({r[3:7] + r[8:] for r in ROUND_TRIP})


def _named(spark, root) -> dict:
    return {r["doc_id"]: r["doc_name"] for r in
            spark.read.parquet(str(root / "doc_names")).collect()}


def _lexicon(spark, root) -> dict:
    """type_id → annotation tuple."""
    rows = spark.read.parquet(str(root / "lexicon")).collect()
    cols = [c for c in LEXICON_COLUMNS if c in rows[0].asDict()]
    return {r["type_id"]: tuple(r[c] for c in cols) for r in rows}


def test_merge_equals_rebuild_on_lexicon(spark, conllu_index, tmp_path):
    """add_conllu_documents with a delta that shares annotation tuples
    with the base and brings unseen ones serves what a one-shot build
    of base + delta serves: every forward layer by value, a word sketch
    and pattern hits. The merged lexicon keeps the base's ids, appends
    the unseen tuples and holds no tuple twice."""
    from word_sketch_lucene_spark.plans.relations import (
        EN_CATALOG,
        GrammarCatalog,
    )
    from word_sketch_lucene_spark.query.sketch import index_word_sketch

    _, parsed, _ = conllu_index
    names = sorted(r["doc_id"] for r in
                   parsed.select("doc_id").distinct().collect())
    novel = spark.createDataFrame([
        ("zz_novel", 0, 1, "Quokka", "quokka", "NOUN", "NN", 2, "nsubj",
         None, "_"),
        ("zz_novel", 0, 2, "Bites", "bite", "VERB", None, 0, "root",
         "_", "_"),
        ("zz_novel", 0, 3, "the", "the", "DET", "DT", 4, "det", "_", "_"),
        ("zz_novel", 0, 4, "table", "table", "NOUN", "NN", 2, "obj",
         "_", "_")], SCHEMA.format("string"))
    in_base = F.col("doc_id").isin(names[::2])
    kw = dict(doc_salt=1, n_partitions=2)
    base = tmp_path / "base"
    build_conllu_index(spark, parsed.filter(in_base), base, **kw)
    merged = add_conllu_documents(
        spark, base, parsed.filter(~in_base).unionByName(novel),
        tmp_path / "staging", **kw)
    full = tmp_path / "full"
    build_conllu_index(spark, parsed.unionByName(novel), full, **kw)

    base_lex, delta_lex, merged_lex = (
        _lexicon(spark, r) for r in (base, tmp_path / "staging" / "delta",
                                     merged))
    assert set(base_lex.values()) & set(delta_lex.values())
    assert set(delta_lex.values()) - set(base_lex.values())
    assert {i: merged_lex[i] for i in base_lex} == base_lex
    assert sorted(merged_lex) == list(range(len(merged_lex)))
    assert len(set(merged_lex.values())) == len(merged_lex)
    assert set(merged_lex.values()) == set(_lexicon(spark, full).values())

    m, f = IndexSearcher(spark, merged), IndexSearcher(spark, full)

    def arrays(s, root):
        rows = s.forward_arrays().collect()
        name = _named(spark, root)
        return {name[r["doc_id"]]: r.asDict() | {"doc_id": None}
                for r in rows}

    got, want = arrays(m, merged), arrays(f, full)
    assert got == want and len(want) == len(names) + 1
    assert want["zz_novel"]["xpos"] == ["NN", None, "DT", "NN"]

    cat = GrammarCatalog.load(EN_CATALOG)
    sketch = [sorted(index_word_sketch(s, "table", cat, head_pos="NOUN",
                                       limit_per_relation=10, round_dp=4))
              for s in (m, f)]
    assert sketch[0] == sketch[1] and sketch[0]

    for pattern in ('[xpos="JJ.*"] [xpos="NN.*"]',
                    '1:[xpos="JJ.*"] 2:[xpos="NN.*"] & 1.deprel != 2.deprel',
                    '[lemma="quokka"] [word="(?-i)Bites"]'):
        hits = [{(_named(spark, r)[d], a, b) for d, a, b in
                 s.pattern_hits(pattern)} for s, r in ((m, merged),
                                                       (f, full))]
        assert hits[0] == hits[1] and hits[0], pattern


def test_term_stats_lineage_is_root_relative(spark, docs_small, tmp_path):
    """The ``term_stats`` manifest records its lineage relative to the
    root, so the same build under two paths of different length writes
    equal lineages and its bytes do not depend on where it lives."""
    pages = docs_small.filter("doc_id < 20").select("doc_id", "text")
    lineages = []
    for root in (tmp_path / "a", tmp_path / "a_root_whose_path_is_longer"):
        build_index(spark, pages, root, doc_salt=1, n_partitions=2)
        text = (root / "term_stats" / "_manifest.json").read_text()
        assert str(root) not in text
        lineages.append(json.loads(text)["lineage"])
    assert lineages[0] == lineages[1] == {"derived_from": "segments"}
