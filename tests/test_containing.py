"""BlackLab's span-filter operator ``<s/> [!]containing PATTERN``:
sentence spans holding (or not holding) a full match of the clause —
the dual of ``within <s/>``.

Reference behavior mirrored: the corpus indexes ``<s>`` spans
(``conllu-sentences.blf.yaml:16``) and BlackLab span queries compose
them with ``containing``/``!containing``
(``BlackLabQueryExecutor.java:117-144`` executes every such pattern
against the same index).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from word_sketch_lucene_spark.plans.cql import (
    compile_cql,
    sentence_spans_containing,
    strip_containing,
)

PATTERN = '[xpos="JJ.*"] []{0,1} [xpos="NN.*"]'


def _layer_tokens(parsed):
    from word_sketch_lucene_spark.sources.conllu import layer_tokens

    return layer_tokens(parsed, sent_len=10)


# ------------------------------------------------------------- parser
def test_strip_containing_forms():
    core, mode = strip_containing('<s/> containing [word="a"]')
    assert (core, mode) == ('[word="a"]', "containing")
    core, mode = strip_containing('<s/> !containing [word="a"]')
    assert (core, mode) == ('[word="a"]', "not_containing")
    # case-insensitive keyword, flexible tag spelling
    core, mode = strip_containing('< s > CONTAINING [word="a"]')
    assert mode == "containing"
    # no clause → untouched
    core, mode = strip_containing('[word="a"] within <s/>')
    assert mode is None and core == '[word="a"] within <s/>'


def test_capture_sent_requires_within(spark):
    toks = spark.createDataFrame(
        [(0, 0, "a", 0)], "doc_id long, pos long, term string, sent_no int")
    with pytest.raises(ValueError, match="within_sentence"):
        compile_cql(toks, '[word="a"]', capture_sent=True)


# ------------------------------------------------- semantics, tiny df
def test_containing_match_must_lie_within_one_sentence(spark):
    """A match crossing a sentence boundary is contained in NEITHER
    sentence; ``!containing`` then returns both."""
    rows = [(0, i, t, i // 2)
            for i, t in enumerate(["a", "b", "c", "d"])]  # 2 sentences
    toks = spark.createDataFrame(
        rows, "doc_id long, pos long, term string, sent_no int")
    crossing = '[word="b"] [word="c"]'  # only match spans pos 1-2
    assert sentence_spans_containing(toks, crossing).count() == 0
    neg = sentence_spans_containing(toks, crossing, negated=True) \
        .orderBy("sent_no").collect()
    assert [(r["sent_no"], r["start"], r["end"]) for r in neg] == \
        [(0, 0, 1), (1, 2, 3)]
    inside = '[word="a"] [word="b"]'
    pos = sentence_spans_containing(toks, inside).collect()
    assert [(r["sent_no"], r["start"], r["end"]) for r in pos] == [(0, 0, 1)]


# ----------------------------------------- corpus-level invariants
def test_containing_partitions_all_sentences(spark, conllu_index):
    _, parsed, _ = conllu_index
    lt = _layer_tokens(parsed).localCheckpoint()
    pat = f"<s/> containing {PATTERN}"
    pos = sentence_spans_containing(lt, pat)
    neg = sentence_spans_containing(lt, f"<s/> !containing {PATTERN}")
    n_sents = lt.select("doc_id", "sent_no").distinct().count()
    n_pos, n_neg = pos.count(), neg.count()
    assert n_pos > 0  # non-vacuous on this corpus
    assert n_pos + n_neg == n_sents
    assert pos.join(neg, ["doc_id", "sent_no"]).count() == 0
    # every containing sentence really holds a within-sentence match
    spans = compile_cql(lt, PATTERN, keep_terms=False,
                        within_sentence=True, capture_sent=True) \
        .select("doc_id", "sent_no").distinct()
    assert pos.select("doc_id", "sent_no").exceptAll(spans).count() == 0
    assert spans.exceptAll(pos.select("doc_id", "sent_no")).count() == 0


def test_containing_df_vs_index_identical(spark, conllu_index):
    """The index-served route (forward_layers posexplode) reproduces
    the DataFrame compiler sentence for sentence."""
    from word_sketch_lucene_spark.query.engine import IndexSearcher

    root, parsed, name2id = conllu_index
    lt = _layer_tokens(parsed)
    pat = f"<s/> containing {PATTERN}"
    df_rows = {(name2id[r["doc_id"]], r["sent_no"], r["start"], r["end"])
               for r in sentence_spans_containing(lt, pat).collect()}
    s = IndexSearcher(spark, root)
    idx_rows = {(r["doc_id"], r["sent_no"], r["start"], r["end"])
                for r in s.sentence_spans_containing(pat).collect()}
    assert df_rows == idx_rows and df_rows


def test_pattern_spans_df_routes_containing(spark, conllu_index):
    """The generic span surface accepts the containing form and returns
    the sentence extents in the standard (doc_id, start, end) shape."""
    from word_sketch_lucene_spark.query.engine import IndexSearcher

    root, _, _ = conllu_index
    s = IndexSearcher(spark, root)
    pat = f"<s/> containing {PATTERN}"
    via_generic = {(r["doc_id"], r["start"], r["end"])
                   for r in s.pattern_spans_df(pat).collect()}
    via_method = {(r["doc_id"], r["start"], r["end"])
                  for r in s.sentence_spans_containing(pat).collect()}
    assert via_generic == via_method and via_generic
    hits = s.pattern_hits_auto(pat)
    assert set(hits) == via_generic
