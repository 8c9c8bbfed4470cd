"""The index-side position chain against a brute-force walk.

One small CoNLL-U index with explicit doc ids ``{0, 7, 2**31 + 5,
2**40}`` — ids past 2³¹ guard the chain's key encoding — and one doc
whose stored ``sent_no`` array is empty (a flat-stream doc:
``within_sentence`` leaves its matches alone). Seeded random patterns
mix literal and regex tests on word/lemma/xpos/deprel, cross-layer
``&``, negated tests, complement-only slots at the start, middle and
end, ``[]{0,k}`` gaps and ``within_sentence``. ``pattern_hits``,
``pattern_matches`` and ``phrase_hits`` must equal the walk, and the
spans must equal the distributed compile (``pattern_spans_df``) on
every doc, the flat-stream doc included.
"""

from __future__ import annotations

import random
import re
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from word_sketch_lucene_spark.plans.cql import GapItem, parse_cql
from word_sketch_lucene_spark.query import positions as kernel

DOC_IDS = (0, 7, 2**31 + 5, 2**40)
FLAT_DOC = 7  # its sent_no array is emptied after the build
# (word, lemma, xpos, upos)
WORDS = [("The", "the", "DT", "DET"), ("the", "the", "DT", "DET"),
         ("a", "a", "DT", "DET"), ("cat", "cat", "NN", "NOUN"),
         ("cats", "cat", "NNS", "NOUN"), ("dog", "dog", "NN", "NOUN"),
         ("dogs", "dog", "NNS", "NOUN"), ("runs", "run", "VBZ", "VERB"),
         ("ran", "run", "VBD", "VERB"), ("sees", "see", "VBZ", "VERB"),
         ("big", "big", "JJ", "ADJ"), ("red", "red", "JJ", "ADJ"),
         ("and", "and", "CC", "CCONJ"), ("of", "of", "IN", "ADP")]
DEPRELS = ["nsubj", "obj", "det", "amod", "cc", "nmod"]
LAYER = {"word": "term", "lemma": "lemma", "xpos": "xpos",
         "deprel": "deprel"}
POSITIVE = [("word", "cat"), ("word", "the"), ("word", "c.*"),
            ("lemma", "dog"), ("lemma", "(cat|dog)"), ("lemma", "run"),
            ("xpos", "NN.*"), ("xpos", "DT"), ("xpos", "VB[ZD]"),
            ("xpos", "JJ"), ("deprel", "(nsubj|obj)"), ("deprel", "det")]
NEGATED = [("word", "the"), ("xpos", "DT"), ("deprel", "det"),
           ("lemma", "(cat|dog)"), ("xpos", "NN.*")]


def _corpus() -> dict[int, list[dict]]:
    rng = random.Random(11)
    docs = {}
    for d in DOC_IDS:
        toks = []
        for sent in range(rng.randint(4, 7)):
            n = rng.randint(3, 7)
            for tid in range(1, n + 1):
                word, lemma, xpos, upos = rng.choice(WORDS)
                head = 0 if tid == 1 else rng.choice(
                    [h for h in range(1, n + 1) if h != tid])
                toks.append(dict(
                    sent=sent, token_id=tid, word=word, term=word.lower(),
                    lemma=lemma, xpos=xpos, upos=upos, head=head,
                    deprel="root" if head == 0 else rng.choice(DEPRELS)))
        docs[d] = toks
    return docs


CORPUS = _corpus()


@pytest.fixture(scope="module")
def searcher(spark, tmp_path_factory):
    from word_sketch_lucene_spark.index.build import build_conllu_index
    from word_sketch_lucene_spark.query.engine import IndexSearcher

    rows = [(d, t["sent"], t["token_id"], t["word"], t["lemma"], t["upos"],
             t["xpos"], t["head"], t["deprel"], "_", "_")
            for d, toks in CORPUS.items() for t in toks]
    parsed = spark.createDataFrame(
        rows, "doc_id long, sent_id long, token_id int, word string, "
        "lemma string, upos string, xpos string, head int, "
        "deprel string, feats string, misc string")
    root = tmp_path_factory.mktemp("kernel_idx")
    build_conllu_index(spark, parsed, root, n_partitions=2,
                       layers=("lemma", "upos", "xpos", "deprel"))
    # FLAT_DOC keeps its tokens but loses its sentence array
    fw_path, tmp = root / "forward_layers", root / "forward_tmp"
    fw = spark.read.parquet(str(fw_path))
    empty = F.array().cast(fw.schema["sent_no"].dataType)
    (fw.withColumn("sent_no", F.when(F.col("doc_id") == FLAT_DOC, empty)
                   .otherwise(F.col("sent_no")))
     .write.parquet(str(tmp)))
    shutil.rmtree(fw_path)
    tmp.rename(fw_path)
    return IndexSearcher(spark, root)


def _walk(pattern: str, within: bool) -> set[tuple[int, tuple]]:
    """Every full assignment of positions to the token constraints,
    tried from every start position of every doc."""
    items = parse_cql(pattern)
    out = set()

    def ok(item, tok):
        return all((re.fullmatch(t.value, tok[LAYER[t.attr]]) is None)
                   == t.negated for t in item.tests)

    for d, toks in CORPUS.items():
        def walk(i, pos, assign):
            if i == len(items):
                out.add((d, tuple(assign)))
                return
            it = items[i]
            if isinstance(it, GapItem):
                for g in range(it.min, it.max + 1):
                    walk(i + 1, pos + g, assign)
            elif pos < len(toks) and ok(it, toks[pos]):
                walk(i + 1, pos + 1, assign + [pos])

        for start in range(len(toks)):
            walk(0, start, [])
    if within:
        out = {(d, a) for d, a in out if d == FLAT_DOC
               or CORPUS[d][a[0]]["sent"] == CORPUS[d][a[-1]]["sent"]}
    return out


def _slot(rng: random.Random, kind: str) -> str:
    if kind == "comp":
        tests = [f'{a}!="{v}"' for a, v in rng.sample(NEGATED,
                                                      rng.randint(1, 2))]
    else:
        a, v = rng.choice(POSITIVE)
        tests = [f'{a}="{v}"']
        if kind == "and":
            a2, v2 = rng.choice([p for p in POSITIVE if p[0] != a])
            tests.append(f'{a2}="{v2}"')
        elif kind == "neg":
            a2, v2 = rng.choice(NEGATED)
            tests.append(f'{a2}!="{v2}"')
    return "[" + " & ".join(tests) + "]"


def _patterns(n: int) -> list[tuple[str, bool]]:
    rng = random.Random(2024)
    fixed = [('[xpos!="DT"] [lemma="cat"]', False),
             ('[lemma="(cat|dog)"] [xpos!="DT"] [xpos="VB.*"]', True),
             ('[xpos="DT"] []{0,2} [deprel!="det" & xpos!="JJ"]', False),
             ('[xpos="JJ"] []{0,3} [xpos="NN.*"]', True)]
    out = list(fixed)
    while len(out) < n:
        k = rng.randint(1, 3)
        anchor = rng.randrange(k)
        parts = []
        for i in range(k):
            if i:
                parts.append(rng.choice(
                    ["", "", "[]", f"[]{{0,{rng.randint(1, 3)}}}",
                     "[]{1,2}"]))
            kind = ("pos" if i == anchor else
                    rng.choice(["pos", "and", "neg", "comp", "comp"]))
            parts.append(_slot(rng, kind))
        out.append((" ".join(p for p in parts if p), rng.random() < 0.3))
    return out


PATTERNS = _patterns(200)


def test_pattern_chain_equals_brute_force_walk(searcher):
    seen_docs, nonempty = set(), 0
    for pattern, within in PATTERNS:
        want = _walk(pattern, within)
        got = searcher.pattern_matches(pattern, within_sentence=within)
        assert got == sorted(want), pattern
        spans = sorted({(d, a[0], a[-1]) for d, a in want})
        assert searcher.pattern_hits(pattern, within_sentence=within) \
            == spans, pattern
        seen_docs |= {d for d, _ in want}
        nonempty += bool(want)
    assert seen_docs == set(DOC_IDS)
    assert nonempty >= len(PATTERNS) // 2


def test_pattern_chain_equals_distributed_compile(searcher):
    for pattern, within in PATTERNS:
        got = searcher.pattern_hits(pattern, within_sentence=within)
        want = sorted(tuple(r) for r in searcher.pattern_spans_df(
            pattern, df_budget=-1, within_sentence=within).collect())
        assert got == want, pattern


def test_phrase_hits_equal_brute_force(searcher):
    rng = random.Random(5)
    phrases = [["cat"], ["the", "cat"], ["the", "zebra"],
               ["big", "red", "dog"]]
    for _ in range(40):
        d = rng.choice(DOC_IDS)
        start = rng.randrange(len(CORPUS[d]) - 3)
        phrases.append([t["term"] for t in
                        CORPUS[d][start:start + rng.randint(1, 3)]])
    for terms in phrases:
        want = []
        for d, toks in CORPUS.items():
            starts = [p for p in range(len(toks) - len(terms) + 1)
                      if [t["term"] for t in toks[p:p + len(terms)]]
                      == terms]
            if starts:
                want.append((d, starts))
        assert searcher.phrase_hits(terms) == want, terms


def test_keys_never_cross_docs_at_large_ids():
    """Adjacent int64 doc ids far past 2³¹: a wide window from the
    last position of one doc must not reach the next doc's first."""
    big = 2**62
    a = (np.array([big, big, big + 1, big + 1]), np.array([0, 5, 0, 1]))
    b = (np.array([big + 1, big + 1]), np.array([0, 6]))
    docs = kernel.doc_set(a[0])
    mat = kernel.chain(docs, [(a, None), (b, None)], [(0, 0), (1, 10)])
    got = kernel.unkey(docs, mat)
    assert got[0].tolist() == [[big + 1, big + 1]] * 2
    assert got[1].tolist() == [[0, 6], [1, 6]]
    u = kernel.union([a, b])
    assert list(zip(*(x.tolist() for x in u))) == [
        (big, 0), (big, 5), (big + 1, 0), (big + 1, 1), (big + 1, 6)]
    c = kernel.combine([a], [b])
    assert list(zip(*(x.tolist() for x in c))) == [
        (big, 0), (big, 5), (big + 1, 1)]


SKETCH_RELATIONS = [
    {"id": "noun_verb", "name": "noun_verb", "type": "SURFACE",
     "pattern": '1:[xpos="NN.*"] []{0,3} 2:[xpos="VB.*"]'},
    {"id": "adj_adj_noun", "name": "adj_adj_noun", "type": "SURFACE",
     "pattern": '2:[xpos="JJ"] [xpos="JJ"] 1:[xpos="NN.*"]'},
    # a quantified unlabeled filler: the labeled slots shift per variant
    {"id": "adj_opt_adj_noun", "name": "adj_opt_adj_noun",
     "type": "SURFACE",
     "pattern": '2:[xpos="JJ"] [xpos="JJ"]{0,1} 1:[xpos="NN.*"]'},
    # trinary: the 3: slot's lemma names the sub-relation (`via/<3>`)
    {"id": "via", "name": "via", "type": "SURFACE",
     "pattern": '1:[xpos="NN.*"] 3:[xpos="(DT|VB.*|IN|CC|JJ)"] '
                '2:[xpos="NN.*"]'},
]


@pytest.mark.parametrize("within", [False, True])
def test_sketch_tiers_agree_on_flat_stream_doc(searcher, tmp_path, within):
    """The in-driver sketch (``index_word_sketch``, live fan-out) and
    the DataFrame fold (``index_word_sketch_distributed``) give the same
    rows with and without ``within_sentence``: in both tiers the doc
    without a stored ``sent_no`` array is one flat stream and keeps its
    pairs."""
    import json

    from word_sketch_lucene_spark.plans.relations import GrammarCatalog
    from word_sketch_lucene_spark.query.sketch import (
        index_word_sketch,
        index_word_sketch_distributed,
    )

    path = tmp_path / "catalog.json"
    path.write_text(json.dumps(SKETCH_RELATIONS))
    cat = GrammarCatalog.load(path)
    kw = dict(head_pos="NOUN", limit_per_relation=50, round_dp=4,
              within_sentence=within)
    for head in ("cat", "dog"):
        want = sorted(index_word_sketch(searcher, head, cat,
                                        use_store=False, **kw))
        got = sorted(tuple(r) for r in index_word_sketch_distributed(
            searcher, head, cat, **kw).collect())
        assert got == want and got, (head, within)


def test_store_built_within_sentence_serves_distributed_rows(
        searcher, tmp_path):
    """A collocation store built with and without ``within_sentence``
    serves the rows of the distributed fan-out under the same bound —
    the flat-stream doc keeps its pairs in the store build too."""
    import json
    from pathlib import Path

    from word_sketch_lucene_spark.index.colloc_store import (
        STORE_DIR,
        build_collocation_store,
        serve_sketch_cached,
    )
    from word_sketch_lucene_spark.plans.relations import GrammarCatalog
    from word_sketch_lucene_spark.query.sketch import (
        index_word_sketch_distributed,
    )

    path = tmp_path / "catalog.json"
    path.write_text(json.dumps(SKETCH_RELATIONS))
    cat = GrammarCatalog.load(path)
    kw = dict(head_pos="NOUN", limit_per_relation=50, round_dp=4)
    try:
        for within in (False, True):
            build_collocation_store(searcher, cat, within_sentence=within)
            for head in ("cat", "dog"):
                got = sorted(serve_sketch_cached(searcher, head, cat, **kw))
                want = sorted(tuple(r) for r in index_word_sketch_distributed(
                    searcher, head, cat, within_sentence=within,
                    **kw).collect())
                assert got == want and got, (head, within)
    finally:
        shutil.rmtree(Path(searcher.root) / STORE_DIR, ignore_errors=True)


def _jobs_run(spark, name: str, fn) -> tuple[object, int]:
    """``fn()``'s result and the number of Spark jobs it ran."""
    import time

    sc = spark.sparkContext
    group = f"{name}-{id(fn)}"
    sc.setJobGroup(group, name)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    time.sleep(1.0)  # let the listener bus register the jobs
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _cold(spark, searcher):
    """A fresh searcher on the same root with every dataset handle
    open: a handle's schema read is not part of a query."""
    from word_sketch_lucene_spark.query.engine import IndexSearcher

    s = IndexSearcher(spark, searcher.root)
    for name in ("segments", "term_stats", "layers", "layer_stats",
                 "forward_layers", "doc_lens", "docstore", "doc_meta"):
        s._dataset(name, required=False)
    return s


def test_cold_literal_pricing_runs_one_spark_job(spark, searcher):
    """The literals of a pattern price in one cf lookup, whichever
    dictionaries (term_stats, layer_stats) they span."""
    s = _cold(spark, searcher)
    (cost, capped), jobs = _jobs_run(spark, "cold-price", lambda: (
        s.pattern_cost('[word="cat"] [xpos="NN"]')))
    assert cost > 0 and not capped
    assert jobs == 1


def test_cold_under_budget_pattern_reuses_its_pricing(spark, searcher):
    """An under-budget pattern's regex tests price from their
    expansions, which the span chain then reuses: one job per
    expansion and one per postings fetch, no pricing job of its own."""
    s = _cold(spark, searcher)
    pattern = '[word="c.*"] [xpos="NN.*"]'
    df, jobs = _jobs_run(spark, "cold-spans",
                         lambda: s.pattern_spans_df(pattern))
    spans = sorted(tuple(r) for r in df.collect())
    assert spans and spans == searcher.pattern_hits(pattern)
    assert jobs <= 4
