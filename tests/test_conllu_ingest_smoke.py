"""End-to-end CoNLL-U ingestion smoke (S1→V1) on a realistic corpus:
VARIABLE sentence lengths (3–18 tokens), comments, MWT/empty-node
lines — the reference's ``test-data`` fixture shape
(``sample-10k.conllu``) synthesized deterministically. Exercises the
WINDOWED position path (no ``sent_len`` arithmetic anywhere) through
file scan → multi-layer index build → index-served sketch → sentence-
bounded spans.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

NOUNS = ["table", "row", "column", "index", "query", "engine", "corpus",
         "token", "lemma", "sketch"]
VERBS = ["scan", "merge", "join", "sort", "build", "serve"]
ADJS = ["fast", "slow", "big", "small", "sparse"]
DETS = ["the", "a"]


def _lemma(w: str) -> str:
    return w[:-1] if len(w) > 4 and w.endswith("s") else w


def _sentence(rng: random.Random) -> list[str]:
    """One CoNLL-U sentence with a det-adj-noun-verb-ish structure and
    consistent head links; length varies 3–18 tokens."""
    words: list[tuple[str, str, str]] = []  # (word, upos, xpos)
    n_chunks = rng.randint(1, 4)
    for _ in range(n_chunks):
        if rng.random() < 0.7:
            words.append((rng.choice(DETS), "DET", "DT"))
        if rng.random() < 0.5:
            words.append((rng.choice(ADJS), "ADJ", "JJ"))
        noun = rng.choice(NOUNS) + ("s" if rng.random() < 0.3 else "")
        words.append((noun, "NOUN", "NNS" if noun.endswith("s") else "NN"))
        words.append((rng.choice(VERBS), "VERB", "VB"))
    lines = []
    next_noun = [0] * len(words)
    last = 0
    for i in range(len(words) - 1, -1, -1):
        if words[i][1] == "NOUN":
            last = i + 1
        next_noun[i] = last
    for i, (w, upos, xpos) in enumerate(words, start=1):
        if upos in ("DET", "ADJ") and next_noun[i - 1] > i:
            head, rel = next_noun[i - 1], "det" if upos == "DET" else "amod"
        elif upos == "NOUN" and i < len(words) and words[i][1] == "VERB":
            head, rel = i + 1, "nsubj"
        elif upos == "VERB":
            head, rel = 0, "root"
        else:
            head, rel = max(i - 1, 0), "dep"
        feats = {"NNS": "Number=Plur", "NN": "Number=Sing"}.get(xpos, "_")
        line = f"{i}\t{w}\t{_lemma(w)}\t{upos}\t{xpos}\t{feats}\t{head}\t{rel}"
        if feats == "Number=Plur":  # 10-column row: DEPS placeholder + MISC
            line += "\t_\tSpaceAfter=No"
        lines.append(line)
    return lines


@pytest.fixture(scope="module")
def real_corpus_index(spark, tmp_path_factory):
    rng = random.Random(20260817)
    corpus = tmp_path_factory.mktemp("real_corpus")
    for d in range(30):
        chunks = [f"# newdoc id = doc{d}"]
        for s in range(rng.randint(4, 10)):
            chunks.append(f"# sent_id = {d}-{s}")
            chunks.extend(_sentence(rng))
            if rng.random() < 0.1:  # MWT + empty-node noise lines
                chunks.append("3-4\tdel\t_\t_\t_\t_\t_\t_")
                chunks.append("3.1\tnull\tnull\tX\tXX\t_\t_\t_")
            chunks.append("")
        (corpus / f"doc{d:03d}.conllu").write_text("\n".join(chunks) + "\n")
    from word_sketch_lucene_spark.index.build import build_conllu_index
    from word_sketch_lucene_spark.sources.conllu import read_conllu

    parsed = read_conllu(spark, str(corpus)).localCheckpoint()
    root = tmp_path_factory.mktemp("real_idx")
    stats = build_conllu_index(spark, parsed, root, doc_salt=2,
                               n_partitions=4)
    return root, parsed, stats


def test_ingest_end_to_end_windowed(spark, real_corpus_index):
    """Build over variable-length sentences: stats sane, BM25 serves,
    index-served sketch row-equals the DataFrame fan-out over the
    WINDOWED layer table, spans never cross sentences when bounded."""
    from word_sketch_lucene_spark.plans.relations import (
        EN_CATALOG,
        GrammarCatalog,
    )
    from word_sketch_lucene_spark.query.engine import IndexSearcher
    from word_sketch_lucene_spark.query.sketch import index_word_sketch
    from word_sketch_lucene_spark.plans.relations import word_sketch_patterns
    from word_sketch_lucene_spark.sources.conllu import layer_tokens

    root, parsed, stats = real_corpus_index
    assert stats["n_docs"] == 30 and stats["total_tokens"] > 1000
    s = IndexSearcher(spark, root)
    hits, _ = s.search(["table"], k=5)
    assert hits and all(score > 0 for _, score in hits)

    cat = GrammarCatalog.load(EN_CATALOG)
    lt = layer_tokens(parsed)  # WINDOWED positions — no sent_len
    lemma_stats = lt.groupBy(F.col("lemma").alias("term")) \
        .agg(F.count("*").alias("cf"))
    want = sorted((r["relation"], r["colloc_term"], r["pair_freq"],
                   r["logdice"], r["rel_freq"])
                  for r in word_sketch_patterns(
                      lt, lemma_stats, "table", cat, head_pos="NOUN",
                      limit_per_relation=10, round_dp=4).collect())
    got = sorted(index_word_sketch(s, "table", cat, head_pos="NOUN",
                                   limit_per_relation=10, round_dp=4))
    assert got == want and got

    # sentence-bounded spans on REAL variable-length sentences
    pat = '[xpos="NN.*"] []{0,3} [xpos="VB.*"]'
    flat = set(s.pattern_hits(pat))
    bounded = set(s.pattern_hits(pat, within_sentence=True))
    assert bounded < flat and bounded

    # MWT/empty-node lines were skipped: every stored token is a real one
    n_tokens = lt.count()
    assert n_tokens == stats["total_tokens"]
    assert lt.filter(F.col("term").isin("del", "null")).count() == 0

    # FEATS layer (CoNLL-U col 6) is parsed, indexed as a searchable
    # annotation (reference conllu-sentences.blf.yaml:33), and served
    # index-side identically to the DataFrame compiler
    from word_sketch_lucene_spark.plans.cql import compile_cql

    assert set(s.expand_terms(".*", layer="feats")) == \
        {"Number=Plur", "Number=Sing"}
    feat_pat = '[feats="Number=Plur"] []{0,2} [xpos="VB.*"]'
    idx_spans = set(s.pattern_hits(feat_pat))
    name2id = {r["doc_name"]: r["doc_id"] for r in
               lt.sparkSession.read.parquet(str(root / "doc_names"))
               .collect()}
    df_spans = {(name2id[r["doc_id"]], r["start"], r["end"]) for r in
                compile_cql(lt, feat_pat).collect()}
    assert idx_spans == df_spans and idx_spans
    # MISC (col 10) survives the parse too
    assert parsed.filter(F.col("misc") == "SpaceAfter=No").count() > 0


def test_sentence_bounded_sketch_identical_across_paths(spark,
                                                        real_corpus_index):
    """within_sentence=True threads through the whole sketch fan-out:
    index span-chain == distributed plan == DataFrame plan, and the
    bounded sketch differs from the flat one on this variable-sentence
    corpus (some relation windows span a boundary)."""
    from word_sketch_lucene_spark.plans.relations import (
        EN_CATALOG,
        GrammarCatalog,
        word_sketch_patterns,
    )
    from word_sketch_lucene_spark.query.engine import IndexSearcher
    from word_sketch_lucene_spark.query.sketch import (
        index_word_sketch,
        index_word_sketch_distributed,
    )
    from word_sketch_lucene_spark.sources.conllu import layer_tokens

    root, parsed, _ = real_corpus_index
    s = IndexSearcher(spark, root)
    cat = GrammarCatalog.load(EN_CATALOG)
    kw = dict(head_pos="NOUN", limit_per_relation=10, round_dp=4)
    bounded = sorted(index_word_sketch(s, "table", cat,
                                       within_sentence=True, **kw))
    flat = sorted(index_word_sketch(s, "table", cat, **kw))
    assert bounded != flat and bounded
    lt = layer_tokens(parsed)
    lemma_stats = lt.groupBy(F.col("lemma").alias("term")) \
        .agg(F.count("*").alias("cf"))
    df_bounded = sorted(
        (r["relation"], r["colloc_term"], r["pair_freq"], r["logdice"],
         r["rel_freq"])
        for r in word_sketch_patterns(lt, lemma_stats, "table", cat,
                                      within_sentence=True,
                                      **kw).collect())
    assert bounded == df_bounded
    dist_bounded = sorted(
        (r["relation"], r["colloc_term"], r["pair_freq"], r["logdice"],
         r["rel_freq"])
        for r in index_word_sketch_distributed(
            s, "table", cat, within_sentence=True, **kw).collect())
    assert bounded == dist_bounded


def test_ingest_relation_query_real_corpus(spark, real_corpus_index):
    """`-nsubj->` relation query against the real-shaped corpus: both
    paths agree on governor→dependent collocates."""
    from word_sketch_lucene_spark.operators.dependency import (
        relation_query_collocates,
    )
    from word_sketch_lucene_spark.query.engine import IndexSearcher
    from word_sketch_lucene_spark.query.sketch import (
        index_relation_collocates,
    )

    root, parsed, _ = real_corpus_index
    stats = parsed.groupBy(F.lower("lemma").alias("term")) \
        .agg(F.count("*").alias("cf"))
    want = [(r["dep_term"], r["pair_freq"], r["logdice"]) for r in
            relation_query_collocates(
                parsed, stats, '[lemma="scan"] -nsubj-> _',
                limit=20, round_dp=4).collect()]
    got = IndexSearcher(spark, root)
    got = index_relation_collocates(
        got, '[lemma="scan"] -nsubj-> _', limit=20, round_dp=4)
    assert got == want and got
