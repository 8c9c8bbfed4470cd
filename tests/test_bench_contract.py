"""What the benchmark's traced runs read from the library.

``perfbench/spans.py`` wraps ``IndexSearcher`` methods by name and
derives ``query.engine.prefetch_calls`` / ``block_rows_fetched`` from
the ``prefetch`` span and the searcher's ``_block_cache`` view, and the
sketch workload's ``query.engine.pattern_matches_ms`` /
``pattern_hits_ms`` / ``phrase_ms`` from the spans of the methods of the
same names. The ``index.build.*_s`` stage times come from the stage
manifests' ``committed_at``, which stay after the tokens stage's files
are released. A refactor that renames, moves or bypasses any of these
would silently zero those metrics; these tests pin them on tiny
indexes.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "perfbench"))


def test_tracer_wraps_searcher_and_reports_prefetch(spark, index_small):
    import spans

    from word_sketch_lucene_spark.query.engine import IndexSearcher

    originals = {m: IndexSearcher.__dict__[m]
                 for m in spans.SEARCHER_METHODS}
    tracer = spans.Tracer()
    tracer.install()
    try:
        wrapped = {m for m in spans.SEARCHER_METHODS
                   if IndexSearcher.__dict__[m] is not originals[m]}
        hits, _ = IndexSearcher(spark, index_small).search(
            ["spark", "join"], k=5)
    finally:
        tracer.uninstall()
    assert wrapped == set(spans.SEARCHER_METHODS)
    assert hits
    infos = [s[4] for s in tracer.of("prefetch")]
    assert infos and infos[0]["fetched_terms"] > 0 and infos[0]["rows"] > 0
    assert all(IndexSearcher.__dict__[m] is originals[m]
               for m in spans.SEARCHER_METHODS)


def test_tracer_attributes_sketch_cql_and_phrase_spans(spark, conllu_index):
    """A live word sketch runs its relations through ``pattern_matches``,
    a CQL query through ``pattern_hits`` and a phrase through
    ``phrase_hits`` — the spans the sketch and ingest workloads time."""
    import spans

    from word_sketch_lucene_spark.plans.relations import (
        EN_CATALOG,
        GrammarCatalog,
    )
    from word_sketch_lucene_spark.query import sketch as sk
    from word_sketch_lucene_spark.query.engine import IndexSearcher

    s = IndexSearcher(spark, conllu_index[0])
    cat = GrammarCatalog.load(EN_CATALOG)
    tracer = spans.Tracer()
    tracer.install()
    try:
        # through the module: install() rebinds module attributes
        sketch = sk.index_word_sketch(s, "table", cat, head_pos="NOUN",
                                      use_store=False)
        hits = s.pattern_hits('[xpos="JJ.*"] [lemma="table"]')
        phrase = s.phrase_hits("the table")
    finally:
        tracer.uninstall()
    assert sketch and hits and phrase
    for name in ("index_word_sketch", "pattern_matches", "pattern_hits",
                 "phrase_hits"):
        assert tracer.of(name), name


def test_build_stage_times_survive_token_release(spark, docs_small,
                                                 tmp_path):
    """A traced build_index still yields every stage time from the
    manifests, and ``index.build.tokens_bytes`` measures what stays on
    disk: the tokens stage's manifest only."""
    import spans

    from word_sketch_lucene_spark.index import build

    root = tmp_path / "idx"
    tracer = spans.Tracer()
    tracer.install()
    try:
        build.build_index(spark, docs_small.filter("doc_id < 60"), root,
                          doc_salt=1, n_partitions=2)
    finally:
        tracer.uninstall()
    m = spans.layer_metrics(tracer, None, 0)
    for stage in ("tokens", "segments", "doc_lens", "docstore"):
        assert m[f"index.build.{stage}_s"] > 0, stage
    assert m["index.build.tokens_bytes"] \
        == (root / "tokens" / "_manifest.json").stat().st_size
