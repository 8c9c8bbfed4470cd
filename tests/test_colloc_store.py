"""Materialized collocation store (r5): build-time pair-count
materialization + store-served sketches, row-identical to the live
fan-out — the reference's ``collocations.bin`` serving model
(``/root/reference/CLAUDE.md:190-196``)."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from word_sketch_lucene_spark.plans.relations import (
    EN_CATALOG,
    GrammarCatalog,
)


@pytest.fixture(scope="module")
def store_index(spark, docs_small, tmp_path_factory):
    from word_sketch_lucene_spark.functions.tokenize import explode_tokens
    from word_sketch_lucene_spark.index.build import build_conllu_index
    from word_sketch_lucene_spark.index.colloc_store import (
        build_collocation_store,
    )
    from word_sketch_lucene_spark.operators.dependency import rule_annotate
    from word_sketch_lucene_spark.query.engine import IndexSearcher
    from word_sketch_lucene_spark.sources.conllu import (
        parse_conllu_docs,
        to_conllu_text,
    )

    parsed = parse_conllu_docs(to_conllu_text(
        rule_annotate(explode_tokens(docs_small), sent_len=10))) \
        .localCheckpoint()
    root = tmp_path_factory.mktemp("cstore_idx")
    build_conllu_index(spark, parsed, root, doc_salt=2, n_partitions=4)
    s = IndexSearcher(spark, root)
    cat = GrammarCatalog.load(EN_CATALOG)
    build_collocation_store(s, cat)
    return s, cat


def test_store_sketch_identical_to_live_fanout(spark, store_index):
    """sketch_from_store == index_word_sketch row for row (SURFACE,
    NOUN head; DEP, VERB head) — the store is the same aggregate
    materialized early."""
    from word_sketch_lucene_spark.index.colloc_store import (
        sketch_from_store,
    )
    from word_sketch_lucene_spark.query.sketch import index_word_sketch

    s, cat = store_index
    for head, head_pos, rtypes in (("table", "NOUN", ("SURFACE",)),
                                   ("scan", "VERB", ("DEP",))):
        live = index_word_sketch(
            s, head, cat, head_pos=head_pos, relation_types=rtypes,
            limit_per_relation=10, round_dp=4, use_store=False)
        want = sorted(live)
        got = sorted(
            (r["relation"], r["colloc_term"], r["pair_freq"],
             r["logdice"], r["rel_freq"])
            for r in sketch_from_store(
                s, head, cat, head_pos=head_pos, relation_types=rtypes,
                limit_per_relation=10, round_dp=4).collect())
        assert got == want and got, (head, head_pos)
        # the default use_store=True routes to the store and is FULLY
        # identical (rows AND catalog enumeration order) to the live
        # fan-out
        auto = index_word_sketch(
            s, head, cat, head_pos=head_pos, relation_types=rtypes,
            limit_per_relation=10, round_dp=4)
        assert auto == live, (head, head_pos)


def test_store_cached_serve_identical_and_fast(spark, store_index):
    """The interactive tier: same rows as the plan tier; the warm call
    runs from the driver cache with NO Spark job (pure-python scoring
    — the preloaded-collocations.bin model)."""
    from word_sketch_lucene_spark.index.colloc_store import (
        serve_sketch_cached,
        sketch_from_store,
    )

    s, cat = store_index
    want = sorted(
        (r["relation"], r["colloc_term"], r["pair_freq"],
         r["logdice"], r["rel_freq"])
        for r in sketch_from_store(
            s, "table", cat, head_pos="NOUN", limit_per_relation=10,
            round_dp=4).collect())
    got = sorted(serve_sketch_cached(
        s, "table", cat, head_pos="NOUN", limit_per_relation=10,
        round_dp=4))
    assert got == want and got
    # warm: pure driver-side scoring
    t0 = time.perf_counter()
    again = sorted(serve_sketch_cached(
        s, "table", cat, head_pos="NOUN", limit_per_relation=10,
        round_dp=4))
    warm_ms = 1000 * (time.perf_counter() - t0)
    assert again == got
    assert warm_ms < 100, f"warm store serve took {warm_ms:.1f} ms"


def test_store_build_idempotent_and_meta_guard(spark, store_index):
    """Re-building with the same config is a no-op (meta fingerprint);
    a mismatched colloc_attr request fails loudly instead of serving
    wrong-layer counts."""
    from pathlib import Path

    from word_sketch_lucene_spark.index.colloc_store import (
        build_collocation_store,
        serve_sketch_cached,
        sketch_from_store,
    )

    s, cat = store_index
    p = Path(s.root) / "colloc_store" / "_store_meta.json"
    mtime = p.stat().st_mtime_ns
    build_collocation_store(s, cat)  # same config → no rewrite
    assert p.stat().st_mtime_ns == mtime
    with pytest.raises(ValueError):
        sketch_from_store(s, "table", cat, colloc_attr="xpos")
    with pytest.raises(ValueError):
        serve_sketch_cached(s, "table", cat, colloc_attr="xpos")


def test_store_without_format_rebuilds(spark, store_index):
    """A store whose meta has no ``format`` key predates the trinary
    ``<id>/<value>`` relation keys: it must not serve, and a build
    call must rebuild it instead of keeping it."""
    import json
    from pathlib import Path

    from word_sketch_lucene_spark.index.colloc_store import (
        STORE_FORMAT,
        build_collocation_store,
        store_can_serve,
        store_meta,
    )

    s, cat = store_index
    p = Path(s.root) / "colloc_store" / "_store_meta.json"
    meta = json.loads(p.read_text())
    assert meta.pop("format") == STORE_FORMAT
    p.write_text(json.dumps(meta, sort_keys=True))
    assert not store_can_serve(s, cat)
    build_collocation_store(s, cat)
    assert store_meta(s)["format"] == STORE_FORMAT
    assert store_can_serve(s, cat)


def test_truncated_store_meta_falls_back_to_live(spark, store_index):
    """A meta cut short mid-write (a build killed while writing it)
    reads as no store: the sketch serves the live rows instead of
    raising, and a build call rebuilds the store."""
    from pathlib import Path

    from word_sketch_lucene_spark.index.colloc_store import (
        build_collocation_store,
        store_can_serve,
        store_meta,
    )
    from word_sketch_lucene_spark.query.sketch import index_word_sketch

    s, cat = store_index
    p = Path(s.root) / "colloc_store" / "_store_meta.json"
    text = p.read_text()
    p.write_text(text[:len(text) // 2])
    assert store_meta(s) is None
    assert not store_can_serve(s, cat)
    kw = dict(head_pos="NOUN", limit_per_relation=10, round_dp=4)
    live = index_word_sketch(s, "table", cat, use_store=False, **kw)
    assert index_word_sketch(s, "table", cat, **kw) == live and live
    build_collocation_store(s, cat)
    assert p.read_text() == text
    assert store_can_serve(s, cat)


def test_store_detects_index_content_change(spark, store_index):
    """The store's meta fingerprints the forward store — after a delta
    ingest changes index contents, auto-serve must fall back to the
    live fan-out (never stale counts) and a rebuild must re-run."""
    import os
    from pathlib import Path

    from word_sketch_lucene_spark.index.colloc_store import (
        store_can_serve,
        store_meta,
    )

    s, cat = store_index
    assert store_can_serve(s, cat)
    part = next(Path(s.root, "forward_layers").glob("part-*"))
    st = part.stat()
    os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    # drop the 5s fingerprint memo (ingest paths mutate files slower
    # than the TTL; the test does not)
    s._cache.discard("forward_fp", None)
    try:
        assert not store_can_serve(s, cat)
        assert store_meta(s) is not None  # store exists, just stale
    finally:
        os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns))
    s._cache.discard("forward_fp", None)
    assert store_can_serve(s, cat)  # restored contents serve again


def test_store_serves_wsdef_catalog_constraints_and_trinary(
        spark, docs_small, tmp_path_factory):
    """r6 fixes: the store build must accept wsdef-shaped relations —
    trailing inter-slot constraints (stripped + applied), quantified
    fillers, and TRINARY 3: slots (stored as `<id>/<value>` exactly as
    the live fan-out parameterizes them) — and the store serve must be
    row-identical to the distributed fan-out for such a catalog."""
    from word_sketch_lucene_spark.functions.tokenize import explode_tokens
    from word_sketch_lucene_spark.index.build import build_conllu_index
    from word_sketch_lucene_spark.index.colloc_store import (
        build_collocation_store,
        sketch_from_store,
        store_can_serve,
    )
    from word_sketch_lucene_spark.operators.dependency import rule_annotate
    from word_sketch_lucene_spark.plans.wsdef import parse_wsdef
    from word_sketch_lucene_spark.query.engine import IndexSearcher
    from word_sketch_lucene_spark.query.sketch import (
        index_word_sketch_distributed,
    )
    from word_sketch_lucene_spark.sources.conllu import (
        parse_conllu_docs,
        to_conllu_text,
    )

    grammar = """\
*DEFAULTATTR xpos

=modifiers of "%w"
*UNIMAP smod
\t2:"JJ" [xpos="DT"]{0,1} 1:"NN.*"

=coordination of "%w"
*UNIMAP scoord
\t1:"(NN|VB).*" []{0,1} 2:"(NN|VB).*" & 1.xpos = 2.xpos

*TRINARY
="%w" %(3.lemma) ...
*UNIMAP svia
\t1:"NN.*" 3:"VB.*" [xpos="DT"]{0,1} 2:"NN.*"
"""
    cat = parse_wsdef(grammar)
    parsed = parse_conllu_docs(to_conllu_text(
        rule_annotate(explode_tokens(docs_small), sent_len=10))) \
        .localCheckpoint()
    root = tmp_path_factory.mktemp("cstore_wsdef_idx")
    build_conllu_index(spark, parsed, root, doc_salt=2, n_partitions=4)
    s = IndexSearcher(spark, root)
    build_collocation_store(s, cat)  # r6: raised ValueError before
    assert store_can_serve(s, cat)
    live = index_word_sketch_distributed(
        s, "table", cat, limit_per_relation=10, round_dp=4)
    got = sketch_from_store(s, "table", cat, limit_per_relation=10,
                            round_dp=4)
    want_rows = sorted(tuple(r) for r in live.collect())
    got_rows = sorted(tuple(r) for r in got.collect())
    assert want_rows == got_rows and len(got_rows) > 0
    # trinary sub-relations materialized per 3:-slot value
    assert any(r[0].startswith("svia/") for r in got_rows)
