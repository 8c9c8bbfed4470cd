"""What the benchmark's traced runs read from the library.

``perfbench/spans.py`` wraps ``IndexSearcher`` methods by name and
derives ``query.engine.prefetch_calls`` / ``block_rows_fetched`` from
the ``prefetch`` span and the searcher's ``_block_cache`` view. A
refactor that renames, moves or bypasses any of these would silently
zero those metrics; this test pins them on a tiny index.
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
