"""Index-served exploration (V5–V7) — identity with the DataFrame path.

Reference: ``exploration/SingleSeedExplorer.java:63-107`` and
``MultiSeedExplorer.java:80-200`` serve every exploration phase from
the index; here ``query/explore.py`` reproduces the DataFrame
exploration operators over postings + forward arrays + the term
dictionary.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SEEDS = ["table", "row", "column"]
WKW = dict(min_gap=1, max_gap=2, ordered=False)


@pytest.fixture(scope="module")
def explore_ctx(spark, docs_small, index_small):
    from word_sketch_lucene_spark.functions.tokenize import explode_tokens
    from word_sketch_lucene_spark.index.stats import term_stats
    from word_sketch_lucene_spark.query.engine import IndexSearcher

    toks = explode_tokens(docs_small).cache()
    stats = term_stats(toks).cache()
    yield IndexSearcher(spark, index_small), toks, stats
    # unpersist: a lingering cached term_stats plan would be picked up
    # by OTHER tests' identical plans (InMemoryRelation swallows their
    # plan-shape assertions — the plan-string gotcha)
    stats.unpersist()
    toks.unpersist()


def test_index_collocates_match_dataframe(explore_ctx):
    from word_sketch_lucene_spark.operators.collocation import (
        collocates_for_head,
    )
    from word_sketch_lucene_spark.query.explore import (
        index_collocates_for_head,
    )

    s, toks, stats = explore_ctx
    for head in SEEDS:
        want = [(r["colloc_term"], r["pair_freq"], r["logdice"],
                 r["rel_freq"])
                for r in collocates_for_head(
                    toks, stats, head, limit=50, round_dp=4,
                    **WKW).collect()]
        got = index_collocates_for_head(s, head, limit=50, round_dp=4,
                                        **WKW)
        assert got == want and got, head
    # ordered windows too (direction matters)
    want_o = [(r["colloc_term"], r["pair_freq"], r["logdice"],
               r["rel_freq"])
              for r in collocates_for_head(
                  toks, stats, "table", min_gap=1, max_gap=3,
                  ordered=True, limit=30, round_dp=4).collect()]
    got_o = index_collocates_for_head(s, "table", min_gap=1, max_gap=3,
                                      ordered=True, limit=30, round_dp=4)
    assert got_o == want_o and got_o


def test_min_logdice_filters_the_unrounded_score(explore_ctx):
    """The min-score filter compares the UNROUNDED logDice and rounds
    afterwards, on both tiers: a collocate whose score rounds UP to the
    threshold is out of both lists."""
    from word_sketch_lucene_spark.operators.collocation import (
        collocates_for_head,
    )
    from word_sketch_lucene_spark.query.explore import (
        index_collocates_for_head,
    )

    s, toks, stats = explore_ctx
    raw = [(r["colloc_term"], r["logdice"]) for r in collocates_for_head(
        toks, stats, "table", limit=1000, **WKW).collect()]
    term, ld = next((t, ld) for t, ld in raw if round(ld, 4) > ld)
    kw = dict(limit=50, round_dp=4, min_logdice=round(ld, 4), **WKW)
    want = [(r["colloc_term"], r["pair_freq"], r["logdice"], r["rel_freq"])
            for r in collocates_for_head(toks, stats, "table",
                                         **kw).collect()]
    got = index_collocates_for_head(s, "table", **kw)
    assert got == want
    assert term not in {r[0] for r in got}


def test_index_multiseed_aggregates_match_dataframe(explore_ctx):
    """common_collocates / profile_stats / core_collocates over the
    index-served per-seed table row-equal the DataFrame operators
    (scaled-integer engine-stable arithmetic on both sides)."""
    from word_sketch_lucene_spark.operators.exploration import (
        common_collocates,
        core_collocates,
        profile_stats,
        seed_collocates,
    )
    from word_sketch_lucene_spark.query.explore import (
        index_common_collocates,
        index_core_collocates,
        index_profile_stats,
        index_seed_collocates,
    )

    s, toks, stats = explore_ctx
    per_seed_df = seed_collocates(toks, stats, SEEDS, limit_per_seed=50,
                                  round_dp=4, **WKW)
    per_seed_idx = index_seed_collocates(s, SEEDS, limit_per_seed=50,
                                         round_dp=4, **WKW)
    assert sorted(per_seed_idx) == sorted(
        (r["seed"], r["colloc_term"], r["pair_freq"], r["logdice"],
         r["rel_freq"]) for r in per_seed_df.collect())

    want = sorted(tuple(r) for r in common_collocates(
        per_seed_df, min_shared=2, round_dp=4).collect())
    got = index_common_collocates(per_seed_idx, min_shared=2, round_dp=4)
    assert got == want and got

    want_p = sorted(tuple(r) for r in profile_stats(
        per_seed_df, n_seeds=len(SEEDS), round_dp=4).collect())
    got_p = index_profile_stats(per_seed_idx, n_seeds=len(SEEDS),
                                round_dp=4)
    assert got_p == want_p and got_p

    want_c = [tuple(r) for r in core_collocates(
        per_seed_df, n_nouns=len(SEEDS), round_dp=4).collect()]
    got_c = index_core_collocates(per_seed_idx, n_nouns=len(SEEDS),
                                  round_dp=4)
    assert got_c == want_c and got_c


def test_index_explore_single_seed_matches_dataframe(explore_ctx):
    """The 4-phase exploration: seed collocates exactly equal; the
    discovered-noun set and per-noun shared counts equal; scores equal
    to float tolerance (the DataFrame path sums unrounded doubles)."""
    from word_sketch_lucene_spark.operators.exploration import (
        explore_single_seed,
    )
    from word_sketch_lucene_spark.query.explore import (
        index_explore_single_seed,
    )

    s, toks, stats = explore_ctx
    want = explore_single_seed(toks, stats, "table", top=10,
                               min_shared=2, **WKW)
    got = index_explore_single_seed(s, "table", top=10, min_shared=2,
                                    round_dp=4, **WKW)
    want_seed = [(r["colloc_term"], r["pair_freq"]) for r in
                 want["seed_collocates"].collect()]
    assert [(t, f) for t, f, _, _ in got["seed_collocates"]] == want_seed
    want_nouns = {r["noun"]: (r["shared_count"], r["sum_score"]) for r in
                  want["discovered_nouns"].collect()}
    got_nouns = {n: (cnt, ss) for n, ss, cnt, _avg in
                 got["discovered_nouns"]}
    assert set(got_nouns) == set(want_nouns) and got_nouns
    for n, (cnt, ss) in got_nouns.items():
        wc, ws = want_nouns[n]
        assert cnt == wc
        assert ss == pytest.approx(ws, abs=1e-3)
    want_core = {(r["colloc_term"], r["shared_by"]) for r in
                 want["core_collocates"].collect()}
    got_core = {(t, sb) for t, sb, _avg in got["core_collocates"]}
    assert got_core == want_core and got_core
