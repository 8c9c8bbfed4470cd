"""The searcher's one cache: the LRU type itself (no Spark), df served
from the fetched blocks, one Spark job per cold search, bounded
resident bytes over a long tail-heavy query log, and route pricing
read from the dictionary's cf lookups and expansions."""

from __future__ import annotations

import time

import numpy as np
from pyspark.sql import functions as F

from word_sketch_lucene_spark.query.cache import LRUCache, estimate_bytes


# ------------------------------------------------------ the cache type
def test_lru_evicts_least_recently_used_first():
    c = LRUCache(budget_bytes=3 * estimate_bytes(np.zeros(100)))
    for k in "abc":
        c.put("ns", k, np.zeros(100))
    assert c.get("ns", "a") is not None  # a is now the most recent
    c.put("ns", "d", np.zeros(100))
    assert c.get("ns", "b") is None  # least recently used went first
    assert all(c.get("ns", k) is not None for k in "acd")
    assert len(c) == 3


def test_resident_bytes_never_exceed_budget():
    c = LRUCache(budget_bytes=10_000)
    rng = np.random.default_rng(0)
    for i in range(500):
        c.put(("ns", i % 3), i, np.zeros(int(rng.integers(1, 400))))
        assert c.bytes <= c.budget_bytes
    assert c.bytes == sum(size for _v, size in c._entries.values())


def test_over_budget_entry_is_returned_not_kept():
    c = LRUCache(budget_bytes=1_000)
    small = c.put("ns", "small", [1, 2, 3])
    big = np.zeros(1_000)
    assert c.put("ns", "big", big) is big
    assert c.get("ns", "big") is None
    assert c.get("ns", "small") is small  # nothing evicted for it
    calls = []
    assert c.get_or_put("ns", "big", lambda: calls.append(1) or big) is big
    assert c.get_or_put("ns", "big", lambda: calls.append(1) or big) is big
    assert len(calls) == 2  # recomputed each time, never kept


def test_cached_arrays_are_read_only():
    """Entries share arrays (a one-test slot IS its test's positions):
    every ndarray a put stores, in tuples too, refuses in-place writes,
    and an over-budget value is frozen all the same."""
    import pytest

    c = LRUCache(budget_bytes=10_000)
    doc, pos = np.arange(4), np.arange(4)
    slot = c.put("slot", "k", ((doc, pos), None))
    for arr in (doc, pos, slot[0][0], c.get("slot", "k")[0][1]):
        with pytest.raises(ValueError):
            arr[0] = 9
    big = c.put("ns", "big", np.zeros(10_000))
    with pytest.raises(ValueError):
        big += 1
    assert doc.tolist() == [0, 1, 2, 3]


def test_get_many_fetches_every_miss_in_one_call():
    c = LRUCache()
    calls = []

    def fetch(missing):
        calls.append(list(missing))
        return {k: k * 10 for k in missing if k != 3}

    assert c.get_many("ns", [1, 2, 3, 2], fetch, default=0) == \
        {1: 10, 2: 20, 3: 0}
    assert c.get_many("ns", [4, 1, 3], fetch, default=0) == \
        {4: 40, 1: 10, 3: 0}
    assert calls == [[1, 2, 3], [4]]
    # namespaces are disjoint; the view reads one without reordering
    c.put("other", 1, "x")
    view = c.view("ns")
    assert 1 in view and view.get(1) == 10 and view.get(9, ()) == ()
    assert sorted(view) == [1, 2, 3, 4] and len(view) == 4
    c.discard("ns", 1)
    assert 1 not in view


# ------------------------------------------------------- df from blocks
def _assert_dfs_match_term_stats(spark, root):
    from word_sketch_lucene_spark.query.engine import IndexSearcher

    s = IndexSearcher(spark, root)
    want = {r["term"]: int(r["df"])
            for r in s.term_stats.select("term", "df").collect()}
    got = s.term_dfs(sorted(want) + ["zzz-absent-term"])
    assert got.pop("zzz-absent-term") == 0
    assert got == want


def test_term_dfs_equal_term_stats(spark, index_small):
    _assert_dfs_match_term_stats(spark, index_small)


def test_term_dfs_equal_term_stats_on_merged_root(spark, tmp_path):
    from word_sketch_lucene_spark.index.build import build_index
    from word_sketch_lucene_spark.index.merge import add_documents
    from word_sketch_lucene_spark.sources.pages import generate_pages

    pages = generate_pages(spark, 120, seed=5)
    base = tmp_path / "base"
    build_index(spark, pages.filter(F.col("doc_id") < 80), base,
                doc_salt=2, n_partitions=4)
    merged = add_documents(spark, base, pages.filter(F.col("doc_id") >= 80),
                           tmp_path / "staging", doc_salt=2, n_partitions=4)
    _assert_dfs_match_term_stats(spark, merged)


def test_cold_search_runs_one_spark_job(spark, index_small):
    """A cold two-term search fetches its block rows in one pruned
    scan and takes df from them: one Spark job, no term_stats lookup.
    (The segments handle opens first: its schema read is not part of
    the query.)"""
    from word_sketch_lucene_spark.query.engine import IndexSearcher

    s = IndexSearcher(spark, index_small)
    s.segments
    sc = spark.sparkContext
    group = f"cold-search-{id(s)}"
    sc.setJobGroup(group, "cold two-term search")
    try:
        hits, _ = s.search(["spark", "join"], k=5)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert hits
    time.sleep(1.0)  # let the listener bus register the jobs
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


# --------------------------------------------- bounded searcher state
def test_tail_heavy_log_keeps_resident_bytes_bounded(spark, tmp_path):
    """A long Zipf-tail log (500 distinct rare terms, 500 forward-array
    doc lookups) on a small-budget searcher: resident bytes stay within
    the budget plus one entry while the cache keeps evicting, and the
    answers match a default-budget searcher."""
    from word_sketch_lucene_spark.index.build import build_index
    from word_sketch_lucene_spark.query.engine import IndexSearcher
    from word_sketch_lucene_spark.sources.pages import generate_pages

    root = tmp_path / "zipf"
    build_index(spark, generate_pages(spark, 600, seed=7), root,
                doc_salt=2, n_partitions=4)
    s = IndexSearcher(spark, root)
    tail = [r["term"] for r in s.term_stats.orderBy("df", "term")
            .select("term").limit(500).collect()]
    assert len(tail) == 500
    budget = 32 * 1024
    s._cache.budget_bytes = budget
    largest = inserted = 0
    for i in range(0, 500, 10):
        hits, _ = s.search(tail[i:i + 10], k=5, mode="vec")
        assert hits
        inserted += 20  # block rows + decoded arrays per term
        largest = max([largest] + [size for _v, size
                                   in s._cache._entries.values()])
        assert s._cache.bytes <= budget + largest
    docs = sorted(int(r["doc_id"]) for r in
                  s._dataset("doc_lens").select("doc_id").collect())[:500]
    assert len(docs) == 500
    for i in range(0, 500, 50):
        fw = s.forward_layer(docs[i:i + 50], "term")
        assert all(fw[d] for d in docs[i:i + 50])
        inserted += 50
        largest = max([largest] + [size for _v, size
                                   in s._cache._entries.values()])
        assert s._cache.bytes <= budget + largest
    assert len(s._cache) < inserted  # the budget did evict
    ref = IndexSearcher(spark, root)
    assert s.search(tail[:10], k=5)[0] == ref.search(tail[:10], k=5)[0]
    assert s.forward_layer(docs[:5], "term") == \
        ref.forward_layer(docs[:5], "term")


# ------------------------------------------------------- route pricing
PRICED = {
    "pages": ['[word="spark"]', '[word="s.*"]', '[word="zzqxabsent"]',
              '[word="spark"] [word!="the"]',
              '[word="j.*n"] []{0,2} [word="(join|filter)"]',
              '[word="q.*"] [word!="t.*"]'],
    "conllu": ['[lemma="table"]', '[xpos="NN.*"]',
               '[lemma="table" & xpos="NN"]',
               '[upos="NOUN"] [deprel!="det"]',
               '[xpos="VB.*" & lemma!="be"] [word="t.*"]',
               '[deprel="(nsubj|obj)"] [upos!="PUNCT" & word="s.*"]'],
}


def _dictionary_matches(s, test) -> tuple[int, int]:
    """(Σcf, number of values) of the dictionary values ``test``
    matches, by a direct aggregate over term_stats / layer_stats."""
    from word_sketch_lucene_spark.plans.cql import DEFAULT_LAYERS

    layer = DEFAULT_LAYERS[test.attr]
    if layer == "term":
        d = s.term_stats.select(F.col("term").alias("value"), "cf")
    else:
        d = s.layer_stats.filter(F.col("layer") == layer) \
            .select("value", "cf")
    match = (F.col("value") == test.value if test.is_literal
             else F.col("value").rlike(f"^(?:{test.value})$"))
    row = d.filter(match).agg(F.sum("cf").alias("cf"),
                              F.count("*").alias("n")).first()
    return int(row["cf"] or 0), int(row["n"])


def test_pattern_cost_equals_dictionary_aggregate(spark, index_small,
                                                  conllu_index):
    """``pattern_cost`` against a direct aggregate over the dictionary
    stores, for literal, regex, negated and cross-layer tests on the
    surface and annotation layers: ``capped`` is "some test has more
    than m matching values", and an uncapped cost is the Σcf over every
    matching value (a capped one is a lower bound)."""
    from word_sketch_lucene_spark.plans.cql import _steps, parse_cql
    from word_sketch_lucene_spark.query.engine import IndexSearcher

    roots = {"pages": index_small, "conllu": conllu_index[0]}
    n_capped = n_exact = 0
    for kind, patterns in PRICED.items():
        s = IndexSearcher(spark, roots[kind])
        for p in patterns:
            matches = [_dictionary_matches(s, t)
                       for st in _steps(parse_cql(p)) for t in st.item.tests]
            for m in (1, 3, 256):
                cost, capped = s.pattern_cost(p, max_terms_per_slot=m)
                want_capped = any(n > m for _cf, n in matches)
                want_cost = sum(cf for cf, _n in matches)
                assert capped == want_capped, (p, m)
                if capped:
                    assert cost <= want_cost, (p, m)
                    n_capped += 1
                else:
                    assert cost == want_cost, (p, m)
                    n_exact += cost > 0
    assert n_capped >= 3 and n_exact >= 8
