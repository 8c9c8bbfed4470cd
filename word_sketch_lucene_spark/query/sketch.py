"""Index-side word sketches: the reference's interactive serving model.

The reference serves every sketch from the prebuilt index — BCQL
relation patterns run as Lucene span queries, hits group by the lemma
forward index, logDice ranks the collocates
(``SketchHandlers.java:127-143`` → ``CollocateQueryHelper``). This
module reproduces that loop over the engine's own artifacts, on the
flat position kernel (:mod:`.positions`) — every step a whole-set
array pass, none per candidate doc:

- relation pattern → :meth:`IndexSearcher.pattern_matches` (posted
  layers' positional postings as ``(doc, pos)`` arrays, closed-class
  tests checked against the forward store, full constraint-position
  capture, inter-slot constraints compared on forward values); a dual
  slop relation is one chain of the collocate slot at offsets
  ``[-slop, slop]`` around the head's positions;
- collocate identity: ONE gather from the FORWARD layer store
  (``build_conllu_index`` writes doc → lemma array) at every matched
  ``(doc, pos)``, counted with one ``np.unique``;
- stats from the layer term dictionary (``layer_cf``) and one ranking
  tail, :func:`rank_collocates`, shared by every index-served
  collocate list — no corpus scan anywhere.

The DataFrame path (``plans.relations.word_sketch_patterns``) is the
batch/oracle-checked twin; a pytest pins rank-and-score identity
between the two.
"""

from __future__ import annotations

import re

import numpy as np

from ..functions.scoring import logdice_py
from ..plans.cql import DEFAULT_LAYERS, AttrTest, Query, TokenItem
from ..plans.relations import GrammarCatalog, RelationConfig
from .positions import take


def _round(x: float, dp: int | None) -> float:
    return x if dp is None else round(x, dp)


def rank_collocates(searcher, layer: str, head: str,
                    counts: dict[str, int], min_logdice: float = 0.0,
                    limit: int = 20, round_dp: int | None = None
                    ) -> list[tuple[str, int, float, float]]:
    """``[(colloc, pair_freq, logdice, rel_freq)]`` from collocate pair
    counts: f(A)/f(B) from ``layer``'s dictionary, the min-score filter
    on the UNROUNDED logDice, then rounding, then the (logdice desc,
    colloc asc) order and ``limit`` — the plan tier's order of
    operations (``functions.scoring.score_ranked_collocates``), so
    boundary collocates agree between the tiers."""
    if not counts:
        return []
    cf = searcher.layer_cf(layer, sorted(counts) + [head])
    head_cf = cf.get(head, 0)
    if head_cf == 0:
        return []
    scored = []
    for value, fab in counts.items():
        fb = cf.get(value)
        if fb is None:
            continue
        ld = logdice_py(fab, head_cf, fb)
        if ld >= min_logdice:
            scored.append((value, fab, _round(ld, round_dp),
                           _round(fab / head_cf, round_dp)))
    scored.sort(key=lambda r: (-r[2], r[0]))
    return scored[:limit]


def collocate_counts(searcher, doc: np.ndarray, pos: np.ndarray,
                     layer: str) -> dict[str, int]:
    """value → occurrences of ``layer``'s forward value at every
    ``(doc[i], pos[i])``: one flat gather and one ``np.unique``.
    Positions outside their doc's array count nothing."""
    docs = np.unique(doc)
    flat, table, vocab = searcher._forward(docs, layer)
    ids, _ = take(flat, np.searchsorted(docs, doc), pos)
    codes, counts = np.unique(table[ids], return_counts=True)
    return dict(zip(vocab[codes].tolist(), counts.tolist()))


def relation_collocates(
    searcher,
    head: str,
    rel: RelationConfig,
    subst_attr: str = "lemma",
    colloc_attr: str = "lemma",
    min_logdice: float = 0.0,
    limit: int = 20,
    round_dp: int | None = None,
    max_terms_per_slot: int = 256,
    within_sentence: bool = False,
) -> list[tuple[str, str, int, float, float]]:
    """One relation's ranked collocates, fully index-side:
    ``[(relation, colloc_term, pair_freq, logdice, rel_freq)]``.

    Counting unit = distinct (doc, head-pos, colloc-pos) — identical to
    ``plans.cql.pattern_collocates``. A quantified unlabeled filler
    matches once per concrete-length variant, its slots read by label.
    A trinary relation ranks one sub-relation per 3:-slot value on
    ``colloc_attr``, ``<id>/<value>`` in sorted order, as the DataFrame
    pair builder keys them. Trailing inter-slot constraints
    (``& 1.xpos = 2.xpos``) filter the matches. ``within_sentence``
    constrains matches (and dual slop windows) to one sentence.
    """
    q = rel.query
    layer = DEFAULT_LAYERS[colloc_attr]
    if rel.dual and "2" not in q.labels:
        doc, cp = _dual_window_pairs(searcher, head, q, rel,
                                     subst_attr, max_terms_per_slot,
                                     within_sentence=within_sentence)
        pairs = {rel.id: (doc, cp)}
    else:
        found = []
        for variant in q.substitute(head, rel.head_position,
                                    attr=subst_attr).variants:
            slot = variant.labels
            matches = searcher.pattern_matches(
                variant, max_terms_per_slot, within_sentence=within_sentence)
            if matches:
                doc, rows = zip(*matches)
                rows = np.array(rows, dtype=np.int64)
                found.append(np.column_stack(
                    [doc] + [rows[:, slot[k] - 1] for k in ("1", "2", "3")
                             if k in slot]))
        if not found:
            return []
        doc, hp, cp, *tp = np.unique(np.concatenate(found), axis=0).T
        if not tp:
            pairs = {rel.id: (doc, cp)}
        else:
            docs = np.unique(doc)
            flat, table, vocab = searcher._forward(docs, layer)
            ids, ok = take(flat, np.searchsorted(docs, doc), tp[0])
            third = vocab.to_numpy()[table[ids]]
            doc, hp, cp = doc[ok], hp[ok], cp[ok]
            pairs = {}
            for value in sorted(set(third.tolist())):
                sel = third == value
                d, _hp, c = np.unique(np.column_stack(
                    [doc[sel], hp[sel], cp[sel]]), axis=0).T
                pairs[f"{rel.id}/{value}"] = (d, c)
    return [(rel_id, *row)
            for rel_id, (doc, cp) in pairs.items()
            for row in rank_collocates(
                searcher, layer, head,
                collocate_counts(searcher, doc, cp, layer),
                min_logdice, limit, round_dp)]


def _dual_window_pairs(searcher, head: str, q: Query, rel: RelationConfig,
                       subst_attr: str, max_terms_per_slot: int,
                       within_sentence: bool = False):
    """Dual single-position relation: collocate constraint within
    ``default_slop`` tokens of the head, either side (the DataFrame
    twin's slop-window branch) — one chain of the head slot and the
    collocate slot at offsets ``[-slop, slop]``, the head's own
    position dropped. Returns the ``(doc, colloc_pos)`` arrays of the
    distinct pairs."""
    from ..plans.cql import _Step

    citem = q.tokens[rel.head_position - 1]
    slop = rel.default_slop
    hitem = TokenItem([AttrTest(subst_attr, re.escape(head))])
    doc, mat = searcher._chain_matches(
        [_Step(hitem, 0, 0), _Step(citem, -slop, slop)],
        max_terms_per_slot, within_sentence)
    keep = mat[:, 0] != mat[:, 1]
    return doc[keep], mat[keep, 1]


def layer_stats_df(searcher, layer: str):
    """One layer's term dictionary as a ``(term, cf)`` DataFrame —
    the stats side every sketch scorer joins, read through the
    searcher's one dictionary accessor (no corpus scan)."""
    from pyspark.sql import functions as F

    return searcher._dictionary({layer}).select(
        F.col("value").alias("term"), "cf")


def catalog_tokens(searcher, rels, subst_attr: str, colloc_attr: str,
                   within_sentence: bool):
    """The forward token table a relation fan-out runs on, pruned to
    the layers its patterns test or constrain plus the substituted and
    captured layers (and ``sent_no`` when sentence-bounded)."""
    need = {"term", DEFAULT_LAYERS[subst_attr], DEFAULT_LAYERS[colloc_attr]}
    if within_sentence:
        need.add("sent_no")
    for rel in rels:
        need |= rel.query.layers
    tokens = searcher.forward_token_table(columns=need)
    if tokens is None or DEFAULT_LAYERS[subst_attr] not in tokens.columns:
        raise NotImplementedError(
            "index has no forward_layers store — build with "
            "index.build.build_conllu_index(store_docstore=True)")
    return tokens


def index_word_sketch_distributed(
    searcher,
    head: str,
    catalog: GrammarCatalog,
    head_pos: str | None = None,
    subst_attr: str = "lemma",
    colloc_attr: str = "lemma",
    limit_per_relation: int = 10,
    min_logdice: float = 0.0,
    round_dp: int | None = None,
    relation_types: tuple[str, ...] = ("SURFACE",),
    within_sentence: bool = False,
):
    """The full sketch fan-out as a DISTRIBUTED plan over the index's
    OWN artifacts — no corpus scan, no driver-resident postings:

    - token table = ``posexplode`` of the ``forward_layers`` store
      (``IndexSearcher.forward_token_table`` — doc-partitioned parquet,
      shards with the corpus);
    - collocate stats = the layer's term dictionary
      (:func:`layer_stats_df`);
    - pattern execution/scoring = the ordinary CQL positional-join
      fan-out (``plans.relations.word_sketch_patterns``).

    Returns the same DataFrame shape as ``word_sketch_patterns``; a
    pytest pins row identity with :func:`index_word_sketch` (the
    in-driver span-chain path). This is the 100×-corpus serving shape:
    peak driver memory is O(collocate rows) — the span-chain path keeps
    sub-second warm latency on a pinned hot set, this path keeps the
    cold/huge-head case executor-side (the scale split the reference
    never needs at one node, ``BlackLabQueryExecutor.java:117-144``).
    """
    from ..plans.relations import word_sketch_patterns

    rels = catalog.pattern_relations(relation_types, head_pos)
    tokens = catalog_tokens(searcher, rels, subst_attr, colloc_attr,
                            within_sentence)
    stats = layer_stats_df(searcher, DEFAULT_LAYERS[colloc_attr])
    return word_sketch_patterns(
        tokens, stats, head, catalog, head_pos=head_pos,
        subst_attr=subst_attr, colloc_attr=colloc_attr,
        limit_per_relation=limit_per_relation, min_logdice=min_logdice,
        round_dp=round_dp, relation_types=relation_types,
        within_sentence=within_sentence)


def index_relation_collocates(
    searcher,
    query,
    colloc_attr: str = "lemma",
    min_logdice: float = 0.0,
    limit: int = 20,
    round_dp: int | None = None,
    max_terms_per_slot: int = 256,
    df_budget: int = 500_000,
) -> list[tuple[str, int, float]]:
    """BCQL relation query → ranked dependent collocates, fully
    index-side: ``[(dep_term, pair_freq, logdice)]`` — the serving twin
    of ``operators.dependency.relation_query_collocates`` (identical
    counting unit: one governor→dependent match = one pair), the
    reference's ``queryAndRankDepCollocates``
    (``BlackLabQueryExecutor.java:231-244``). Match resolution
    routes through ``IndexSearcher._relation_route``: in-driver
    forward-array resolver under the Σcf budget, distributed dependency
    join over the forward token table above it — there matches AND
    collocate identity run in ONE plan (per-doc forward pulls would
    cost O(corpus) driver-side)."""
    from ..plans.cql import parse_relation_query

    rq = parse_relation_query(query) if isinstance(query, str) else query
    if rq is None:
        raise ValueError(f"not a relation query: {query!r}")
    head = next((t.value.replace("\\", "") for t in rq.source.tests
                 if t.attr in ("lemma", "word", "term") and not t.negated
                 and t.is_literal), None)
    if head is None:
        raise ValueError("relation-query collocates need a literal "
                         "lemma/word test on the source operand")
    layer = DEFAULT_LAYERS[colloc_attr]
    out = searcher._relation_route(rq, max_terms_per_slot, df_budget,
                                   dep_capture=colloc_attr)
    if isinstance(out, list):
        if not out:
            return []
        doc, _gp, dp = np.array(out, dtype=np.int64).T
        counts = collocate_counts(searcher, doc, dp, layer)
    else:
        from pyspark.sql import functions as F

        counts = {r["colloc"]: r["n"] for r in out.groupBy("colloc")
                  .agg(F.count("*").alias("n")).collect()}
    return [r[:3] for r in rank_collocates(searcher, layer, head, counts,
                                           min_logdice, limit, round_dp)]


def index_word_sketch(
    searcher,
    head: str,
    catalog: GrammarCatalog,
    head_pos: str | None = None,
    subst_attr: str = "lemma",
    colloc_attr: str = "lemma",
    limit_per_relation: int = 10,
    min_logdice: float = 0.0,
    round_dp: int | None = None,
    relation_types: tuple[str, ...] = ("SURFACE",),
    max_terms_per_slot: int = 256,
    within_sentence: bool = False,
    use_store: bool = True,
) -> list[tuple[str, str, int, float, float]]:
    """Full word sketch SERVED FROM THE INDEX: every applicable pattern
    relation's ranked collocates —
    ``[(relation, colloc_term, pair_freq, logdice, rel_freq)]`` — no
    corpus scan, interactive latency (warm postings/dictionary caches).
    Same fan-out, filters, and counting as
    ``plans.relations.word_sketch_patterns``.

    ``use_store=True`` (default): when a MATERIALIZED collocation store
    exists at this root with a compatible configuration
    (``index.colloc_store`` — the reference's precomputed
    ``collocations.bin`` tier), serve from it instead of running the
    pattern fan-out: one pruned per-head scan on first touch, pure
    cached scoring after — row-identical output, orders of magnitude
    cheaper warm. ``False``, or no compatible store, runs the live
    fan-out.
    """
    if use_store:
        from ..index.colloc_store import serve_sketch_cached, store_can_serve

        if store_can_serve(
                searcher, catalog, subst_attr=subst_attr,
                colloc_attr=colloc_attr, within_sentence=within_sentence,
                relation_types=relation_types):
            return serve_sketch_cached(
                searcher, head, catalog, head_pos=head_pos,
                colloc_attr=colloc_attr,
                limit_per_relation=limit_per_relation,
                min_logdice=min_logdice, round_dp=round_dp,
                relation_types=relation_types)
    out = []
    for rel in catalog.pattern_relations(relation_types, head_pos):
        out += relation_collocates(
            searcher, head, rel, subst_attr=subst_attr,
            colloc_attr=colloc_attr, min_logdice=min_logdice,
            limit=limit_per_relation, round_dp=round_dp,
            max_terms_per_slot=max_terms_per_slot,
            within_sentence=within_sentence)
    return out
