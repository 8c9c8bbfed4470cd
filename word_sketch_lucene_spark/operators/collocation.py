"""Collocation sketches: grouped pair aggregation + logDice ranking.

Reference parity — the flagship query path (SURVEY §3.1):
- A1 group-by collocate identity (``CollocateQueryHelper.java:201-205``)
- A3 corpus term-frequency aggregate (``:121-136``)
- A4 logDice + rank + top-k (``LogDiceUtils.java:21-55``, ranking
  ``CollocateQueryHelper.java:226-270``) — one tail for every
  DataFrame collocate list, ``functions.scoring.score_ranked_collocates``
- A5's upper-bound prune becomes moot: the stats lookup is ONE
  broadcast hash join instead of per-collocate fetches, so there is
  nothing lazy to skip (SURVEY §4.1).
- A6 per-relation totals (``SketchHandlers.java:134-135``)
- The precomputed collocation store (``collocations.bin``, 700 MB @
  74 M sentences, ``CLAUDE.md:190-196``) is :func:`pair_counts`
  written to parquet — a materialized aggregate, Spark's native
  strength.

Scale notes: the pair table is the window join of ``proximity.py``
(bounded per-doc fan-out). The groupBy keys are (head, collocate)
pairs — far better spread than raw head terms; map-side partial
aggregation collapses hot pairs before the shuffle. The ``term_stats``
join carries no broadcast hint (only the 1-row head probe does); AQE
picks the small side at runtime.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scoring import score_ranked_collocates
from .proximity import window_pairs


def pair_counts(
    tokens: DataFrame,
    min_gap: int = 1,
    max_gap: int = 5,
    ordered: bool = True,
) -> DataFrame:
    """``(head_term, colloc_term, pair_freq)`` — the materialized
    collocation store (the ``collocations.bin`` analog)."""
    return (
        window_pairs(tokens, min_gap, max_gap, ordered)
        .groupBy("head_term", "colloc_term")
        .agg(F.count("*").alias("pair_freq"))
    )


def collocates_for_head(
    tokens: DataFrame,
    term_stats: DataFrame,
    head_term: str,
    min_gap: int = 1,
    max_gap: int = 5,
    ordered: bool = False,
    min_logdice: float = 0.0,
    limit: int = 20,
    colloc_filter: Column | None = None,
    round_dp: int | None = None,
) -> DataFrame:
    """Ranked collocates of one headword — the reference's
    ``GET /api/sketch/{lemma}`` per-relation core.

    Plan: window join (head side pre-filtered to the one term — the
    selective predicate reaches the token scan) → groupBy collocate →
    the shared ranking tail (``functions.scoring.score_ranked_collocates``:
    term stats for f(A), f(B) → logDice → min-score filter (P6) →
    top-k, W1 ``TakeOrderedAndProject``).

    Returns ``(colloc_term, pair_freq, logdice, rel_freq)``.
    """
    pairs = window_pairs(
        tokens, min_gap, max_gap, ordered,
        head_filter=F.col("head_term") == head_term,
        colloc_filter=colloc_filter,
    )
    grouped = pairs.groupBy("colloc_term").agg(F.count("*").alias("pair_freq"))
    return score_ranked_collocates(grouped, term_stats, head_term,
                                   limit_per_relation=limit,
                                   min_logdice=min_logdice,
                                   round_dp=round_dp)


def relation_totals(collocates: DataFrame) -> DataFrame:
    """A6: total matches of a relation = Σ pair_freq
    (``SketchHandlers.java:134-135,324``)."""
    return collocates.agg(F.sum("pair_freq").alias("total_matches"))
