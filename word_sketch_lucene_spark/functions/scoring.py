"""Scoring expressions: BM25 (Lucene-style), logDice, and the one
DataFrame collocate ranking tail.

Reference parity:
- logDice:  ``log2(2·f(AB)/(f(A)+f(B))) + 14``, clamped to ≥0, errors on
  nonpositive f(A)/f(B) — mirrors ``utils/LogDiceUtils.java:21-55``.
- relativeFrequency: ``f(AB)/f(A)`` — ``LogDiceUtils.java:51-55``.
- BM25: the Lucene default similarity underlying BlackLab search
  (``pom.xml:18,39-48``): ``idf = ln(1 + (N-df+0.5)/(df+0.5))``,
  ``tfn = tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl))`` with k1=1.2, b=0.75.

The ``*_expr`` functions are plain Catalyst column expressions — they
run inside whole-stage codegen, never in Python; each ``*_py`` twin is
the same arithmetic for the driver-side kernels.
:func:`score_ranked_collocates` is the reference's
``CollocateQueryHelper`` ranking (``java:189-270``) as one plan tail,
shared by every DataFrame collocate list.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

K1 = 1.2
B = 0.75
LN2 = math.log(2.0)


# ---------------------------------------------------------------- BM25
def idf_expr(df_col: Column, n_docs: Column | int) -> Column:
    """Lucene BM25 idf: ``ln(1 + (N - df + 0.5)/(df + 0.5))``."""
    n = F.lit(n_docs) if isinstance(n_docs, (int, float)) else n_docs
    return F.log(F.lit(1.0) + (n - df_col + F.lit(0.5)) / (df_col + F.lit(0.5)))


def bm25_tf_expr(tf_col: Column, dl_col: Column, avgdl: Column | float,
                 k1: float = K1, b: float = B) -> Column:
    """BM25 tf normalization ``tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl))``."""
    a = F.lit(avgdl) if isinstance(avgdl, (int, float)) else avgdl
    return (tf_col * F.lit(k1 + 1.0)) / (
        tf_col + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl_col / a)
    )


def bm25_term_score_expr(tf_col: Column, df_col: Column, dl_col: Column,
                         n_docs: Column | int, avgdl: Column | float,
                         k1: float = K1, b: float = B) -> Column:
    """Per-(term, doc) BM25 contribution; sum over query terms = doc score."""
    return idf_expr(df_col, n_docs) * bm25_tf_expr(tf_col, dl_col, avgdl, k1, b)


def bm25_score_py(tf: float, df: float, dl: float, n_docs: float, avgdl: float,
                  k1: float = K1, b: float = B) -> float:
    """Pure-Python twin of :func:`bm25_term_score_expr` (oracle/kernel use)."""
    idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
    tfn = tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
    return idf * tfn


def bm25_upper_bound_py(df: float, n_docs: float, k1: float = K1) -> float:
    """Max possible BM25 contribution of a term: ``idf·(k1+1)`` (tf→∞).

    The block-max analog of the reference's logDice upper-bound prune
    (``CollocateQueryHelper.java:232-247``); per-block bounds tighten
    this with the block's actual max tf (see ``index/segments.py``).
    """
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (k1 + 1.0)


# -------------------------------------------------- association scores
def logdice_expr(fab: Column, fa: Column, fb: Column) -> Column:
    """logDice with the reference's clamp semantics (``LogDiceUtils.java:21-42``).

    Callers must guarantee fa, fb > 0 (true by construction when they
    come from the term-stats aggregate over the same corpus).
    """
    dice = F.lit(2.0) * fab / (fa + fb)
    raw = F.log(dice) / F.lit(LN2) + F.lit(14.0)
    return F.when(dice <= 0, F.lit(0.0)).otherwise(F.greatest(F.lit(0.0), raw))


def logdice_py(fab: float, fa: float, fb: float) -> float:
    """Driver-side twin, incl. the reference's nonpositive-input error."""
    if fa <= 0 or fb <= 0:
        raise ValueError(
            f"logDice requires positive headwordFreq and collocateTotal; "
            f"got headwordFreq={fa}, collocateTotal={fb}")
    dice = 2.0 * fab / (fa + fb)
    if dice <= 0:
        return 0.0
    return max(0.0, math.log(dice) / LN2 + 14.0)


def rel_freq_expr(fab: Column, fa: Column) -> Column:
    """relativeFrequency ``f(AB)/f(A)`` (``LogDiceUtils.java:51-55``)."""
    return F.when(fa <= 0, F.lit(0.0)).otherwise(fab / fa)


def score_ranked_collocates(
    grouped: DataFrame,
    term_stats: DataFrame,
    head: str,
    limit_per_relation: int = 10,
    min_logdice: float = 0.0,
    round_dp: int | None = None,
) -> DataFrame:
    """The ranking tail of every DataFrame collocate list:
    ``([relation,] colloc_term, pair_freq)`` counts + the ``(term, cf)``
    dictionary → f(A)/f(B), logDice and rel_freq, the min-score filter
    on the UNROUNDED score, rounding, then the (logdice desc,
    colloc_term asc) top-k — per ``relation`` when ``grouped`` has that
    column (one ``row_number`` window), else one ``orderBy().limit()``
    (``TakeOrderedAndProject``, a bounded heap).

    ``term_stats`` is NOT broadcast-hinted: at web scale the vocabulary
    is O(10⁸⁺) rows and a forced broadcast OOMs the driver. The grouped
    collocate set is the small side; AQE broadcasts it (or the stats
    side when genuinely small) at runtime. Only the 1-row ``head_cf``
    probe carries a hint."""
    head_cf = term_stats.filter(F.col("term") == head).select(
        F.col("cf").alias("head_cf"))
    scored = (
        grouped.join(term_stats.select(
            F.col("term").alias("colloc_term"),
            F.col("cf").alias("colloc_cf")), "colloc_term")
        .crossJoin(F.broadcast(head_cf))
        .withColumn("logdice", logdice_expr(
            F.col("pair_freq").cast("double"),
            F.col("head_cf").cast("double"),
            F.col("colloc_cf").cast("double")))
        .withColumn("rel_freq", rel_freq_expr(
            F.col("pair_freq").cast("double"),
            F.col("head_cf").cast("double")))
        .filter(F.col("logdice") >= F.lit(min_logdice))
    )
    if round_dp is not None:
        scored = scored.withColumn("logdice", F.round("logdice", round_dp)) \
                       .withColumn("rel_freq", F.round("rel_freq", round_dp))
    order = (F.desc("logdice"), F.asc("colloc_term"))
    cols = ["colloc_term", "pair_freq", "logdice", "rel_freq"]
    if "relation" not in grouped.columns:
        return scored.select(*cols).orderBy(*order).limit(limit_per_relation)
    w = Window.partitionBy("relation").orderBy(*order)
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= limit_per_relation)
        .select("relation", *cols)
    )
