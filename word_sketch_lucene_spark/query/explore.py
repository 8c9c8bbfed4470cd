"""Index-served semantic-field exploration (V5–V7, A7–A11, SO1–SO2).

The reference serves exploration FROM THE INDEX: ``SingleSeedExplorer``
drives ``CollocateQueryHelper`` span searches per phase
(``exploration/SingleSeedExplorer.java:63-107``,
``MultiSeedExplorer.java:80-200``). This module is that serving path
over the engine's own artifacts:

- window collocates of a head = the head's flat ``(doc, pos)``
  postings (``IndexSearcher._positions``) + ONE gather from the term
  FORWARD arrays at every window position (the stored-hit-text model
  the reference groups hits with), counted with one ``np.unique``;
- collection frequencies = the term dictionary (``layer_cf``), ranked
  by the sketch tier's shared tail (``query.sketch.rank_collocates``);
- the cross-seed aggregates (shared counts, profiles, core collocates)
  run in plain Python over the per-seed lists — they are
  O(seeds × limit) rows, never corpus-sized.

Every aggregate uses the SAME engine-stable arithmetic as the
DataFrame twins in :mod:`..operators.exploration` (scaled-integer
half-up division), so pytest pins row identity between the two paths.
"""

from __future__ import annotations

import math
from collections import Counter

from ..functions.scoring import logdice_py
from .sketch import collocate_counts, rank_collocates


def index_collocates_for_head(
    searcher,
    head_term: str,
    min_gap: int = 1,
    max_gap: int = 5,
    ordered: bool = False,
    min_logdice: float = 0.0,
    limit: int = 20,
    round_dp: int | None = None,
) -> list[tuple[str, int, float, float]]:
    """Ranked window collocates of one head, fully index-side —
    ``[(colloc_term, pair_freq, logdice, rel_freq)]``, identical
    counting to ``operators.collocation.collocates_for_head`` (every
    (head-occurrence, window-token) pair counts once).

    Plan: one pruned postings fetch for the head's positions, one
    forward-array gather at every window position (per-doc arrays
    cached — the analog of the reference reading stored hit text
    around each hit), dictionary lookups for f(A)/f(B). No corpus
    scan.
    """
    import numpy as np

    doc, pos = searcher._positions([head_term])[head_term]
    if ordered:
        offsets = np.arange(min_gap, max_gap + 1)
    else:
        offsets = np.array([o for o in range(-max_gap, max_gap + 1)
                            if abs(o) >= min_gap], dtype=np.int64)
    counts = collocate_counts(searcher, np.repeat(doc, offsets.size),
                              (pos[:, None] + offsets).ravel(), "term")
    return rank_collocates(searcher, "term", head_term, counts,
                           min_logdice, limit, round_dp)


def index_seed_collocates(
    searcher,
    seeds: list[str],
    min_logdice: float = 0.0,
    limit_per_seed: int = 50,
    **window_kw,
) -> list[tuple[str, str, int, float, float]]:
    """Per-seed ranked collocates, concatenated (SO2):
    ``[(seed, colloc_term, pair_freq, logdice, rel_freq)]`` — the
    serving twin of ``operators.exploration.seed_collocates``."""
    out = []
    for s in seeds:
        for row in index_collocates_for_head(
                searcher, s, min_logdice=min_logdice,
                limit=limit_per_seed, **window_kw):
            out.append((s, *row))
    return out


def _half_up_div(num: int, den: int) -> int:
    """Exact half-up integer division — the ``(2a + b) div 2b`` trick
    both engines use for engine-stable averages."""
    return (2 * num + den) // (2 * den)


def index_common_collocates(per_seed, min_shared: int = 2,
                            round_dp: int | None = None
                            ) -> list[tuple[str, int, int, float, float, float]]:
    """SO1/A8 + A7 over per-seed rows: ``[(colloc_term, shared_by,
    total_freq, max_logdice, avg_logdice, sum_logdice)]`` — exact
    scaled-integer arithmetic matching
    ``operators.exploration.common_collocates(round_dp=…)``."""
    scale = 10 ** (round_dp if round_dp is not None else 0)
    by_term: dict[str, list] = {}
    for seed, term, freq, ld, _rf in per_seed:
        by_term.setdefault(term, []).append((seed, freq, round(ld * scale)))
    out = []
    for term, rows in by_term.items():
        shared_by = len({s for s, _, _ in rows})
        if shared_by < min_shared:
            continue
        total = sum(f for _, f, _ in rows)
        lds = [ld for _, _, ld in rows]
        if round_dp is None:
            out.append((term, shared_by, total, max(lds),
                        sum(lds) / len(lds), sum(lds)))
        else:
            out.append((
                term, shared_by, total,
                max(lds) / scale,
                _half_up_div(sum(lds), len(lds)) / scale,
                sum(lds) / scale,
            ))
    return sorted(out)


def index_profile_stats(per_seed, n_seeds: int,
                        round_dp: int | None = None
                        ) -> list[tuple]:
    """A9 profile statistics
    (``CollocateProfileComparator.java:103-151``): ``[(colloc_term,
    present_in, avg_logdice, max_logdice, min_logdice, var_logdice,
    commonality, distinctiveness)]`` — exact integer sums/variance
    matching ``operators.exploration.profile_stats(round_dp=…)``."""
    assert round_dp is not None, "serving path uses the stable contract"
    scale = 10 ** round_dp
    by_term: dict[str, list] = {}
    for seed, term, _freq, ld, _rf in per_seed:
        by_term.setdefault(term, []).append((seed, round(ld * scale)))
    out = []
    for term, rows in by_term.items():
        present = len({s for s, _ in rows})
        lds = [ld for _, ld in rows]
        n = len(lds)
        s1, s2 = sum(lds), sum(x * x for x in lds)
        avg = _half_up_div(s1, n) / scale
        # vr = (n·Σx² − (Σx)²) / n² at `scale` precision, half-up
        var = ((2 * (s2 * n - s1 * s1) + n * n * scale)
               // (2 * n * n * scale)) / scale
        commonality = round(present * avg, round_dp)
        distinct = round(
            (max(lds) / scale) * (1.0 - present / float(n_seeds))
            + math.sqrt(var), round_dp)
        out.append((term, present, avg, max(lds) / scale, min(lds) / scale,
                    var, commonality, distinct))
    return sorted(out)


def index_core_collocates(per_seed, n_nouns: int,
                          round_dp: int | None = None
                          ) -> list[tuple[str, int, float]]:
    """A10 core collocates (shared by ≥ max(2, ceil(n/3)) seeds),
    ranked (shared_by desc, avg_logdice desc, term) —
    ``operators.exploration.core_collocates`` twin."""
    threshold = max(2, -(-n_nouns // 3))
    scale = 10 ** (round_dp if round_dp is not None else 0)
    by_term: dict[str, list] = {}
    for seed, term, _freq, ld, _rf in per_seed:
        by_term.setdefault(term, []).append((seed, round(ld * scale)))
    out = []
    for term, rows in by_term.items():
        shared_by = len({s for s, _ in rows})
        if shared_by < threshold:
            continue
        lds = [ld for _, ld in rows]
        avg = (_half_up_div(sum(lds), len(lds)) / scale
               if round_dp is not None else sum(lds) / len(lds))
        out.append((term, shared_by, avg))
    out.sort(key=lambda r: (-r[1], -r[2], r[0]))
    return out


def index_explore_single_seed(
    searcher,
    seed: str,
    top: int = 10,
    min_logdice: float = 0.0,
    min_shared: int = 2,
    nouns_per_collocate: int = 30,
    round_dp: int = 4,
    **window_kw,
) -> dict:
    """V5 4-phase single-seed exploration served from the index
    (``SingleSeedExplorer.java:63-107``): (1) the seed's top
    collocates, (2) nouns discovered via the REVERSE stored-hit loop —
    for each shared collocate, the window tokens around ITS hits are
    the candidate nouns (exactly the pair table the DataFrame path
    builds, read from the other side), (3) ranked discovered nouns
    (A11 sum/avg of shared-collocate scores), (4) core collocates
    among the discovered nouns (A10).

    Returns ``{"seed_collocates": […], "discovered_nouns": […],
    "core_collocates": […]}``.
    """
    seed_top = index_collocates_for_head(
        searcher, seed, min_logdice=min_logdice, limit=top,
        round_dp=round_dp, **window_kw)
    shared = [t for t, _, _, _ in seed_top]
    # phase 2: candidate (noun, collocate, pair_freq) counts via the
    # collocates-of-the-collocate window (symmetric window ⇒ the same
    # pair multiset as the DataFrame path's reverse join)
    cand: Counter[tuple[str, str]] = Counter()
    for c in shared:
        for noun, fab, _ld, _rf in index_collocates_for_head(
                searcher, c, min_logdice=0.0, limit=10 ** 9,
                round_dp=None, **window_kw):
            if noun != seed:
                cand[(noun, c)] += fab
    if not cand:
        return {"seed_collocates": seed_top, "discovered_nouns": [],
                "core_collocates": []}
    cf = searcher.layer_cf(
        "term", sorted({n for n, _ in cand} | set(shared)))
    scale = 10 ** round_dp
    # A11: per-noun sum/avg of shared-collocate logdice
    per_noun: dict[str, list[int]] = {}
    for (noun, c), fab in cand.items():
        fa, fb = cf.get(noun), cf.get(c)
        if not fa or not fb:
            continue
        ld = round(logdice_py(fab, fa, fb) * scale)
        per_noun.setdefault(noun, []).append(ld)
    nouns = []
    for noun, lds in per_noun.items():
        if len(lds) < min_shared:
            continue
        nouns.append((noun, sum(lds) / scale, len(lds),
                      _half_up_div(sum(lds), len(lds)) / scale))
    nouns.sort(key=lambda r: (-r[1], r[0]))
    nouns = nouns[:nouns_per_collocate]
    keep = {n for n, _, _, _ in nouns}
    core_rows = [(noun, c, fab) for (noun, c), fab in cand.items()
                 if noun in keep]
    per_seed_shape = []
    for noun, c, fab in core_rows:
        fa, fb = cf.get(noun), cf.get(c)
        if not fa or not fb:
            continue
        per_seed_shape.append(
            (noun, c, fab, logdice_py(fab, fa, fb), 0.0))
    core = index_core_collocates(per_seed_shape,
                                 n_nouns=nouns_per_collocate)
    return {"seed_collocates": seed_top, "discovered_nouns": nouns,
            "core_collocates": core}
