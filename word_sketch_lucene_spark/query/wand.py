"""Block-max WAND top-k kernel over compressed segment blocks.

Reference parity: generalizes the reference's score upper-bound prune —
it skips the expensive corpus-frequency fetch whenever
``logDice_max = compute(j, h, j) < minLogDice``
(``CollocateQueryHelper.java:232-247``) — into document-at-a-time
block-max WAND (Ding & Suel 2011, public literature): per-block
``max_score`` metadata lets whole 128-posting blocks be bypassed
*without decompression* when their combined bound cannot beat the
current k-th score.

Correctness notes (SURVEY §4.4 hard parts):
- Tie-break ``(score desc, doc_id asc)`` falls out of DAAT order:
  candidates arrive in ascending doc_id, the heap only admits strict
  ``score > θ`` improvements, so an equal-score later doc never
  displaces an earlier one. Pruning at ``bound ≤ θ`` is therefore
  rank-exact, not just score-exact.
- ``idf`` is computed once per term with ``math.log`` (scalar libm) and
  per-term contributions are summed in query-term order — bit-identical
  to the :class:`~.bm25.BM25Oracle`.
- Salted builds split a term's postings across segments with disjoint
  doc sets; each (term, segment) list is an independent cursor. Bounds
  stay safe (each cursor's bound is its own max), scores stay exact.
  Within one cursor the blocks must be one doc-ordered run: a cursor
  rejects blocks whose doc ranges overlap, which seek and next would
  otherwise skip postings of.
"""

from __future__ import annotations

import heapq
import math

import numpy as np

from ..functions.codec import vbyte_decode

INF = float("inf")
NO_DOC = 1 << 62


class BlockCursor:
    """Doc-ordered cursor over one (term, segment) list of encoded blocks
    (one run: block doc ranges disjoint, else ``ValueError``).

    Blocks decode lazily: :meth:`seek` skips whole blocks using only
    ``(first_doc, last_doc)`` metadata; ``max_score`` bounds come from
    block metadata without decoding; a decoded block gathers its docs'
    lengths from ``norms``, the ``doc_lens`` store (:func:`doc_lengths`).
    """

    __slots__ = (
        "term_idx", "idf", "k1", "b", "avgdl", "norms", "first_docs",
        "last_docs", "max_scores", "docs_vb", "tfs_vb", "nblocks", "bi",
        "i", "docs", "scores", "global_ub", "decoded_blocks",
    )

    def __init__(self, blocks: list[dict], term_idx: int, idf: float,
                 k1: float, b: float, avgdl: float, norms: tuple):
        blocks = sorted(blocks, key=lambda r: r["first_doc"])
        self.term_idx = term_idx
        self.idf = idf
        self.k1, self.b, self.avgdl, self.norms = k1, b, avgdl, norms
        self.first_docs = np.array([r["first_doc"] for r in blocks], dtype=np.int64)
        self.last_docs = np.array([r["last_doc"] for r in blocks], dtype=np.int64)
        bad = np.flatnonzero(self.last_docs[:-1] >= self.first_docs[1:])
        if bad.size:
            i = int(bad[0])
            raise ValueError(
                f"posting blocks of one (term, seg_part) overlap in doc "
                f"range: [{self.first_docs[i]}, {self.last_docs[i]}] and "
                f"[{self.first_docs[i + 1]}, {self.last_docs[i + 1]}] — "
                f"the index is inconsistent; rebuild it with build_index "
                f"/ build_conllu_index")
        # safe per-block bound from impact metadata: BM25's tf-norm is
        # monotone ↑tf, ↓dl ⇒ idf·tfn(max_tf, min_dl) dominates the block
        mtf = np.array([r["max_tf"] for r in blocks], dtype=np.float64)
        mdl = np.array([r["min_dl"] for r in blocks], dtype=np.float64)
        self.max_scores = idf * (mtf * (k1 + 1.0)) / (
            mtf + k1 * (1.0 - b + b * mdl / avgdl))
        self.docs_vb = [r["docs_vb"] for r in blocks]
        self.tfs_vb = [r["tfs_vb"] for r in blocks]
        self.nblocks = len(blocks)
        self.global_ub = float(self.max_scores.max()) if self.nblocks else 0.0
        self.decoded_blocks = 0
        self.bi = 0
        self.i = -1
        self.docs = None
        self.scores = None
        self._decode_and_position(0, 0)

    # -- block decode ---------------------------------------------------
    def _decode_and_position(self, bi: int, i: int) -> None:
        if bi >= self.nblocks:
            self.bi, self.docs, self.scores, self.i = self.nblocks, None, None, 0
            return
        self.bi = bi
        gaps = vbyte_decode(self.docs_vb[bi]).astype(np.int64)
        docs = np.cumsum(gaps) + self.first_docs[bi]
        tfs = vbyte_decode(self.tfs_vb[bi]).astype(np.float64)
        dls = doc_lengths(self.norms, docs).astype(np.float64)
        tfn = (tfs * (self.k1 + 1.0)) / (
            tfs + self.k1 * (1.0 - self.b + self.b * dls / self.avgdl))
        self.docs = docs
        self.scores = self.idf * tfn
        self.i = i
        self.decoded_blocks += 1

    # -- cursor API -------------------------------------------------------
    def doc(self) -> int:
        if self.docs is None:
            return NO_DOC
        return int(self.docs[self.i])

    def score(self) -> float:
        return float(self.scores[self.i])

    def next(self) -> None:
        if self.docs is None:
            return
        self.i += 1
        if self.i >= self.docs.size:
            self._decode_and_position(self.bi + 1, 0)

    def seek(self, target: int) -> None:
        """Advance to the first posting with doc >= target (block-skipping)."""
        if self.docs is None:
            return
        if self.doc() >= target:
            return
        bi = self.bi
        if self.last_docs[bi] < target:
            # binary search over undecoded block metadata
            bi = int(np.searchsorted(self.last_docs, target, side="left"))
            if bi >= self.nblocks:
                self._decode_and_position(self.nblocks, 0)
                return
            self._decode_and_position(bi, 0)
        self.i = int(np.searchsorted(self.docs, target, side="left"))
        if self.i >= self.docs.size:
            self._decode_and_position(self.bi + 1, 0)

    # -- block-max probes (no decode) -------------------------------------
    def _block_for(self, d: int) -> int:
        """Index of first block with last_doc >= d (metadata only)."""
        bi = self.bi
        if bi < self.nblocks and self.last_docs[bi] >= d:
            return bi
        return int(np.searchsorted(self.last_docs, d, side="left"))

    def block_max(self, d: int) -> float:
        bi = self._block_for(d)
        if bi >= self.nblocks:
            return 0.0
        return float(self.max_scores[bi])

    def block_last(self, d: int) -> int:
        bi = self._block_for(d)
        if bi >= self.nblocks:
            return NO_DOC
        return int(self.last_docs[bi])


def doc_lengths(norms: tuple, docs: np.ndarray) -> np.ndarray:
    """Lengths of ``docs`` from ``norms`` = ``(docs, dls)`` (every doc
    id, sorted, and its length) by one ``searchsorted``; a doc the norms
    lack raises ``ValueError`` rather than scoring with length 0."""
    all_docs, all_dls = norms
    idx = np.searchsorted(all_docs, docs)
    ok = idx < all_docs.size
    ok[ok] = all_docs[idx[ok]] == docs[ok]
    if not ok.all():
        raise ValueError(
            f"doc {int(docs[~ok][0])} has postings but no doc_lens row "
            f"— the index is inconsistent; rebuild it with build_index "
            f"/ build_conllu_index")
    return all_dls[idx]


def _score_aligned(cursors: list[BlockCursor], d: int, n_terms: int) -> float:
    """Exact score of doc d: per-term contributions summed in term order."""
    contribs = [0.0] * n_terms
    for c in cursors:
        if c.doc() == d:
            contribs[c.term_idx] += c.score()
    s = 0.0
    for v in contribs:
        s += v
    return s


def block_max_wand(
    cursors: list[BlockCursor], k: int, n_terms: int, use_block_max: bool = True
) -> tuple[list[tuple[int, float]], dict]:
    """Top-k (doc_id, score) via (block-max) WAND.

    ``use_block_max=False`` degrades to plain WAND pivoting on global
    per-list bounds — used in tests to validate that block-max pruning
    changes nothing but the number of decoded blocks.
    """
    heap: list[tuple[float, int]] = []  # min-heap of (score, -doc)
    theta = -INF

    def push(d: int, s: float) -> None:
        nonlocal theta
        if len(heap) < k:
            heapq.heappush(heap, (s, -d))
            if len(heap) == k:
                theta = heap[0][0]
        elif s > theta:
            heapq.heapreplace(heap, (s, -d))
            theta = heap[0][0]

    live = [c for c in cursors if c.doc() < NO_DOC]
    while True:
        live = [c for c in live if c.doc() < NO_DOC]
        if not live:
            break
        live.sort(key=lambda c: c.doc())
        # pivot: first prefix whose summed global bounds can beat theta
        acc = 0.0
        pivot = -1
        for i, c in enumerate(live):
            acc += c.global_ub
            if acc > theta:
                pivot = i
                break
        if pivot == -1:
            break  # nothing can enter the heap anymore
        pivot_doc = live[pivot].doc()
        # extend pivot to all cursors already at pivot_doc
        while pivot + 1 < len(live) and live[pivot + 1].doc() == pivot_doc:
            pivot += 1

        if use_block_max:
            ub = 0.0
            for c in live[: pivot + 1]:
                ub += c.block_max(pivot_doc)
            if ub <= theta and theta > -INF:
                # skip: smallest block boundary among pivot prefix
                d = min(c.block_last(pivot_doc) for c in live[: pivot + 1]) + 1
                if pivot + 1 < len(live):
                    d = min(d, live[pivot + 1].doc())
                d = max(d, pivot_doc + 1)
                for c in live[: pivot + 1]:
                    if c.doc() < d:
                        c.seek(d)
                continue

        if live[0].doc() == pivot_doc:
            s = _score_aligned(live, pivot_doc, n_terms)
            push(pivot_doc, s)
            for c in live:
                if c.doc() == pivot_doc:
                    c.next()
        else:
            # advance the earliest cursor(s) up to the pivot
            for c in live[:pivot]:
                if c.doc() < pivot_doc:
                    c.seek(pivot_doc)
                    break

    out = sorted(((-nd, s) for s, nd in heap), key=lambda x: (-x[1], x[0]))
    stats = {
        "decoded_blocks": sum(c.decoded_blocks for c in cursors),
        "total_blocks": sum(c.nblocks for c in cursors),
    }
    return out, stats


def exact_daat(cursors: list[BlockCursor], k: int, n_terms: int
               ) -> tuple[list[tuple[int, float]], dict]:
    """Non-pruned document-at-a-time union scoring (validation path)."""
    heap: list[tuple[float, int]] = []
    while True:
        d = min((c.doc() for c in cursors), default=NO_DOC)
        if d >= NO_DOC:
            break
        s = _score_aligned(cursors, d, n_terms)
        if len(heap) < k:
            heapq.heappush(heap, (s, -d))
        elif s > heap[0][0]:
            heapq.heapreplace(heap, (s, -d))
        for c in cursors:
            if c.doc() == d:
                c.next()
    out = sorted(((-nd, s) for s, nd in heap), key=lambda x: (-x[1], x[0]))
    stats = {
        "decoded_blocks": sum(c.decoded_blocks for c in cursors),
        "total_blocks": sum(c.nblocks for c in cursors),
    }
    return out, stats


def idf_py(df: int, n_docs: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def _decode_all(cursor: BlockCursor) -> tuple[np.ndarray, np.ndarray]:
    """Decode every block of a fresh cursor → (docs, scores) arrays."""
    docs_parts, score_parts = [], []
    while cursor.docs is not None:
        docs_parts.append(cursor.docs[cursor.i:])
        score_parts.append(cursor.scores[cursor.i:])
        cursor._decode_and_position(cursor.bi + 1, 0)
    if not docs_parts:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    return np.concatenate(docs_parts), np.concatenate(score_parts)


def topk_from_arrays(term_arrays: list[tuple[int, np.ndarray, np.ndarray]],
                     k: int) -> list[tuple[int, float]]:
    """Exhaustive union top-k from per-term (term_idx, docs, scores) arrays.

    Accumulation is term-major in ascending term_idx — the same FP
    order as the oracle. Boundary-score selection keeps every doc tied
    at the k-th score so the (score desc, doc asc) tie-break is exact.
    """
    if not term_arrays:
        return []
    union = np.unique(np.concatenate([d for _, d, _ in term_arrays]))
    if union.size == 0:
        return []
    acc = np.zeros(union.size, dtype=np.float64)
    for _, docs, scores in sorted(term_arrays, key=lambda x: x[0]):
        if docs.size:
            acc[np.searchsorted(union, docs)] += scores
    kk = min(k, union.size)
    if union.size > kk:
        boundary = -np.partition(-acc, kk - 1)[kk - 1]
        cand = np.flatnonzero(acc >= boundary)
    else:
        cand = np.arange(union.size)
    order = cand[np.lexsort((union[cand], -acc[cand]))][:kk]
    return [(int(union[i]), float(acc[i])) for i in order]
