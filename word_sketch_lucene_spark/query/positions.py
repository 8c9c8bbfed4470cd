"""The flat position kernel every in-driver position consumer runs on.

A position set — one term's postings, one test's matches, one
constraint slot — is two parallel int64 arrays ``(doc, pos)`` sorted
by ``(doc, pos)``: built straight from a block's decoded positions
(``codec.positions_flat``) and ``np.repeat(docs, tfs)``, never a
per-doc dict. The operations are whole-set numpy passes:

- :func:`union`, :func:`combine`: a test over several dictionary
  values, and the cross-layer AND / NOT of one slot, as one sorted-key
  union, intersect or difference;
- :func:`window`: the gap-window step of a pattern chain, a phrase or
  a slop window, as ONE ``searchsorted`` range query over every
  partial match at once (the Lucene ``SpanNear`` analog);
- :func:`chain`: a constraint sequence, complement (negation-only)
  slots included;
- :func:`take`, :func:`same_sentence`: a forward-layer value
  (``sent_no``, ``head``, the collocate lemma) gathered at many
  ``(doc, pos)`` by flat offset.

Set operations compare one int64 key per position,
``rank << 32 | pos``, where ``rank`` is the doc's index in a sorted doc
list built for the operation (:func:`keyed`) — never ``doc << 32``,
which overflows for doc ids ≥ 2³¹. Keys sort like ``(doc, pos)``, and a
window ``[pos + lo, pos + hi]`` never reaches another doc's keys while
positions stay below ``2³² − hi``.
"""

from __future__ import annotations

import numpy as np

EMPTY = np.empty(0, dtype=np.int64)
NONE = (EMPTY, EMPTY)
POS = np.int64(0xFFFFFFFF)  # a key's position bits


def doc_set(doc: np.ndarray) -> np.ndarray:
    """Sorted distinct docs of a ``doc`` array sorted ascending."""
    if doc.size == 0:
        return EMPTY
    return doc[np.concatenate(([True], doc[1:] != doc[:-1]))]


def common_docs(flats: list) -> np.ndarray:
    """Sorted distinct docs holding positions in every set of
    ``flats``."""
    docs = doc_set(flats[0][0])
    for doc, _ in flats[1:]:
        docs = docs[member(docs, doc)]
    return docs


def member(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Mask of the ``a`` values present in ``b`` (sorted)."""
    if b.size == 0:
        return np.zeros(a.size, dtype=bool)
    i = np.minimum(np.searchsorted(b, a), b.size - 1)
    return b[i] == a


def keyed(flat, docs: np.ndarray) -> np.ndarray:
    """Sorted keys ``rank << 32 | pos`` of the positions of ``flat``
    whose doc is in ``docs`` (sorted distinct); rank = index in
    ``docs``. Each doc's positions are one contiguous run of ``flat``,
    so this costs O(|docs| log |flat| + keys out), not O(|flat|)."""
    doc, pos = flat
    left = np.searchsorted(doc, docs, side="left")
    rank, idx = ranges(left, np.searchsorted(doc, docs, side="right") - left)
    return rank << 32 | pos[idx]


def unkey(docs: np.ndarray, keys: np.ndarray):
    """``(doc, pos)`` of keys built over ``docs``."""
    return docs[keys >> 32], keys & POS


def union(flats: list):
    """One position set holding every position of ``flats`` (a single
    set is returned as is, not copied)."""
    flats = [f for f in flats if f[0].size]
    if len(flats) <= 1:
        return flats[0] if flats else NONE
    docs = np.unique(np.concatenate([d for d, _ in flats]))
    return unkey(docs, np.unique(np.concatenate(
        [keyed(f, docs) for f in flats])))


def combine(pos_flats: list, ban_flats: list):
    """The positions in every ``pos_flats`` set and in no
    ``ban_flats`` set — one slot's cross-layer AND and NOT."""
    docs = doc_set(pos_flats[0][0])
    keys = keyed(pos_flats[0], docs)
    for f in pos_flats[1:]:
        keys = keys[member(keys, keyed(f, docs))]
    for f in ban_flats:
        keys = keys[~member(keys, keyed(f, docs))]
    return unkey(docs, keys)


def ranges(starts: np.ndarray, counts: np.ndarray):
    """``(row, value)`` for every value ``starts[row] + j``,
    ``0 ≤ j < counts[row]``, rows in order."""
    row = np.repeat(np.arange(counts.size), counts)
    within = np.arange(row.size) - np.repeat(np.cumsum(counts) - counts,
                                             counts)
    return row, starts[row] + within


def window(prev: np.ndarray, nxt: np.ndarray, lo: int, hi: int):
    """``(row, value)`` for every key of ``nxt`` (sorted) inside
    ``[prev[row] + lo, prev[row] + hi]`` — one range query for all
    rows."""
    left = np.searchsorted(nxt, prev + lo, side="left")
    right = np.searchsorted(nxt, prev + hi, side="right")
    row, idx = ranges(left, right - left)
    return row, nxt[idx]


def chain(docs: np.ndarray, slots: list, windows: list,
          dls: np.ndarray | None = None) -> np.ndarray:
    """Every assignment of positions to a constraint sequence, as a
    key matrix (one row per match, one column per slot; rows distinct
    and sorted).

    ``docs``: the candidate docs (sorted distinct; keys rank into it).
    ``slots[i]``: ``(allowed, None)`` or, for a complement slot,
    ``(None, banned)`` — position sets. ``windows[i]``: ``(lo, hi)``
    offset of slot ``i`` from slot ``i − 1``. ``dls``: doc lengths
    aligned with ``docs``, needed by complement slots, which enumerate
    their window (the whole doc for a first slot) and drop banned
    positions and positions ≥ dl."""
    allowed, banned = slots[0]
    if allowed is None:
        row, pos = ranges(np.zeros(docs.size, dtype=np.int64), dls)
        keys = row << 32 | pos
        keys = keys[~member(keys, keyed(banned, docs))]
    else:
        keys = keyed(allowed, docs)
    mat = keys[:, None]
    for (lo, hi), (allowed, banned) in zip(windows[1:], slots[1:]):
        prev = mat[:, -1]
        if allowed is not None:
            row, nxt = window(prev, keyed(allowed, docs), lo, hi)
        else:
            last = dls[prev >> 32] - 1 - (prev & POS)
            row, nxt = ranges(prev + lo,
                              np.maximum(np.minimum(hi, last) - lo + 1, 0))
            keep = ~member(nxt, keyed(banned, docs))
            row, nxt = row[keep], nxt[keep]
        mat = np.column_stack([mat[row], nxt])
    return mat


def take(flat, rank: np.ndarray, pos: np.ndarray):
    """``(values, ok)``: the forward values at ``(rank, pos)`` where
    ``ok`` — the doc's array is long enough. ``flat``: ``(values,
    offsets, lengths)`` of per-doc arrays laid end to end in rank
    order."""
    values, off, lens = flat
    ok = (pos >= 0) & (pos < lens[rank])
    return values[off[rank[ok]] + pos[ok]], ok


def same_sentence(sent, rank: np.ndarray, a: np.ndarray, b: np.ndarray
                  ) -> np.ndarray:
    """Mask of the position pairs ``(rank, a[i])``, ``(rank, b[i])``
    lying in one sentence (``sent``: the flat ``sent_no`` arrays, as
    for :func:`take`). A doc without a stored array is a flat stream:
    its pairs are kept."""
    sa, ok = take(sent, rank, a)
    sb, _ = take(sent, rank, b)
    keep = ~ok
    keep[ok] = sa == sb
    return keep
