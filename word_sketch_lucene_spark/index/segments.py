"""Segment writer: sorted token rows → compressed, block-max posting blocks.

Reference parity: Lucene's positional inverted index with skip data and
per-block impacts is what BlackLab queries walk (``README.md:700-752``,
SpanQuery O(log N) seek + O(k) decode). This module reproduces that
layout as parquet rows, one row per ≤128-posting block, in two row
layouts — every store writes only what its readers read:

- scored term field (``segments``, :data:`SEGMENT_SCHEMA`):
  ``(term, seg_part, block_id, n, first_doc, last_doc, max_tf, sum_tf,
  min_dl, docs_vb, tfs_vb, pos_vb)``
- positions-only annotation layers (``layers``, :data:`LAYER_SCHEMA`;
  Lucene's ``omitNorms`` analog — nothing scores them):
  ``(term, seg_part, block_id, n, first_doc, last_doc, sum_tf,
  docs_vb, tfs_vb, pos_vb)``

Columns:

- ``docs_vb``: VByte(doc-id gaps; first gap relative to ``first_doc``)
  — the skip-pointer analog is (first_doc, last_doc) on every block row
  plus parquet row-group min/max pruning on ``term``.
- ``tfs_vb``: VByte(per-posting tf) — the one copy of each posting's
  frequency (Lucene ``.doc``); ``sum_tf`` feeds the cf statistics.
- ``(max_tf, min_dl)`` (term field only): block impact metadata. The
  query engine derives a safe BM25 upper bound ``idf(df) · tfn(max_tf,
  min_dl)`` per block (BM25's tf-normalization is monotone ↑ in tf and
  ↓ in dl, so the bound dominates every posting in the block) —
  block-max WAND's pruning key, generalizing the reference's logDice
  upper-bound prune (``CollocateQueryHelper.java:232-247``). Storing
  impacts instead of precomputed scores keeps the build independent of
  collection statistics: segments need NO df/avgdl join, so the
  critical path is tokenize → one shuffle → encode. Doc lengths are
  not repeated per posting: they live once per doc in ``doc_lens``
  (Lucene's norms, ``.nvd``); a token row's ``dl`` feeds ``min_dl``.
- ``pos_vb``: per-posting position lists as Δpos only (Lucene
  ``.pos``): each posting's first position is absolute, the rest are
  gaps, and the count is NOT repeated — a reader takes posting i's
  list length from ``tfs_vb`` (:func:`..functions.codec.positions_flat`).
  A separate column, so pure-BM25 scans never read it (column pruning).

Shuffle design (the scale-critical decision): the kernel consumes RAW
token rows ``(term, doc_id, pos[, dl])`` — ONE shuffle, hash-keyed by
``(term, pmod(hash(doc_id), salt))`` and sorted ``(term, doc_id, pos)``
— and performs the (term, doc)→(tf, positions) aggregation itself as a
numpy run-length pass. This replaces an earlier two-shuffle design
(``groupBy(term, doc).agg(collect_list(pos))`` then a repartition of
array-typed rows): shuffling flat int columns halves shuffle volume and
avoids JVM array materialization entirely.

Every term — single-block tail and hot multi-block heads alike — is
encoded by ONE VByte pass over the whole batch per stream, sliced into
per-block spans via vectorized byte-length prefix sums
(:func:`_emit_blocks` splits term runs into block-sized sub-runs with
pure index arithmetic first): no per-term or per-posting Python
anywhere. Under Zipf the hot terms carry most of the token volume, so
the former per-term loop over their posting lists dominated the whole
build kernel. A carry buffer holds the term spanning an Arrow-batch
boundary, so memory stays O(batch).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.codec import position_gaps, vbyte_encode, vbyte_lengths

BLOCK_SIZE = 128

_TYPES = {
    "term": "string", "seg_part": "int", "block_id": "int", "n": "int",
    "first_doc": "long", "last_doc": "long", "max_tf": "int",
    "sum_tf": "long", "min_dl": "int", "docs_vb": "binary",
    "tfs_vb": "binary", "pos_vb": "binary",
}
# BM25 impacts: written for the scored term field only
IMPACT_COLUMNS = ("max_tf", "min_dl")
SEGMENT_COLUMNS = list(_TYPES)
LAYER_COLUMNS = [c for c in SEGMENT_COLUMNS if c not in IMPACT_COLUMNS]
SEGMENT_SCHEMA = ", ".join(f"{c} {_TYPES[c]}" for c in SEGMENT_COLUMNS)
LAYER_SCHEMA = ", ".join(f"{c} {_TYPES[c]}" for c in LAYER_COLUMNS)

TOKEN_INPUT_COLUMNS = ["term", "doc_id", "pos", "dl"]
LAYER_INPUT_COLUMNS = ["term", "doc_id", "pos"]


def _aggregate_postings(terms: np.ndarray, docs: np.ndarray,
                        dls: np.ndarray | None):
    """Token rows (sorted by term, doc, pos) → per-posting arrays.

    Returns (p_terms, p_docs, p_tfs, p_dls); posting i's positions are
    the next ``p_tfs[i]`` values of the flat position stream —
    positions stay one flat array end to end. ``p_dls`` is None when
    ``dls`` is (positions-only layers).
    """
    n = terms.size
    change = np.flatnonzero(
        (terms[1:] != terms[:-1]) | (docs[1:] != docs[:-1])) + 1
    starts = np.concatenate([[0], change]).astype(np.int64)
    ends = np.concatenate([change, [n]]).astype(np.int64)
    return (terms[starts], docs[starts], (ends - starts),
            None if dls is None else dls[starts])


def _emit_blocks(
    p_terms: np.ndarray, p_docs: np.ndarray, p_tfs: np.ndarray,
    p_dls: np.ndarray | None, poss: np.ndarray,
    run_starts: np.ndarray, run_ends: np.ndarray, part_id: int,
    block_size: int,
) -> pd.DataFrame:
    """EVERY term's blocks in one vectorized pass: term runs split into
    block-sized sub-runs by pure index arithmetic, then the
    single-encode path (:func:`_emit_single_block_runs`) serves hot
    multi-block terms and the single-block tail alike. Under Zipf the
    hot terms carry most of the token volume — the old per-term python
    loop over their posting lists dominated the whole build kernel.

    Postings must be CONTIGUOUS (run_ends[i] == run_starts[i+1],
    covering [0, len)); ``poss`` is the flat position stream in
    posting order."""
    run_lens = run_ends - run_starts
    counts = -(-run_lens // block_size)  # ceil-div: blocks per term
    total = int(counts.sum())
    rep_starts = np.repeat(run_starts, counts)
    within = (np.arange(total)
              - np.repeat(np.cumsum(counts) - counts, counts))
    blk_starts = rep_starts + within * block_size
    blk_ends = np.minimum(blk_starts + block_size,
                          np.repeat(run_ends, counts))
    return _emit_single_block_runs(
        p_terms, p_docs, p_tfs, p_dls, poss, blk_starts, blk_ends,
        part_id, block_ids=within.astype(np.int32))


def _sliced_stream(values: np.ndarray, group_starts: np.ndarray) -> list[bytes]:
    """VByte-encode ``values`` ONCE; slice per group (vectorized spans)."""
    buf = vbyte_encode(values)
    lens = vbyte_lengths(values)
    group_bytes = (np.add.reduceat(lens, group_starts)
                   if values.size else np.array([], np.int64))
    offs = np.concatenate([[0], np.cumsum(group_bytes)]).astype(np.int64)
    return [buf[offs[i]:offs[i + 1]] for i in range(group_starts.size)]


def _emit_single_block_runs(
    p_terms: np.ndarray, p_docs: np.ndarray, p_tfs: np.ndarray,
    p_dls: np.ndarray | None, pos_sel: np.ndarray,
    run_starts: np.ndarray, run_ends: np.ndarray, part_id: int,
    block_ids: np.ndarray | None = None,
) -> pd.DataFrame:
    """Vectorized encoder for posting runs that each fit one block
    (``run_ends - run_starts ≤ block_size`` — a whole df ≤ 128 term, or
    one block-slice of a hot term with its ``block_ids`` entry).

    Posting-level arrays cover the runs contiguously; ``pos_sel`` is
    their concatenated flat position stream. ``p_dls`` None writes the
    positions-only layer layout (no impacts).
    """
    impacts = p_dls is not None
    n_runs = run_starts.size
    if n_runs == 0:
        return pd.DataFrame(
            columns=SEGMENT_COLUMNS if impacts else LAYER_COLUMNS)
    gaps = p_docs - np.concatenate([[0], p_docs[:-1]])
    gaps[run_starts] = 0
    pos_starts = np.cumsum(p_tfs) - p_tfs
    out = {
        "term": p_terms[run_starts],
        "seg_part": np.full(n_runs, part_id, dtype=np.int32),
        "block_id": (np.zeros(n_runs, dtype=np.int32)
                     if block_ids is None else block_ids),
        "n": (run_ends - run_starts).astype(np.int32),
        "first_doc": p_docs[run_starts].astype(np.int64),
        "last_doc": p_docs[run_ends - 1].astype(np.int64),
        "sum_tf": np.add.reduceat(p_tfs, run_starts).astype(np.int64),
        "docs_vb": _sliced_stream(gaps.astype(np.uint64), run_starts),
        "tfs_vb": _sliced_stream(p_tfs.astype(np.uint64), run_starts),
        # Δpos only: tf is not repeated in front of each list
        "pos_vb": _sliced_stream(position_gaps(pos_sel, p_tfs),
                                 pos_starts[run_starts]),
    }
    if impacts:
        out["max_tf"] = np.maximum.reduceat(p_tfs, run_starts).astype(
            np.int32)
        out["min_dl"] = np.minimum.reduceat(p_dls, run_starts).astype(
            np.int32)
    return pd.DataFrame(out)[SEGMENT_COLUMNS if impacts else LAYER_COLUMNS]


def make_segment_writer(block_size: int = BLOCK_SIZE, impacts: bool = True):
    """Build the ``mapInPandas`` kernel.

    Expects RAW TOKEN input columns ``term, doc_id, pos, dl`` (or
    ``term, doc_id, pos`` with ``impacts=False``) sorted by ``(term,
    doc_id, pos)`` within the partition. Needs no collection
    statistics — impacts (max_tf, min_dl) replace precomputed scores.
    ``impacts=False`` writes the positions-only layer layout.
    """
    in_cols = (TOKEN_INPUT_COLUMNS if impacts else LAYER_INPUT_COLUMNS)[1:]

    def write_segments(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tc = TaskContext.get()
        part_id = tc.partitionId() if tc is not None else 0
        # carry: per-token columns of the term spanning a batch boundary
        carry_term: str | None = None
        carry: list[list[np.ndarray]] = []

        def encode(terms: np.ndarray, cols: list[np.ndarray]) -> pd.DataFrame:
            """Token rows of whole terms → their block rows, every
            term's blocks in ONE vectorized pass."""
            p_terms, p_docs, p_tfs, p_dls = _aggregate_postings(
                terms, cols[0], cols[2] if impacts else None)
            change = np.flatnonzero(p_terms[1:] != p_terms[:-1]) + 1
            run_starts = np.concatenate([[0], change]).astype(np.int64)
            run_ends = np.concatenate(
                [change, [p_terms.size]]).astype(np.int64)
            return _emit_blocks(p_terms, p_docs, p_tfs, p_dls, cols[1],
                                run_starts, run_ends, part_id, block_size)

        def flush_carry() -> pd.DataFrame:
            nonlocal carry_term, carry
            cols = [np.concatenate(c) for c in zip(*carry)]
            out = encode(np.full(cols[0].size, carry_term, dtype=object),
                         cols)
            carry_term, carry = None, []
            return out

        for pdf in batches:
            if pdf.empty:
                continue
            terms = pdf["term"].to_numpy()
            cols = [pdf[c].to_numpy(dtype=np.int64) for c in in_cols]
            change = np.flatnonzero(terms[1:] != terms[:-1]) + 1
            last_start = int(change[-1]) if change.size else 0

            frames: list[pd.DataFrame] = []
            if carry_term is not None:
                if terms[0] == carry_term:
                    e0 = int(change[0]) if change.size else terms.size
                    carry.append([c[:e0] for c in cols])
                    if not change.size:
                        continue  # whole batch is one run; keep carrying
                    # consumed rows leave the batch before aggregation
                    terms, cols = terms[e0:], [c[e0:] for c in cols]
                    last_start -= e0
                frames.append(flush_carry())
            # last term run carries to the next batch
            carry_term = terms[last_start]
            carry = [[c[last_start:] for c in cols]]
            if last_start:
                frames.append(encode(terms[:last_start],
                                     [c[:last_start] for c in cols]))
            frames = [f for f in frames if len(f)]
            if frames:
                yield pd.concat(frames, ignore_index=True)

        if carry_term is not None:
            out = flush_carry()
            if len(out):
                yield out

    return write_segments


def encode_postings(tokens: DataFrame, n_partitions: int, *, doc_salt: int,
                    block_size: int = BLOCK_SIZE,
                    impacts: bool = True) -> DataFrame:
    """Raw token rows → block rows: ONE salted shuffle keyed ``(term,
    pmod(hash(doc_id), doc_salt))``, sorted ``(term, doc_id, pos)``,
    then the codec kernel — shared by the build and the merge, for the
    term segments (``impacts``) and the positions-only layers."""
    return (
        tokens
        .withColumn("salt", F.pmod(F.hash("doc_id"), F.lit(doc_salt)))
        .repartition(n_partitions, F.col("term"), F.col("salt"))
        .sortWithinPartitions("term", "doc_id", "pos")
        .select(*(TOKEN_INPUT_COLUMNS if impacts else LAYER_INPUT_COLUMNS))
        .mapInPandas(make_segment_writer(block_size, impacts),
                     schema=SEGMENT_SCHEMA if impacts else LAYER_SCHEMA)
    )
