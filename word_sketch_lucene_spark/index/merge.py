"""Log-structured segment merge: many indexes → one compacted index.

Reference parity: Lucene/BlackLab segment merging — the reference
grows its index by re-invoking ``IndexTool add`` and letting Lucene
merge segments in the background (``README.md`` "add more documents";
chunked indexing ``Main.java:130-133``). Here the same LSM idea is a
Spark job:

    decode (mapInPandas) → union → ONE salted shuffle → encode (the
    SAME segment-writer kernel as the initial build)

Decoding emits raw token rows ``(term, doc_id, pos, dl)`` (``(term,
doc_id, pos)`` for the positions-only layer postings) — the identical
interchange shape the build uses, so merge is literally a re-run of the
build's last stage over the union of inputs. The per-doc stores fold
by a disjoint union coalesced to the largest input's file count, so
repeated merges do not pile up files. Tiered compaction
(``compact_if_needed``) keeps the number of live indexes bounded, and
every merge commits a manifest with the input lineage — resumable like
every other stage.

Doc-id spaces must be disjoint across the merged indexes (the caller
owns id assignment; ``add_documents`` offsets are the usual scheme).
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.codec import positions_flat, segmented_cumsum, vbyte_decode
from .build import (
    INDEX_FORMAT,
    STATS_FILE,
    IndexPaths,
    build_index,
    check_format,
    postings_dictionary,
    posted_layers,
    write_store,
)
from .manifest import StageManifest, config_fingerprint, input_fingerprint
from .segments import BLOCK_SIZE, encode_postings


def decode_segments_to_tokens(segments: DataFrame) -> DataFrame:
    """Inverse of the segment writer: block rows → raw token rows.

    Arrow-batched numpy decode, one vectorised pass per batch (the
    blocks' VByte streams concatenate into one stream per column);
    one output row per (term, doc, position) — the build's interchange
    shape. Term segments also yield each token's ``dl``; positions-only
    layer postings (no ``dls_vb``) do not.
    """
    impacts = "dls_vb" in segments.columns

    def _stream(pdf: pd.DataFrame, col: str) -> np.ndarray:
        return vbyte_decode(b"".join(pdf[col])).astype(np.int64)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            n = pdf["n"].to_numpy(np.int64)
            docs = (segmented_cumsum(_stream(pdf, "docs_vb"), n)
                    + np.repeat(pdf["first_doc"].to_numpy(np.int64), n))
            tfs = _stream(pdf, "tfs_vb")
            out = {
                "term": np.repeat(pdf["term"].to_numpy(),
                                  pdf["sum_tf"].to_numpy(np.int64)),
                "doc_id": np.repeat(docs, tfs),
                "pos": positions_flat(b"".join(pdf["pos_vb"]), tfs),
            }
            if impacts:
                out["dl"] = np.repeat(_stream(pdf, "dls_vb"), tfs)
            yield pd.DataFrame(out)

    cols = ["term", "n", "first_doc", "sum_tf", "docs_vb", "tfs_vb",
            "pos_vb"] + (["dls_vb"] if impacts else [])
    schema = "term string, doc_id long, pos long" + (
        ", dl long" if impacts else "")
    return segments.select(*cols).mapInPandas(decode, schema=schema)


def merge_indexes(
    spark: SparkSession,
    in_roots: list[str | Path],
    out_root: str | Path,
    *,
    doc_salt: int = 4,
    n_partitions: int | None = None,
    block_size: int = BLOCK_SIZE,
) -> dict:
    """Merge N built indexes into one compacted index (stats and the
    per-doc stores folded too). Inputs must share the on-disk format
    and k1/b/block_size. Resumable via the output manifest."""
    paths = IndexPaths(out_root)
    paths.root.mkdir(parents=True, exist_ok=True)
    nparts = n_partitions or spark.sparkContext.defaultParallelism
    in_roots = [str(r) for r in in_roots]
    config = {"doc_salt": doc_salt, "n_partitions": nparts,
              "block_size": block_size, "op": "merge",
              "format": INDEX_FORMAT}
    cfg_fp = config_fingerprint(config)
    inputs_fp = input_fingerprint(in_roots)

    st = StageManifest(paths.root, "merge")
    if st.is_complete(inputs_fp, cfg_fp):
        return json.loads(paths.stats.read_text())

    # every input must be in this library's on-disk layout, and scoring/
    # codec params must agree — a delta built with different k1/b would
    # make the merged stats misreport what the searcher will score with
    all_stats = [json.loads((Path(r) / STATS_FILE).read_text())
                 for r in in_roots]
    for r, s in zip(in_roots, all_stats):
        check_format(s, r)
    for param in ("k1", "b", "block_size"):
        vals = {s.get(param) for s in all_stats}
        if len(vals) > 1:
            raise ValueError(
                f"merge_indexes: inputs disagree on {param!r}: {sorted(vals)} "
                f"(rebuild the outlier or merge compatible indexes only)")

    # union of decoded token streams — the LSM merge input
    def _merge_postings(store: str, impacts: bool) -> None:
        tokens = _union(spark, [str(Path(r) / store) for r in in_roots],
                        decode_segments_to_tokens)
        write_store(encode_postings(tokens, nparts, doc_salt=doc_salt,
                                    block_size=block_size, impacts=impacts),
                    paths.root / store)

    _merge_postings("segments", impacts=True)

    # fold per-index doc_lens / stats / term_stats
    _fold_per_doc(spark, in_roots, "doc_lens", paths.root)
    row = spark.read.parquet(str(paths.doc_lens)).agg(
        F.count("*").alias("n"), F.avg("dl").alias("avgdl"),
        F.sum("dl").alias("tt")).collect()[0]
    stats = {**all_stats[0], "n_docs": int(row["n"]),
             "avgdl": float(row["avgdl"]), "total_tokens": int(row["tt"])}
    paths.stats.write_text(json.dumps(stats, indent=1, sort_keys=True))

    seg = spark.read.parquet(str(paths.segments))
    postings_dictionary(seg).write.mode("overwrite").parquet(
        str(paths.term_stats))

    # annotation-layer postings merge the same way as the term segments
    # (the prefixed key IS the term for the writer kernel); the
    # layer_stats rows of the inputs sum per (layer, value) — doc ids
    # are disjoint, so df and cf both add
    lay_roots = [r for r in in_roots if (Path(r) / "layers").exists()]
    if lay_roots:
        posted = {tuple(posted_layers(r)) for r in lay_roots}
        if len(posted) > 1:
            raise ValueError(
                f"merge_indexes: inputs post different annotation "
                f"layers: {sorted(posted)} (rebuild them with the same "
                f"layers and forward store)")
        _merge_postings("layers", impacts=False)
        (_union(spark, [str(Path(r) / "layer_stats") for r in lay_roots])
         .groupBy("layer", "value")
         .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
         .write.mode("overwrite").parquet(str(paths.layer_stats)))
        StageManifest(paths.layers, "layers").commit(
            inputs_fp, cfg_fp,
            lineage={"merged": lay_roots,
                     "config": {**config, "layers": list(posted.pop())}})

    # per-doc stores fold by disjoint union (doc ids must not collide
    # across inputs — the add_documents contract)
    for aux in ("docstore", "forward_layers", "doc_names", "doc_meta"):
        _fold_per_doc(spark, in_roots, aux, paths.root)

    n_blocks = seg.count()
    st.commit(inputs_fp, cfg_fp,
              metrics={"n_blocks": n_blocks, "n_docs": stats["n_docs"]},
              lineage={"merged": in_roots, "config": config})
    return stats


def _union(spark: SparkSession, dirs: list[str], read=None) -> DataFrame:
    """Union of the stores at ``dirs`` that exist (each passed through
    ``read`` when given)."""
    u = None
    for p in dirs:
        if Path(p).exists():
            d = spark.read.parquet(p)
            d = read(d) if read else d
            u = d if u is None else u.unionByName(d)
    return u


def _fold_per_doc(spark: SparkSession, in_roots: list[str], store: str,
                  out_root: Path) -> None:
    """Fold one per-doc store (disjoint doc ids) into ``out_root``,
    coalesced to the largest input's file count: a plain union writes
    the SUM of its inputs' files, so every merge would add the delta's
    files to the merged store."""
    dirs = [str(Path(r) / store) for r in in_roots]
    u = _union(spark, dirs)
    if u is None:
        return
    n_files = max(len(list(Path(p).glob("part-*"))) for p in dirs
                  if Path(p).exists())
    write_store(u.coalesce(max(1, n_files)), out_root / store)


def add_documents(
    spark: SparkSession,
    index_root: str | Path,
    new_pages: DataFrame,
    staging_root: str | Path,
    *,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    **build_kw,
) -> Path:
    """Incremental indexing: build a delta index for ``new_pages``,
    then LSM-merge it with the existing index into
    ``staging_root/merged``. Returns the merged root (caller swaps it
    in — an atomic directory rename, the parquet analog of an Iceberg
    snapshot commit).

    Doc ids in ``new_pages`` must not collide with the base index:
    one semi-join against the base ``doc_lens`` rejects a colliding
    delta with ``ValueError`` before anything is built.
    """
    clash = [r["doc_id"] for r in (
        new_pages.select(F.col(doc_id_col).cast("long").alias("doc_id"))
        .join(spark.read.parquet(str(Path(index_root) / "doc_lens")),
              "doc_id", "left_semi")
        .limit(5).collect())]
    if clash:
        raise ValueError(
            f"add_documents: doc ids already in the base index "
            f"{index_root} (e.g. {sorted(clash)}) — give new documents "
            f"ids past the base's")
    staging = Path(staging_root)
    delta = staging / "delta"
    merged = staging / "merged"
    build_index(spark, new_pages, delta, doc_id_col=doc_id_col,
                text_col=text_col, **build_kw)
    merge_indexes(spark, [index_root, delta], merged)
    return merged


def add_conllu_documents(
    spark: SparkSession,
    index_root: str | Path,
    new_parsed: DataFrame,
    staging_root: str | Path,
    **build_kw,
) -> Path:
    """Incremental MULTI-LAYER indexing: delta ``build_conllu_index``
    with doc ids offset past the base index's max id, then an LSM merge
    that folds segments, layers, forward layers, and the name↔id
    mapping. Returns the merged root (atomic-swap contract as
    :func:`add_documents`)."""
    from .build import build_conllu_index

    staging = Path(staging_root)
    delta = staging / "delta"
    merged = staging / "merged"
    offset = int(
        spark.read.parquet(str(Path(index_root) / "doc_lens"))
        .agg(F.max("doc_id")).collect()[0][0]) + 1
    build_conllu_index(spark, new_parsed, delta, id_offset=offset,
                       **build_kw)
    merge_indexes(spark, [index_root, delta], merged)
    return merged


def compact_if_needed(spark: SparkSession, roots: list[str | Path],
                      out_root: str | Path, max_live: int = 4) -> list[Path]:
    """Tiered compaction policy: when more than ``max_live`` delta
    indexes exist, merge them all into one (the L0→L1 step)."""
    roots = [Path(r) for r in roots]
    if len(roots) <= max_live:
        return roots
    merge_indexes(spark, roots, out_root)
    return [Path(out_root)]
