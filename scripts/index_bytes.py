#!/usr/bin/env python3
"""Where an index's bytes go, from its parquet footers.

    python3 scripts/index_bytes.py <index_root> <text_bytes>

Prints one line per (store, column) with the column's compressed bytes
(sum of its column chunks over every row group of every file) and their
ratio to ``text_bytes`` (the UTF-8 size of the indexed text). Two
overhead rows per store follow the columns:

- ``(footer)``: parquet bytes outside the column chunks — file
  metadata, page indexes and magic numbers;
- ``(sidecar)``: every non-parquet file — ``.crc`` checksums,
  ``_SUCCESS`` markers, stage manifests, ``stats.json``.

A store is a top-level entry of the root (a directory or a file); the
last lines give the totals over all stores.

After the ``layers`` store's rows, one row per key prefix (``lemma:``,
``xpos:``, …) gives that layer's UNCOMPRESSED payload: the summed
lengths of its blocks' ``docs_vb``/``tfs_vb``/``pos_vb`` blobs. These
rows split the store by layer; they are not part of the totals.
"""

from __future__ import annotations

import sys
from collections import defaultdict
from pathlib import Path

import pyarrow.parquet as pq

FOOTER, SIDECAR = "(footer)", "(sidecar)"


def store_bytes(store: Path) -> dict[str, int]:
    """column (plus the two overhead rows) → bytes, for one store."""
    out: dict[str, int] = defaultdict(int)
    files = [store] if store.is_file() else sorted(
        f for f in store.rglob("*") if f.is_file())
    for f in files:
        size = f.stat().st_size
        if f.suffix != ".parquet":
            out[SIDECAR] += size
            continue
        md = pq.ParquetFile(f).metadata
        in_chunks = 0
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for i in range(rg.num_columns):
                c = rg.column(i)
                out[c.path_in_schema] += c.total_compressed_size
                in_chunks += c.total_compressed_size
        out[FOOTER] += size - in_chunks
    return out


PAYLOAD = ("docs_vb", "tfs_vb", "pos_vb")


def layer_payload(store: Path) -> dict[str, int]:
    """``"<layer>:"`` → uncompressed payload bytes of the layer's
    postings, for the ``layers`` store."""
    import pyarrow.compute as pc

    t = pq.read_table(store, columns=["term", *PAYLOAD])
    sizes = [pc.binary_length(t[c]).to_pylist() for c in PAYLOAD]
    out: dict[str, int] = defaultdict(int)
    for term, *ns in zip(t["term"].to_pylist(), *sizes):
        out[term.split(":", 1)[0] + ":"] += sum(ns)
    return dict(sorted(out.items()))


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__.strip().split("\n\n")[1], file=sys.stderr)
        return 2
    root, text_bytes = Path(argv[0]), int(argv[1])
    totals: dict[str, int] = defaultdict(int)
    print(f"{'store':<16} {'column':<24} {'bytes':>11} {'per_text_byte':>14}")
    for store in sorted(root.iterdir()):
        cols = store_bytes(store)
        names = sorted(c for c in cols if c not in (FOOTER, SIDECAR))
        for col in names + [c for c in (FOOTER, SIDECAR) if c in cols]:
            print(f"{store.name:<16} {col:<24} {cols[col]:>11} "
                  f"{cols[col] / text_bytes:>14.4f}")
            totals["columns" if col in names else col] += cols[col]
        n = sum(cols.values())
        print(f"{store.name:<16} {'total':<24} {n:>11} "
              f"{n / text_bytes:>14.4f}")
        if store.name == "layers" and store.is_dir():
            for prefix, b in layer_payload(store).items():
                print(f"{store.name:<16} {prefix + ' (payload)':<24} "
                      f"{b:>11} {b / text_bytes:>14.4f}")
    totals["all"] = sum(totals[k] for k in ("columns", FOOTER, SIDECAR))
    for k in ("columns", FOOTER, SIDECAR, "all"):
        print(f"{'TOTAL':<16} {k:<24} {totals[k]:>11} "
              f"{totals[k] / text_bytes:>14.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
