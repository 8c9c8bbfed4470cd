"""Query engines over the built index.

Two execution paths, mirroring the reference's two query styles:

1. :func:`bm25_topk_df` — declarative DataFrame plan straight off the
   corpus (tokenize → stats → score → ``orderBy().limit(k)``). Catalyst
   fuses the top-k into ``TakeOrderedAndProject`` (the bounded min-heap
   of the north rule, running map-side partial top-k per partition).
   This is the batch/oracle-checkable path.

2. :class:`IndexSearcher` — the low-latency point-query path over
   compressed segments (the analog of the reference's in-process
   Lucene search, ``BlackLabQueryExecutor.java:117-144``): a pruned
   parquet scan fetches only the query terms' blocks (predicate
   pushdown on ``term`` + parquet row-group min/max = the term
   dictionary seek), then the block-max WAND kernel runs them.
"""

from __future__ import annotations

import json
from functools import reduce
from pathlib import Path
from typing import TYPE_CHECKING, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scoring import B, K1, bm25_term_score_expr
from ..functions.tokenize import (
    doc_lengths,
    explode_tokens,
    tokenize_py,
    tokens_expr,
)
from ..index.build import STATS_FILE, check_format
from .cache import LRUCache
from .wand import BlockCursor, block_max_wand, doc_lengths, exact_daat, idf_py

if TYPE_CHECKING:
    from ..plans.cql import Query


def bounded_rows_df(spark: SparkSession, rows, schema: str,
                    columns: list[str]) -> DataFrame:
    """A BOUNDED driver-side row list as a DataFrame, shipped through
    ONE Arrow batch (guide: Arrow for driver transfers) — the plain
    ``createDataFrame(list)`` path pickles row-at-a-time and costs
    ~3× as much wall even at a few thousand rows. Only for lists the
    caller has already bounded (top-k results, span lists under the
    Σcf budget); never a corpus-sized transfer."""
    import pandas as pd

    rows = list(rows)
    if not rows:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=columns), schema=schema)


def bm25_topk_df(
    pages: DataFrame,
    terms: list[str],
    k: int = 10,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = K1,
    b: float = B,
    round_dp: int | None = None,
    doc_filter: Column | str | None = None,
) -> DataFrame:
    """Declarative BM25 top-k: ONE tokenize scan, no index needed.

    ``doc_filter`` (a Column or SQL predicate over ``pages``'s metadata
    columns, e.g. ``"lang = 'en'"``) restricts the CANDIDATE set via a
    semi-join on a column-pruned metadata scan; collection statistics
    (N, avgdl, df) stay corpus-level — Lucene filter-query semantics
    (the filter narrows results, it does not re-weight them).

    OR semantics over query terms; tie-break (score desc, doc_id asc).
    Returns ``(doc_id, score)``. ``round_dp`` rounds the score and uses
    the rounded value as the ordering key — the cross-engine-stable
    contract used for oracle comparison (engine FP noise collapses).

    Plan shape: the corpus is tokenized exactly once into a per-doc
    aggregate ``(doc_id, dl, tf_per_query_term)`` (conditional counts —
    map-side combined, one shuffle), persisted, then (a) a 1-row stats
    collect reads N/avgdl/df off it and (b) the final score pass reads
    it again from cache. At 100 TB the cached table is
    n_docs × (2 + |terms|) ints — tiny next to the corpus — and the
    corpus itself is scanned once instead of three times.
    """
    from ..caching import persist_tracked

    # dedupe preserving order; tf/df columns are positional
    seen: set[str] = set()
    terms = [t for t in terms if not (t in seen or seen.add(t))]
    tokens = explode_tokens(pages, doc_id_col, text_col)
    tf_cols = [F.count(F.when(F.col("term") == t, True)).alias(f"tf_{i}")
               for i, t in enumerate(terms)]
    per_doc = persist_tracked(
        tokens.groupBy("doc_id").agg(F.count("*").alias("dl"), *tf_cols))
    stats = per_doc.agg(
        F.count("*").alias("n"), F.avg("dl").alias("avgdl"),
        *[F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
          for i in range(len(terms))],
    ).collect()[0]
    n_docs, avgdl = int(stats["n"]), float(stats["avgdl"])
    contribs = []
    for i in range(len(terms)):
        df_i = int(stats[f"df_{i}"])
        if df_i == 0:
            continue
        tf = F.col(f"tf_{i}").cast("double")
        contribs.append(F.when(
            F.col(f"tf_{i}") > 0,
            bm25_term_score_expr(tf, F.lit(float(df_i)),
                                 F.col("dl").cast("double"),
                                 n_docs, avgdl, k1, b),
        ).otherwise(F.lit(0.0)))
    if not contribs:
        return per_doc.select(
            "doc_id", F.lit(0.0).alias("score")).limit(0)
    hit_any = None
    for i in range(len(terms)):
        c = F.col(f"tf_{i}") > 0
        hit_any = c if hit_any is None else (hit_any | c)
    score = contribs[0]
    for c in contribs[1:]:
        score = score + c
    agg = per_doc.filter(hit_any).select("doc_id", score.alias("score"))
    if doc_filter is not None:
        pred = (F.expr(doc_filter) if isinstance(doc_filter, str)
                else doc_filter)
        allowed = pages.filter(pred).select(
            F.col(doc_id_col).alias("doc_id"))
        agg = agg.join(allowed, "doc_id", "left_semi")
    if round_dp is not None:
        agg = agg.withColumn("score", F.round("score", round_dp))
    return agg.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


class Slot(NamedTuple):
    """One constraint slot of the in-driver chain
    (:meth:`IndexSearcher._slot_maps`)."""

    # positions its posted positive tests share, minus its posted
    # negated tests; None when it has no posted positive test (the
    # slot then enumerates its window)
    allowed: tuple | None
    # positions of its posted negated tests, when allowed is None
    banned: tuple | None
    # (layer, matched dictionary values, negated) per test on a layer
    # without postings: checked against the forward store
    filters: tuple


class IndexSearcher:
    """Opens a built index directory; serves point top-k queries.

    The segment scan collects only the query terms' block rows to the
    driver — the moral equivalent of a Lucene query node reading a few
    posting lists, not a driver-side table scan. On a cluster the same
    ``filter(term ∈ Q)`` scan prunes row groups via parquet statistics.

    Everything the searcher fetches or derives (block rows, decoded
    postings, position and slot maps, forward arrays, cf lookups and
    regex expansions) lives in ONE cache,
    ``self._cache`` (:class:`.cache.LRUCache`): least-recently-used
    entries evict first once the estimated resident bytes pass one
    budget, ``self._cache.budget_bytes`` (default
    :data:`.cache.BUDGET_BYTES`, 1 GiB). Every lookup goes through
    that cache and its caller uses the value it returns — never a
    second read of the cache, since any insert may evict an older
    entry and an entry larger than the budget is served but not kept.
    ``_block_cache`` is a read-only view of the ``blocks`` namespace.

    Positional queries — phrases, CQL patterns, sketch relations,
    dependency relations — run on ONE flat form (:mod:`.positions`): a
    term's positions, a test's matches and a constraint slot are each
    two parallel int64 arrays ``(doc, pos)`` sorted by ``(doc, pos)``,
    cached as read-only arrays (no per-doc dicts), and every chain,
    window, set or forward-gather step is one numpy pass over all
    candidate docs at once. A test on a layer without postings (the
    closed-class tags of a CoNLL-U root, :attr:`posted_layers`) is a
    filter: one gather of the layer's cached forward code arrays at the
    positions the chain proposes.

    The term dictionary has one read path, :meth:`_dictionary`
    (``(layer, value, df, cf)`` over ``term_stats`` and
    ``layer_stats``): regex expansion (:meth:`expand_terms`), cf
    lookups (:meth:`layer_cf`) and route pricing (:meth:`pattern_cost`)
    all read through it. Spans route through :meth:`_span_route`,
    relation queries through :meth:`_relation_route`.
    """

    MODES = ("auto", "bmw", "wand", "vec", "daat")

    def __init__(self, spark: SparkSession, root: str | Path):
        self.spark = spark
        self.root = Path(root)
        self.stats = json.loads((self.root / STATS_FILE).read_text())
        check_format(self.stats, self.root)
        self.k1 = self.stats.get("k1", K1)
        self.b = self.stats.get("b", B)
        # dataset handles resolve LAZILY (cached property below): each
        # spark.read.parquet is a ~100 ms schema/footer round-trip, and
        # most queries touch only a subset of the four datasets
        self._datasets: dict[str, DataFrame | None] = {}
        self._cache = LRUCache()
        self._block_cache = self._cache.view("blocks")
        # forward value → code of every cached code array, one book for
        # all layers (outside the LRU: evicting it would orphan them)
        self._codebook: dict = {}

    def _dataset(self, name: str, required: bool = True
                 ) -> DataFrame | None:
        if name not in self._datasets:
            p = self.root / name
            self._datasets[name] = (
                self.spark.read.parquet(str(p))
                if required or p.exists() else None)
        return self._datasets[name]

    @property
    def segments(self) -> DataFrame:
        return self._dataset("segments")

    @property
    def term_stats(self) -> DataFrame:
        return self._dataset("term_stats")

    @property
    def layers(self) -> DataFrame | None:
        return self._dataset("layers", required=False)

    @property
    def layer_stats(self) -> DataFrame | None:
        return self._dataset("layer_stats", required=False)

    def _filter_in(self, df: DataFrame, col: str, values: list
                   ) -> DataFrame:
        """``df`` restricted to ``col ∈ values``. Small sets inline as
        literals (the In-filter pushes into the parquet scan); large
        sets ship as ONE Arrow batch and broadcast-semi-join instead —
        ``Column.isin`` builds each literal through a py4j round-trip
        (~1 ms apiece), so a 5k-doc miss set would spend seconds on
        socket chatter before the job even starts."""
        if len(values) <= 64:
            return df.filter(F.col(col).isin(values))
        import pandas as pd

        ids = self.spark.createDataFrame(pd.DataFrame({col: values}))
        return df.join(F.broadcast(ids), col, "left_semi")

    # -- stats lookups ---------------------------------------------------
    def term_dfs(self, terms: list[str]) -> dict[str, int]:
        """df per term: Σ``n`` over the term's block rows (how the build
        and the merge derive ``term_stats.df``); 0 for an absent term.
        Served from the blocks :meth:`prefetch` fetches — no dictionary
        scan of its own."""
        return _dfs(self.prefetch(terms))

    # -- term dictionary ----------------------------------------------
    def _dictionary(self, layers) -> DataFrame:
        """``(layer, value, df, cf)``: the term dictionary of ``layers``
        — the one read of the dictionary stores: ``term_stats`` for
        layer ``term`` (its ``term`` column read as ``value``),
        ``layer_stats`` for every other layer (raises when the index
        has no annotation layers). Regex expansion, cf lookups and
        route pricing all read through here; the layers of one call
        read as one union, so a lookup spanning them is one job."""
        parts = []
        if "term" in layers:
            parts.append(self.term_stats.select(
                F.lit("term").alias("layer"), F.col("term").alias("value"),
                "df", "cf"))
        other = sorted(set(layers) - {"term"})
        if other:
            parts.append(self._require_layers("layer_stats")
                         .filter(F.col("layer").isin(other))
                         .select("layer", "value", "df", "cf"))
        return reduce(DataFrame.unionByName, parts)

    def expand_terms(self, pattern: str, max_terms: int = 256,
                     layer: str = "term") -> list[str]:
        """P1 regex expansion through ``layer``'s term dictionary: the
        reference matches ``[lemma=".*self"]`` by regex over the indexed
        layer — here an anchored ``rlike`` over the dictionary,
        df-descending so the cap keeps the heaviest values. A scan of
        the O(vocab) dictionary, never of the postings, cached per
        (layer, pattern, cap): interactive serving repeats the same
        expansions."""
        return [v for v, _cf in
                self._expansion(layer, pattern, max_terms)[:max_terms]]

    def _expansion(self, layer: str, pattern: str, max_terms: int
                   ) -> list[tuple[str, int]]:
        """``(value, cf)`` rows of :meth:`expand_terms`, df desc then
        value asc — up to ``max_terms + 1`` of them, so more than
        ``max_terms`` rows means the expansion hit the cap."""
        return self._cache.get_or_put(
            "expand", (layer, pattern, max_terms),
            lambda: [(r["value"], int(r["cf"])) for r in (
                self._dictionary({layer})
                .filter(F.col("value").rlike(f"^(?:{pattern})$"))
                .orderBy(F.desc("df"), F.asc("value"))
                .select("value", "cf").limit(max_terms + 1).collect())])

    def layer_cf(self, layer: str, values: list[str]) -> dict[str, int]:
        """Collection frequencies of specific ``layer`` values (absent
        values omitted) — the sketch scorer's stats lookups."""
        cfs = self._cfs([(layer, v) for v in values])
        return {v: cf for (_layer, v), cf in cfs.items() if cf > 0}

    def _cfs(self, keys: list[tuple[str, str]]) -> dict[tuple, int]:
        """``(layer, value)`` → cf (0 when absent), cached per key;
        every miss, whichever layers it spans, fetches in ONE pruned
        dictionary read."""
        def fetch(missing):
            want = set(missing)
            rows = (self._filter_in(self._dictionary({k[0] for k in want}),
                                    "value", sorted({k[1] for k in want}))
                    .select("layer", "value", "cf").collect())
            return {k: int(r["cf"]) for r in rows
                    if (k := (r["layer"], r["value"])) in want}

        return self._cache.get_many("cf", keys, fetch, default=0)

    def search_regex(self, pattern: str, k: int = 10, mode: str = "auto",
                     max_terms: int = 256):
        """Top-k for a regex term query (OR over dictionary matches)."""
        self._check_mode(mode)
        terms = self.expand_terms(pattern, max_terms)
        if not terms:
            return [], {"decoded_blocks": 0, "total_blocks": 0}
        return self.search(terms, k=k, mode=mode)

    # -- block fetch -------------------------------------------------------
    def prefetch(self, terms: list[str]) -> dict[str, list[dict]]:
        """term → its block rows (``[]`` when absent); every uncached
        term fetches in ONE pruned scan."""
        def fetch(missing):
            found = {t: [] for t in missing}
            for r in (self._filter_in(self.segments, "term", sorted(missing))
                      .select("term", "seg_part", "block_id", "first_doc",
                              "last_doc", "n", "max_tf", "min_dl",
                              "docs_vb", "tfs_vb")
                      .collect()):
                found[r["term"]].append(r.asDict())
            return found

        return self._cache.get_many("blocks", terms, fetch)

    # -- queries ----------------------------------------------------------
    def _term_cursors(self, rows: list[dict], ti: int, df: int
                      ) -> list[BlockCursor]:
        """One cursor per segment partition over a term's block rows."""
        idf = idf_py(df, self.stats["n_docs"])
        norms = self._all_docs()
        by_part: dict[int, list[dict]] = {}
        for r in rows:
            by_part.setdefault(r["seg_part"], []).append(r)
        return [BlockCursor(blocks, ti, idf, self.k1, self.b,
                            self.stats["avgdl"], norms)
                for blocks in by_part.values()]

    def _positions(self, terms: list[str], layer: str = "term"
                   ) -> dict[str, tuple]:
        """term → its positions as a flat ``(doc, pos)`` pair of int64
        arrays sorted by ``(doc, pos)`` (:mod:`.positions`), merged
        across segments. ALL miss terms fetch in ONE pruned scan (a
        regex slot expands to up to 256 dictionary terms; one
        ``term IN (…)`` scan is the same bytes with one job's
        overhead) — the only read of ``pos_vb``, which BM25 queries
        never touch (column pruning). ``layer != "term"`` reads the
        multi-layer postings dataset with the prefixed key
        (``"<layer>:<value>"``)."""
        import numpy as np

        from ..functions.codec import positions_flat, vbyte_decode

        def fetch(missing):
            if layer == "term":
                src = self.segments
                keys = {t: t for t in missing}
            else:
                src = self._require_layers()
                keys = {f"{layer}:{t}": t for t in missing}
            rows = (
                self._filter_in(src, "term", sorted(keys))
                .select("term", "first_doc", "docs_vb", "tfs_vb", "pos_vb")
                .collect()
            )
            parts: dict[str, list] = {t: [] for t in missing}
            for r in sorted(rows, key=lambda r: r["first_doc"]):
                gaps = vbyte_decode(bytes(r["docs_vb"])).astype(np.int64)
                tfs = vbyte_decode(bytes(r["tfs_vb"])).astype(np.int64)
                parts[keys[r["term"]]].append((
                    np.repeat(np.cumsum(gaps) + r["first_doc"], tfs),
                    positions_flat(bytes(r["pos_vb"]), tfs)))
            return {t: _flat_sorted(ps) for t, ps in parts.items()}

        return self._cache.get_many(("positions", layer), terms, fetch)

    def _require_layers(self, store: str = "layers") -> DataFrame:
        """An annotation-layer store (``layers`` postings or the
        ``layer_stats`` dictionary); raises when the index has none."""
        df = self._dataset(store, required=False)
        if df is None:
            raise NotImplementedError(
                "index has no annotation-layer postings — build them "
                "with index.build.build_layer_postings (reference "
                "conllu-sentences.blf.yaml multi-field analog)")
        return df

    def forward_layer(self, doc_ids: list[int], layer: str
                      ) -> dict[int, list]:
        """doc_id → value array (position order) for one annotation
        layer — the forward-index read that recovers "the lemma AT the
        matched position" for collocate grouping. One pruned scan per
        MISS set, cached per (layer, doc): a 41-relation sketch fan-out
        touches mostly the same candidate docs per relation, and one
        scan per relation would dominate serving latency."""
        return self._cache.get_many(
            ("forward", layer), doc_ids,
            lambda missing: self._read_forward(missing, layer))

    def _read_forward(self, doc_ids: list[int], layer: str
                      ) -> dict[int, list]:
        """doc_id → ``layer``'s value list for ``doc_ids`` (``[]`` for
        a doc without one): one ``doc_id IN`` read of the forward store
        in the driver with pyarrow, as :meth:`_all_docs` reads
        ``doc_lens`` (no Spark job). Derived layers fold as
        :meth:`forward_arrays` derives them."""
        import pyarrow.dataset as pads

        from ..sources.conllu import FOLDED_LAYERS

        fw, avail = self.root / "forward_layers", {}
        if fw.exists():
            store = pads.dataset(fw, format="parquet")
            names = store.schema.names
            avail = {dst: (src, lambda v: [x if x is None else x.lower()
                                           for x in v])
                     for dst, src in FOLDED_LAYERS.items() if src in names}
            avail.update((c, (c, list)) for c in names if c != "doc_id")
        elif (self.root / "docstore").exists():
            store = pads.dataset(self.root / "docstore", format="parquet")
            avail = {"term": ("text", tokenize_py)}
        if layer not in avail:
            if not fw.exists():
                raise NotImplementedError(
                    "index has no forward_layers store — build with "
                    "index.build.build_conllu_index(store_docstore=True)")
            raise ValueError(f"forward layer {layer!r} not stored "
                             f"(available: {sorted(avail)})")
        col, fold = avail[layer]
        t = store.to_table(columns=["doc_id", col],
                           filter=pads.field("doc_id").isin(doc_ids))
        found = {d: [] for d in doc_ids}
        for d, v in zip(t["doc_id"].to_pylist(), t[col].to_pylist()):
            found[d] = fold(v)
        return found

    def _forward_codes(self, docs, layer: str) -> tuple:
        """:meth:`_forward_flat` of ``layer`` as int32 codes into the
        searcher's code book (``self._codebook``: value → code in order
        of first sight, append-only so every cached code array stays
        valid, and shared by all layers so codes are equal exactly when
        values are) — the one form forward filters and inter-slot
        constraints read. Each doc's code array is cached, and so is
        the flat form per doc set (a sketch's relations share their
        head's candidate docs): a warm forward check is one gather."""
        import numpy as np

        book = self._codebook

        def fetch(missing):
            return {d: np.fromiter((book.setdefault(v, len(book))
                                    for v in vals), np.int32, len(vals))
                    for d, vals in self._read_forward(missing, layer).items()}

        def flat():
            arrays = list(self._cache.get_many(
                ("fw_codes", layer), docs.tolist(), fetch).values())
            lens = np.fromiter(map(len, arrays), np.int64, len(arrays))
            values = (np.concatenate(arrays) if arrays
                      else np.empty(0, np.int32))
            return values, np.cumsum(lens) - lens, lens

        return self._cache.get_or_put(("fw_flat", layer), docs.tobytes(),
                                      flat)

    def forward_arrays(self, columns: set[str] | None = None
                       ) -> DataFrame | None:
        """``(doc_id, <layer>…)``: per-doc value arrays in position
        order — the one read path of the index's forward store. Each
        datum is stored once, so some arrays are derived here with the
        expression the build itself uses:

        - pages index: ``term`` = ``tokens_expr(text)`` over the
          ``docstore``'s stored text (the tokenize stage's rule);
        - CoNLL-U index: ``term``/``lemma`` = ``lower`` of the stored
          ``word_cs``/``lemma_cs`` arrays (``sources.conllu.
          FOLDED_LAYERS``, as ``layer_tokens`` folds them); every other
          layer reads as stored in ``forward_layers``.

        ``columns`` restricts the output (``None``: every array the
        index can serve); ``None`` when the index has no forward
        store."""
        from ..sources.conllu import FOLDED_LAYERS

        fw = self._dataset("forward_layers", required=False)
        if fw is not None:
            avail = {dst: F.transform(src, F.lower)
                     for dst, src in FOLDED_LAYERS.items()
                     if src in fw.columns}
            avail.update((c, F.col(c)) for c in fw.columns if c != "doc_id")
        else:
            fw = self._dataset("docstore", required=False)
            if fw is None:
                return None
            avail = {"term": tokens_expr("text")}
        return fw.select("doc_id", *[
            e.alias(c) for c, e in avail.items()
            if columns is None or c in columns])

    def forward_token_table(self, columns: set[str] | None = None
                            ) -> DataFrame | None:
        """DISTRIBUTED multi-layer token table derived from the index's
        own ``forward_layers`` store: ``posexplode`` of the per-doc
        value arrays → ``(doc_id, pos, term, lemma, upos, xpos, deprel,
        …)`` — exactly the shape :func:`..plans.cql.compile_cql`
        consumes. This is how a HOT pattern leaves the driver: the
        reference executes every pattern in its in-process index
        (``BlackLabQueryExecutor.java:117-144``) because one node holds
        the corpus; at 100× corpus the same query must shard, and the
        forward store already is a doc-partitioned parquet table.
        Reads through :meth:`forward_arrays` (a pages index yields the
        ``term`` column only); ``None`` when the index has no forward
        store or none of ``columns``.

        ``columns`` restricts which layer arrays are zipped: the
        ``arrays_zip`` consumes every requested array wholesale, so
        Catalyst cannot column-prune through it — a 2-layer pattern
        must not pay for scanning all 11 stored arrays. Callers pass
        the layers their plan actually tests/captures."""
        fw = self.forward_arrays(columns)
        if fw is None or len(fw.columns) == 1:
            return None
        cols = fw.columns[1:]
        return fw.select(
            "doc_id",
            F.posexplode(F.arrays_zip(*cols)).alias("pos", "z"),
        ).select("doc_id", F.col("pos").cast("long").alias("pos"),
                 *[F.col(f"z.{c}").alias(c) for c in cols])

    def _all_docs(self) -> tuple:
        """``(docs, dls)``: every doc id of the ``doc_lens`` store,
        sorted, and its token count — the searcher's one doc-length
        read (BM25's norms, the window bound of enumerating slots, the
        candidates of a pattern with no posted positive test), read
        once in the driver with pyarrow, as ``stats.json`` is."""
        import numpy as np
        import pyarrow.parquet as pq

        def read():
            t = pq.read_table(self.root / "doc_lens").sort_by("doc_id")
            return (t["doc_id"].to_numpy().astype(np.int64),
                    t["dl"].to_numpy().astype(np.int64))

        return self._cache.get_or_put("all_docs", None, read)

    def _forward_flat(self, docs, layer: str, dtype=int) -> tuple:
        """``(values, offsets, lengths)``: one forward layer's arrays of
        ``docs`` (sorted distinct) laid end to end in ``docs`` order —
        what :func:`.positions.take` gathers from by flat offset. A doc
        without a stored array has length 0. String layers read as
        ``dtype=object`` (a fixed-width unicode copy costs ~10× more)."""
        from itertools import chain

        import numpy as np

        arrays = list(self.forward_layer(docs.tolist(), layer).values())
        lens = np.fromiter(map(len, arrays), np.int64, len(arrays))
        values = np.fromiter(chain.from_iterable(arrays), dtype,
                             int(lens.sum()))
        return values, np.cumsum(lens) - lens, lens

    def phrase_hits(self, phrase: str | list[str]
                    ) -> list[tuple[int, list[int]]]:
        """Exact-sequence matches from the positional index: the Lucene
        ``SpanNear(slop=0, inOrder=true)`` analog (SURVEY §2.3 J1) — the
        pattern chain of :mod:`.positions` with a gap of exactly one
        between consecutive terms, over the docs holding every term.

        Returns ``[(doc_id, [start positions])]`` ordered by doc_id.
        """
        import numpy as np

        from .positions import POS, chain, common_docs

        terms = tokenize_py(phrase) if isinstance(phrase, str) else list(phrase)
        if not terms:
            return []
        by_term = self._positions(terms)
        flats = [by_term[t] for t in terms]
        docs = common_docs(flats)
        starts = chain(docs, [(f, None) for f in flats],
                       [(1, 1)] * len(terms))[:, 0]
        rank, bounds = np.unique(starts >> 32, return_index=True)
        return list(zip(docs[rank].tolist(),
                        [p.tolist() for p in np.split(starts & POS,
                                                      bounds[1:])]))

    def _test_map(self, layer: str, test, max_terms: int) -> tuple:
        """The ``(doc, pos)`` position set matching one (effective)
        test's value on a POSTED ``layer``, its regex expanded through
        the layer dictionary. A sketch fan-out repeats the same
        constraints, so the union is cached per test; a literal test IS
        its term's positions entry."""
        from .positions import union

        def merge():
            if test.is_literal:
                values = [test.value.replace("\\", "")]
            else:
                values = self.expand_terms(test.value, max_terms, layer)
            by_term = self._positions(values, layer)
            return union([by_term[v] for v in values])

        return self._cache.get_or_put(
            "test_map", (layer, test.value, test.is_literal, max_terms),
            merge)

    @property
    def posted_layers(self) -> frozenset:
        """The layers whose tests read positional postings: ``term``
        and the ``layers`` manifest's posted layers
        (:func:`..index.build.posted_layers`); a test on any other
        layer is checked against the forward store."""
        from ..index.build import posted_layers

        return self._cache.get_or_put(
            "posted", None,
            lambda: frozenset(["term", *posted_layers(self.root)]))

    def _slot_maps(self, steps, max_terms_per_slot: int) -> list:
        """One :class:`Slot` per constraint step. Tests on posted layers
        become position sets: ``allowed`` is the intersection of every
        positive test's positions (cross-LAYER conjunctions like
        ``[lemma="cat" & word!="cats"]`` — the Lucene AND-of-fields span
        analog) minus every negated test's. A slot without a posted
        positive test keeps its negated ones as ``banned``, resolved
        while its window is enumerated (the reference executes negation
        inside Lucene span queries; ``plans/concept-sketch-spec.md:60``).
        Tests on layers without postings (closed-class tags, checked
        against the forward store) become ``filters``; a positive one
        that matches no value (``"_"``, a regex with an empty
        expansion) empties the slot.

        A slot with one posted test IS its test map (no copy); combined
        position sets cache under their signature."""
        from ..plans.cql import DEFAULT_LAYERS, effective_test
        from .positions import NONE, combine, union

        posted = self.posted_layers
        parsed = []
        for st in steps:
            if st.item.alts:
                raise NotImplementedError(
                    "cross-attr `|` disjunctions union positions ACROSS "
                    "layers — not expressible over per-layer postings; "
                    "route to the distributed compile (pattern_spans_df)")
            if not st.item.tests:
                raise NotImplementedError(
                    "constraint slot with no tests — use [] gaps")
            tests = []
            for t in map(effective_test, st.item.tests):
                layer = DEFAULT_LAYERS.get(t.attr)
                if layer is None:
                    raise NotImplementedError(
                        f"attribute {t.attr!r} has no indexed layer "
                        f"(available: {sorted(DEFAULT_LAYERS)})")
                tests.append((layer, t))
            parsed.append(tests)
        out = []
        for tests in parsed:
            on_postings = [(layer, t) for layer, t in tests
                           if layer in posted]
            sig = tuple((layer, t.value, t.negated)
                        for layer, t in on_postings) + (max_terms_per_slot,)
            sets = self._cache.get("slot", sig)
            if sets is None:
                pos_maps = [self._test_map(layer, t, max_terms_per_slot)
                            for layer, t in on_postings if not t.negated]
                ban_maps = [self._test_map(layer, t, max_terms_per_slot)
                            for layer, t in on_postings if t.negated]
                if len(pos_maps) + len(ban_maps) <= 1:
                    sets = ((pos_maps[0], None) if pos_maps else
                            (None, ban_maps[0] if ban_maps else None))
                else:
                    sets = self._cache.put("slot", sig, (
                        (combine(pos_maps, ban_maps), None) if pos_maps
                        else (None, union(ban_maps))))
            allowed, banned = sets
            filters = []
            for layer, t in tests:
                if layer in posted:
                    continue
                if t.is_literal:
                    # "_" is no annotation, never a value; a value the
                    # docs do not hold misses the filter's code table
                    v = t.value.replace("\\", "")
                    values = (v,) if v != "_" else ()
                else:
                    values = tuple(self.expand_terms(
                        t.value, max_terms_per_slot, layer))
                if not values:
                    if t.negated:
                        continue  # bans nothing
                    allowed, banned, filters = NONE, None, []
                    break
                filters.append((layer, values, t.negated))
            out.append(Slot(allowed, banned, tuple(filters)))
        return out

    def _keep(self, slot: "Slot", docs):
        """The slot's ``keep`` callable for :func:`.positions.chain`
        over ``docs`` — banned positions out, every forward filter
        applied as one gather of codes into a table of the test's
        values — or ``None`` when the slot has neither. A position past
        its doc's array, or holding ``"_"`` (never a dictionary value),
        fails a positive test and passes a negated one (the
        ``plans.cql._ANNOT_LAYERS`` convention)."""
        import numpy as np

        from .positions import POS, gather, keyed, member

        if slot.banned is None and not slot.filters:
            return None
        ban = None if slot.banned is None else keyed(slot.banned, docs)
        checks = []
        for layer, values, negated in slot.filters:
            flat = self._forward_codes(docs, layer)
            book = self._codebook
            # the last entry answers code -1 (past the array's end)
            lut = np.zeros(len(book) + 1, dtype=bool)
            lut[[book[v] for v in values if v in book]] = True
            checks.append((flat, lut, negated))

        def keep(keys):
            ok = (np.ones(keys.size, dtype=bool) if ban is None
                  else ~member(keys, ban))
            rank, pos = keys >> 32, keys & POS
            for flat, lut, negated in checks:
                hit = lut[gather(flat, rank, pos, -1)]
                ok &= ~hit if negated else hit
            return ok

        return keep

    def pattern_hits(self, pattern: str | Query,
                     max_terms_per_slot: int = 256,
                     within_sentence: bool = False
                     ) -> list[tuple[int, int, int]]:
        """Index-side mini-BCQL execution — the reference's main query
        path runs CQL against the Lucene index
        (``BlackLabQueryExecutor.java:117-144``); each token constraint
        expands through its LAYER's term dictionary (term/lemma/upos/
        xpos/deprel), tests on posted layers read positional postings
        via pruned scans (``index.build.build_layer_postings``), tests
        on closed-class layers read the forward store, and the
        constraint sequence chains over whole-candidate ``(doc, pos)``
        arrays with the ``[]{min,max}`` gap windows
        (:func:`.positions.chain`, the SpanNear generalization of
        :meth:`phrase_hits`).

        Negation: ``attr!="..."`` subtracts banned positions; a slot
        without a positive posted test matches any token in its gap
        window that passes its tests. At least one slot must have a
        positive test; purely negative patterns are DataFrame-path
        only.

        ``within_sentence=True`` drops matches whose ends lie in
        different sentences (``sent_no`` forward array — the reference
        indexes ``<s>`` spans and gap patterns never cross them,
        ``conllu-sentences.blf.yaml:16``).

        Returns distinct ``[(doc_id, start, end)]`` sorted.

        ``pattern`` is a query string or a ``plans.cql.Query``. Its
        ``within <s/>`` clause sets ``within_sentence`` too; bounded
        token quantifiers (``[xpos="JJ.*"]{1,2}``) execute as the union
        of their concrete-length variants; inter-slot constraints
        (``& 1.xpos = 2.xpos``) compare the labelled slots' forward
        values.
        """
        import numpy as np

        from ..plans.cql import parse_query

        q = parse_query(pattern)
        if q.containing:
            raise ValueError("a `<s/> containing` query yields sentence "
                             "spans — use sentence_spans_containing or "
                             "pattern_spans_df")
        if q.has_alts:
            raise NotImplementedError(
                "cross-attr `|` disjunctions union positions ACROSS "
                "layers — not expressible over per-layer postings; use "
                "pattern_spans_df (routes to the forward-store "
                "distributed compile)")
        spans = []
        for v in q.variants:
            doc, mat = self._chain_matches(
                v.steps, max_terms_per_slot,
                within_sentence or q.within_sentence, q.constraints)
            spans.append(np.column_stack([doc, mat[:, 0], mat[:, -1]]))
        spans = np.unique(np.concatenate(spans), axis=0)
        return list(zip(*(spans[:, i].tolist() for i in range(3))))

    def _chain_matches(self, steps, max_terms_per_slot: int,
                       within_sentence: bool, constraints=()):
        """``(doc, positions)``: every match of a constraint sequence
        (``plans.cql._steps``) — its doc per row and an (n_matches ×
        n_slots) position matrix, rows distinct and sorted by (doc,
        positions) — the shared core of :meth:`pattern_hits`,
        :meth:`pattern_matches` and the dual sketch window.

        Candidate docs are those in every slot with posted positive
        tests (every doc of ``doc_lens`` when no slot has one); the
        chain keys rank into them (:mod:`.positions`), so any int64 doc
        id is safe. ``constraints`` (``plans.cql.SlotConstraint``)
        compare the forward values of two labelled slots per match."""
        from .positions import POS, chain, common_docs, same_sentence

        labels = {}
        for i, st in enumerate(steps):
            if st.item.label is not None:
                labels.setdefault(st.item.label, i)
        slots = self._slot_maps(steps, max_terms_per_slot)
        if all(s.allowed is None and all(neg for _, _, neg in s.filters)
               for s in slots):
            raise NotImplementedError(
                "pattern needs at least one non-negated constraint "
                "index-side (purely negative patterns are DataFrame-"
                "path only: plans.cql.compile_cql)")
        cand = [s.allowed for s in slots if s.allowed is not None]
        if cand:
            docs = common_docs(cand)
            # a slot that enumerates its window stops at the doc's end;
            # a positive forward check already rejects positions past
            # it, so only slots without one need the doc lengths
            dls = (doc_lengths(self._all_docs(), docs)
                   if any(s.allowed is None
                          and all(neg for _, _, neg in s.filters)
                          for s in slots) else None)
        else:
            docs, dls = self._all_docs()
        mat = chain(docs, [(s.allowed, self._keep(s, docs)) for s in slots],
                    [(st.lo, st.hi) for st in steps], dls)
        if within_sentence and mat.shape[0]:
            # first and last slot in one sentence (sentences are
            # position-contiguous, so the two ends bound every slot
            # between); a doc without a stored sent_no array is a flat
            # stream and keeps its matches
            mat = mat[same_sentence(self._forward_flat(docs, "sent_no"),
                                    mat[:, 0] >> 32, mat[:, 0] & POS,
                                    mat[:, -1] & POS)]
        for c in constraints:
            if not mat.shape[0]:
                break
            a, b = (self._codes_at(docs, attr, mat[:, labels[lab]])
                    for attr, lab in ((c.attr_a, c.label_a),
                                      (c.attr_b, c.label_b)))
            same = a == b
            mat = mat[~same if c.negated else same]
        return docs[mat[:, 0] >> 32], mat & POS

    def _codes_at(self, docs, attr: str, keys):
        """``attr``'s forward codes (:meth:`_forward_codes`) at ``keys``
        (built over ``docs``), ``-1`` past a doc's array."""
        from ..plans.cql import DEFAULT_LAYERS
        from .positions import POS, gather

        if attr == "class":
            raise NotImplementedError(
                "the virtual `class` attribute has no forward layer — "
                "use pattern_spans_df")
        return gather(self._forward_codes(docs,
                                          DEFAULT_LAYERS.get(attr, attr)),
                      keys >> 32, keys & POS, -1)

    def pattern_matches(self, pattern: str | Query,
                        max_terms_per_slot: int = 256,
                        within_sentence: bool = False
                        ) -> list[tuple[int, tuple[int, ...]]]:
        """Distinct full match assignments ``[(doc_id, (pos per token
        constraint...))]`` — the labeled-capture twin of
        :meth:`pattern_hits` (what collocate extraction needs: the
        position of EVERY slot, not just the span ends). ``pattern`` is
        a query string or a ``plans.cql.Query`` (a head-substituted
        relation variant); its inter-slot constraints and ``within
        <s/>`` clause apply."""
        from ..plans.cql import parse_query

        q = parse_query(pattern)
        if q.containing:
            raise ValueError("a `<s/> containing` query yields sentence "
                             "spans — use sentence_spans_containing or "
                             "pattern_spans_df")
        if q.has_repetitions:
            raise NotImplementedError(
                "labeled-capture matching with repetition quantifiers "
                "is ambiguous (variants have different slot counts) — "
                "use pattern_hits for spans")
        doc, mat = self._chain_matches(
            q.steps, max_terms_per_slot,
            within_sentence or q.within_sentence, q.constraints)
        return list(zip(doc.tolist(), map(tuple, mat.tolist())))

    def relation_matches(self, query, max_terms_per_slot: int = 256
                         ) -> list[tuple[int, int, int]]:
        """INDEX-side execution of a BCQL dependency-relation query
        ``SOURCE -deprel-> TARGET`` (``plans.cql.RelationQuery``) — the
        reference's relation-operator path
        (``BlackLabQueryExecutor.java:211-229``) over the engine's own
        artifacts: the DEPENDENT side (target tests + the positive
        ``deprel`` test) yields candidate positions — from its posted
        tests, else from its candidate docs' positions checked against
        the forward store — then the ``sent_no``/``token_id``/``head``
        forward arrays resolve every dependent to its governor position
        at once (CoNLL-U token ids are dense 1..n per sentence, so
        governor position = sentence start + head-id − 1, verified
        against the stored token_id), and the source slot checks the
        governors. Returns ``[(doc_id, gov_pos, dep_pos)]`` ordered by
        (doc_id, dep_pos).
        """
        import numpy as np

        from ..plans.cql import (
            AttrTest,
            TokenItem,
            _steps,
            parse_relation_query,
        )
        from .positions import (
            POS,
            chain,
            common_docs,
            gather,
            keyed,
            member,
            take,
        )

        rq = (parse_relation_query(query) if isinstance(query, str)
              else query)
        if rq is None:
            raise ValueError(f"not a relation query: {query!r}")
        dep_item = TokenItem(list(rq.target.tests)
                             + [AttrTest("deprel", rq.deprel)])
        (dep,) = self._slot_maps(_steps([dep_item]), max_terms_per_slot)
        src = None
        if rq.source.tests:
            if all(t.negated for t in rq.source.tests):
                raise NotImplementedError(
                    "purely negative source operand is DataFrame-path "
                    "only (operators.dependency.relation_query_pairs)")
            (src,) = self._slot_maps(_steps([rq.source]),
                                     max_terms_per_slot)
        cand = [s.allowed for s in (dep, src)
                if s is not None and s.allowed is not None]
        if cand:
            docs = common_docs(cand)
            dls = (None if dep.allowed is not None
                   else doc_lengths(self._all_docs(), docs))
        else:
            docs, dls = self._all_docs()
        if not docs.size:
            return []
        dk = chain(docs, [(dep.allowed, self._keep(dep, docs))], [(0, 0)],
                   dls)[:, 0]
        rank, dp = dk >> 32, dk & POS
        flat = self._forward_flat(docs, "sent_no")
        sent, off, lens = flat
        s, ok = take(flat, rank, dp)
        rank, dp = rank[ok], dp[ok]
        if not rank.size:
            return []
        # each array gathers through its own offsets: a doc without a
        # sent_no array (a flat stream) still has head/token_id arrays
        hd = gather(self._forward_flat(docs, "head"), rank, dp, 0)
        # a sentence starts at the first flat index of its (rank,
        # sent_no) key — sorted keys, since sentences are contiguous
        start = np.searchsorted(
            np.repeat(np.arange(docs.size), lens) << 32 | sent,
            rank << 32 | s) - off[rank]
        gp = start + hd - 1
        gs, ok = take(flat, rank, np.where(hd > 0, gp, -1))
        rank, dp, gp, hd, s = rank[ok], dp[ok], gp[ok], hd[ok], s[ok]
        ok = ((gather(self._forward_flat(docs, "token_id"), rank, gp, 0)
               == hd) & (gs == s))
        if src is not None:
            gk = rank << 32 | gp
            if src.allowed is not None:
                ok &= member(gk, keyed(src.allowed, docs))
            keep = self._keep(src, docs)
            if keep is not None:
                ok &= keep(gk)
        return list(zip(docs[rank[ok]].tolist(), gp[ok].tolist(),
                        dp[ok].tolist()))

    def relation_matches_auto(self, query, max_terms_per_slot: int = 256,
                              df_budget: int = 500_000
                              ) -> list[tuple[int, int, int]]:
        """:meth:`relation_matches` behind the relation-query router
        (:meth:`_relation_route`): a hot query runs as the distributed
        dependency join and its match list comes back through one Arrow
        batch exchange, ordered by (doc_id, gp, dp)."""
        out = self._relation_route(query, max_terms_per_slot, df_budget)
        if isinstance(out, list):
            return out
        pdf = out.orderBy("doc_id", "gp", "dp").toPandas()
        return list(zip(pdf["doc_id"].astype(int).tolist(),
                        pdf["gp"].astype(int).tolist(),
                        pdf["dp"].astype(int).tolist()))

    def _relation_route(self, query, max_terms_per_slot: int = 256,
                        df_budget: int = 500_000,
                        dep_capture: str | None = None):
        """The one router for relation queries: the
        :meth:`relation_join_df` plan on the hot route, else the
        in-driver :meth:`relation_matches` list. The dependent side
        always carries a positive ``deprel`` test whose Σcf is a fixed
        fraction of the corpus, and the in-driver resolver pays (a) the
        postings pull (Σcf of every test) and (b) FULL forward-array
        reads (sent_no/token_id/head) for every candidate doc —
        O(candidate docs × avgdl), bounded by the most selective
        Σcf (cf ≥ df) of a test that drives the candidates, else by the
        corpus (:meth:`_drives`) — which dominates. Over
        ``df_budget``, when an expansion hit the cap, or for a purely
        negative source (a corpus-sized position complement) the query
        runs distributed — unless the index has no forward store to
        serve the plan: a route change never changes results, so that
        case falls back to the in-driver resolver."""
        from ..plans.cql import AttrTest, parse_relation_query

        rq = (parse_relation_query(query) if isinstance(query, str)
              else query)
        if rq is None:
            raise ValueError(f"not a relation query: {query!r}")
        tests = [*rq.target.tests, AttrTest("deprel", rq.deprel),
                 *rq.source.tests]
        hot = bool(rq.source.tests) and all(t.negated
                                            for t in rq.source.tests)
        if not hot:
            costs = self._test_costs(tests, max_terms_per_slot)
            est_docs = min([c for t, (c, _) in zip(tests, costs)
                            if self._drives(t)] + [self.stats["n_docs"]])
            hot = (sum(c for c, _ in costs)
                   + int(est_docs * self.stats["avgdl"]) * 4 > df_budget
                   or any(capped for _, capped in costs))
        if hot:
            try:
                return self.relation_join_df(rq, dep_capture)
            except NotImplementedError:
                pass
        return self.relation_matches(rq, max_terms_per_slot)

    def relation_join_df(self, rq, dep_capture: str | None = None
                         ) -> DataFrame:
        """The distributed governor→dependent join over the forward
        token table (column-pruned): one row per match ``(doc_id, gp,
        dp[, colloc])``; ``dep_capture`` additionally projects the
        dependent's value on that layer (in-plan collocate identity —
        no per-doc forward pulls). Raises when the index has no
        forward store."""
        from ..plans.cql import (
            DEFAULT_LAYERS,
            AttrTest,
            TokenItem,
            _item_predicate,
            effective_test,
        )

        dep_tests = list(rq.target.tests) + [AttrTest("deprel", rq.deprel)]
        need = {"sent_no", "token_id", "head"}
        for t in [*dep_tests, *rq.source.tests]:
            a = effective_test(t).attr
            need.add("term" if a == "class" else DEFAULT_LAYERS.get(a, a))
        if dep_capture:
            need.add(DEFAULT_LAYERS.get(dep_capture, dep_capture))
        tokens = self.forward_token_table(columns=need)
        if tokens is None or not need <= set(tokens.columns):
            raise NotImplementedError(
                "distributed relation queries need the forward_layers "
                "store with structural arrays "
                "(index.build.build_conllu_index)")
        cols = tokens.columns
        gov = tokens.filter(_item_predicate(rq.source, cols)).select(
            F.col("doc_id").alias("gd"), F.col("sent_no").alias("gs"),
            F.col("token_id").alias("gt"), F.col("pos").alias("gp"))
        dsel = ["doc_id", "sent_no", "head", F.col("pos").alias("dp")]
        if dep_capture:
            dsel.append(F.col(DEFAULT_LAYERS.get(dep_capture, dep_capture))
                        .alias("colloc"))
        dep = tokens.filter(
            (F.col("head") > 0)
            & _item_predicate(TokenItem(dep_tests), cols)
        ).select(*dsel)
        out_cols = ["doc_id", "gp", "dp"] + (["colloc"] if dep_capture
                                             else [])
        return (dep.join(gov, (dep["doc_id"] == gov["gd"])
                         & (dep["sent_no"] == gov["gs"])
                         & (dep["head"] == gov["gt"]))
                .select(*out_cols))

    def _drives(self, test) -> bool:
        """Does ``test`` bound the in-driver candidates? Only a positive
        test on a posted layer does: the chain pulls its positions. A
        query without such a test enumerates every doc of ``doc_lens``
        and reads their forward arrays, so the routers price it at the
        corpus, however rare its values."""
        from ..plans.cql import DEFAULT_LAYERS, effective_test

        t = effective_test(test)
        return (not t.negated
                and DEFAULT_LAYERS.get(t.attr) in self.posted_layers)

    def pattern_cost(self, pattern: str | Query,
                     max_terms_per_slot: int = 256
                     ) -> tuple[int, bool]:
        """(Σcf over every test's dictionary values, hit-the-cap flag)
        — the postings-volume estimate that decides whether the
        in-process span chain is the right tool. The chain decodes
        POSITION lists, whose size is the collection frequency — a
        class-wide layer slot (``[xpos="NN.*"]``) has cf ≈ dl·df, so a
        df-based estimate under-counts it ~100× and keeps corpus-sized
        pulls in the driver. Read from the dictionary only, never the
        postings: a literal test costs its value's cf, a regex test the
        Σcf of its expansion (:meth:`expand_terms`), both cached and
        reused by the chain itself. A closed-class test is priced the
        same way, though the chain checks it against the forward store
        instead of decoding its positions. A test whose expansion has more
        than ``max_terms_per_slot`` values is capped: its sum covers
        only the first ``max_terms_per_slot + 1`` values, so the cost is
        a lower bound — and a capped pattern routes distributed
        anyway."""
        from ..plans.cql import parse_query

        costs = self._test_costs(
            [t for st in parse_query(pattern).steps for t in st.item.tests],
            max_terms_per_slot)
        return (sum(c for c, _ in costs),
                any(capped for _, capped in costs))

    def _test_costs(self, tests, max_terms_per_slot: int
                    ) -> list[tuple[int, bool]]:
        """(Σcf, capped) per test, as :meth:`pattern_cost` prices it —
        every literal of the call in one cf lookup; a test on an
        unindexed attribute costs ``(0, False)``."""
        from ..plans.cql import DEFAULT_LAYERS, effective_test

        tests = [(DEFAULT_LAYERS.get(t.attr), t)
                 for t in map(effective_test, tests)]
        cfs = self._cfs([(layer, t.value.replace("\\", ""))
                         for layer, t in tests
                         if layer is not None and t.is_literal])
        out = []
        for layer, t in tests:
            if layer is None:
                out.append((0, False))
            elif t.is_literal:
                out.append((cfs[(layer, t.value.replace("\\", ""))],
                            False))
            else:
                rows = self._expansion(layer, t.value, max_terms_per_slot)
                out.append((sum(cf for _v, cf in rows),
                            len(rows) > max_terms_per_slot))
        return out

    # a broadcast side above this many positions is a driver/executor
    # memory hazard (~0.5 GB of packed rows) — fall back to shuffle
    broadcast_slot_max_cf = 64_000_000

    def _selective_broadcast_safe(self, q: Query) -> bool:
        """May compile_cql hint literal word/lemma slots broadcast for
        this pattern? Every positive literal surface/lemma test must be
        under the broadcast cf cap (cf lookups, cached — already filled
        by :meth:`pattern_cost` on this path): a stopword slot at web
        scale must shuffle, not broadcast."""
        from ..plans.cql import DEFAULT_LAYERS, effective_test

        keys = [(layer, t.value.replace("\\", ""))
                for st in q.steps
                for t in map(effective_test, st.item.tests)
                if t.is_literal and not t.negated
                and (layer := DEFAULT_LAYERS.get(t.attr))
                in ("term", "lemma", "word_cs", "lemma_cs")]
        return all(cf <= self.broadcast_slot_max_cf
                   for cf in self._cfs(keys).values())

    def _pattern_fallback_tokens(self, q: Query, within_sentence: bool):
        """Column-pruned forward token table able to serve the query
        ``q`` distributed, or ``None`` when the store is absent or lacks
        a tested layer (the pattern then stays on the capped index path,
        documented best-effort like the reference's max term
        expansion)."""
        need = set(q.layers)
        if within_sentence:
            need.add("sent_no")
        tokens = self.forward_token_table(columns=need)
        if tokens is not None and not need <= set(tokens.columns):
            tokens = None
        return tokens

    def _doc_meta(self) -> DataFrame:
        """The ``doc_meta`` store's dataset handle; raises when the
        index has none."""
        meta = self._dataset("doc_meta", required=False)
        if meta is None:
            raise NotImplementedError(
                "index has no doc_meta store — rebuild with build_index "
                "over pages that carry metadata columns (every non-id/"
                "non-text column is stored)")
        return meta

    def _meta_allowed_df(self, doc_filter: str) -> DataFrame:
        """Allowed-id PLAN for a metadata predicate (no collect): the
        in-plan twin of :meth:`filtered_doc_ids` for distributed
        consumers (semi-join side)."""
        return self._doc_meta().filter(F.expr(doc_filter)).select("doc_id")

    def _span_route(self, q: Query, max_terms_per_slot: int,
                    df_budget: int, within_sentence: bool):
        """The one router for index-side spans: a sorted in-driver span
        list from :meth:`pattern_hits`, or a ``(doc_id, start, end)``
        plan over the forward store.

        - ``[!]containing`` span filters: the sentence-span plan;
        - inter-slot constraints and cross-attr ``|`` disjunctions need
          layer VALUES at matched positions or a union ACROSS layers,
          which only the forward token table serves: always the
          distributed compile (raises without a store carrying every
          constrained layer);
        - otherwise the Σcf estimate decides, plus the corpus's token
          count when no test drives the candidates (:meth:`_drives`):
          over ``df_budget`` (or when an expansion hit the term cap)
          the distributed compile, if the store carries every tested
          layer; else the in-driver span chain."""
        from ..plans.cql import compile_cql

        if q.containing:
            return (self.sentence_spans_containing(q)
                    .select("doc_id", "start", "end"))
        within_sentence = within_sentence or q.within_sentence
        if q.constraints or q.has_alts:
            tokens = self._pattern_fallback_tokens(q, within_sentence)
            if tokens is None:
                raise NotImplementedError(
                    "inter-slot constraints need the forward token "
                    "store carrying every constrained layer — rebuild "
                    "with store_docstore=True / build_conllu_index, or "
                    "use plans.cql.compile_cql over a token DataFrame")
        else:
            cost, capped = self.pattern_cost(q, max_terms_per_slot)
            if not any(self._drives(t) for st in q.steps
                       for t in st.item.tests):
                cost += int(self.stats["n_docs"] * self.stats["avgdl"])
            tokens = (self._pattern_fallback_tokens(q, within_sentence)
                      if cost > df_budget or capped else None)
            if tokens is None:
                return self.pattern_hits(q, max_terms_per_slot,
                                         within_sentence=within_sentence)
        return (compile_cql(
            tokens, q, keep_terms=False,
            within_sentence=within_sentence,
            selective_broadcast=self._selective_broadcast_safe(q))
            .select("doc_id", "start", "end"))

    def pattern_spans_df(self, pattern: str,
                         max_terms_per_slot: int = 256,
                         df_budget: int = 500_000,
                         within_sentence: bool = False,
                         doc_filter: str | None = None) -> DataFrame:
        """Pattern spans as a DATAFRAME ``(doc_id, start, end)`` —
        the plan-shaped twin of :meth:`pattern_hits_auto`. On the
        distributed route the returned plan never materializes spans on
        the driver (a hot pattern has O(corpus) matches; consumers push
        their own window/limit before any collect — see
        ``query.concordance.index_pattern_concordance``). Under the
        Σcf budget the in-driver span chain runs and its (bounded)
        span list is parallelized back — same result shape either way.

        ``doc_filter`` (SQL predicate over the ``doc_meta`` store)
        restricts matches to passing documents — semi-joined in-plan on
        the distributed route, masked driver-side on the bounded
        in-driver route (BlackLab's metadata-filtered CQL).
        """
        from ..plans.cql import parse_query

        out = self._span_route(parse_query(pattern), max_terms_per_slot,
                               df_budget, within_sentence)
        if not isinstance(out, list):
            if doc_filter is not None:
                out = out.join(self._meta_allowed_df(doc_filter),
                               "doc_id", "left_semi")
            return out
        return bounded_rows_df(
            self.spark, self._filter_spans(out, doc_filter),
            "doc_id long, start long, end long",
            ["doc_id", "start", "end"])

    def _filter_spans(self, spans: list, doc_filter: str | None) -> list:
        """An in-driver span list restricted to ``doc_filter``'s docs."""
        if doc_filter is None:
            return spans
        allowed = set(self.filtered_doc_ids(doc_filter).tolist())
        return [sp for sp in spans if sp[0] in allowed]

    def group_pattern_hits(self, pattern: str, layer_col: str = "term",
                           k: int = 20,
                           within_sentence: bool = False) -> DataFrame:
        """INDEX-served hit-text frequency list (BlackLab "group hits"):
        spans from whichever tier :meth:`pattern_spans_df` routes to,
        hit text gathered from the forward store's token table, grouped
        and ranked by the shared kernel — the whole trace is a plan;
        only the top-k rows ever reach the driver."""
        from ..plans.cql import spans_group_freq

        tokens = self.forward_token_table(columns={layer_col})
        if tokens is None or layer_col not in tokens.columns:
            raise NotImplementedError(
                f"index stores no '{layer_col}' forward layer — rebuild "
                "with store_docstore=True / build_conllu_index, or use "
                "plans.cql.group_pattern_hits over a token DataFrame")
        spans = self.pattern_spans_df(pattern,
                                      within_sentence=within_sentence)
        return spans_group_freq(spans, tokens, layer_col, k)

    def sample_pattern_hits(self, pattern: str, n: int,
                            seed: int = 0,
                            within_sentence: bool = False) -> DataFrame:
        """INDEX-served deterministic hit sample (BlackLab's
        ``sample``/``samplenumber`` parameters, seeded): spans from
        whichever tier :meth:`pattern_spans_df` routes to, sampled by
        the shared seeded-hash kernel — the top-n heap runs in-plan,
        so only n rows ever reach the driver even on the distributed
        route."""
        from .docs import sample_spans

        return sample_spans(
            self.pattern_spans_df(pattern,
                                  within_sentence=within_sentence),
            n, seed=seed)

    def docs_group_by(self, pattern: str,
                      facet_cols: tuple[str, ...] = ("lang",),
                      within_sentence: bool = False) -> DataFrame:
        """INDEX-served DOCS view (BlackLab ``/docs?group=field:...``):
        per-document hit counts for a pattern grouped by stored
        ``doc_meta`` metadata fields. The facet aggregate is id-free,
        so the index's dense internal doc ids never surface."""
        from .docs import docs_facets

        meta = self._doc_meta()
        return docs_facets(
            self.pattern_spans_df(pattern,
                                  within_sentence=within_sentence),
            meta, facet_cols)

    def subcorpus_keywords(self, predicate: str, k: int = 20,
                           round_dp: int | None = 4) -> DataFrame:
        """INDEX-served keyword extraction: the subcorpus flag comes
        from the ``doc_meta`` store, term occurrences from the forward
        token table, scored by the shared Dunning-G² tail — everything
        in-plan, ids never leave the executors (the output is id-free,
        so the index's dense internal doc ids don't surface)."""
        from ..operators.keywords import keywords_from_flagged_tokens

        tokens = self.forward_token_table(columns={"term"})
        if tokens is None:
            raise NotImplementedError(
                "index has no forward store — rebuild with "
                "store_docstore=True, or use operators.keywords."
                "subcorpus_keywords over the document table")
        flag = (self._doc_meta()
                .select("doc_id",
                        F.expr(predicate).cast("int").alias("in_a")))
        tok = tokens.join(flag, "doc_id").select("in_a", "term")
        return keywords_from_flagged_tokens(tok, k, round_dp)

    def sentence_spans_containing(self, pattern: str | Query,
                                  negated: bool = False) -> DataFrame:
        """Index-served ``<s/> [!]containing PATTERN``: sentence spans
        ``(doc_id, sent_no, start, end)`` holding (or, negated, NOT
        holding) a full match — the BlackLab span-filter operator over
        this index's forward-layer store. Always a DataFrame plan
        (``!containing`` enumerates the corpus's sentence complement,
        O(corpus) rows — never a driver list)."""
        from ..plans.cql import parse_query, sentence_spans_containing

        q = parse_query(pattern)
        tokens = self._pattern_fallback_tokens(q, within_sentence=True)
        if tokens is None:
            raise NotImplementedError(
                "containing needs the forward-layer store (build the "
                "index with build_conllu_index/build_layer_postings); "
                "over a plain token table use "
                "plans.cql.sentence_spans_containing")
        return sentence_spans_containing(
            tokens, q, negated=negated,
            selective_broadcast=self._selective_broadcast_safe(q))

    def pattern_hits_auto(self, pattern: str,
                          max_terms_per_slot: int = 256,
                          df_budget: int = 500_000,
                          within_sentence: bool = False,
                          doc_filter: str | None = None
                          ) -> list[tuple[int, int, int]]:
        """:meth:`pattern_hits` with the hot-pattern guard: a
        vocabulary-wide slot (e.g. ``[word="[a-z0-9]+"]``) would pull a
        vocabulary-scale postings union driver-side, so when the Σcf
        estimate exceeds ``df_budget`` (or an expansion hit the term
        cap, which would silently truncate matches) the pattern runs as
        a distributed DataFrame plan over the forward token table
        instead — same spans, executor-side work, LAYER-complete: every
        attribute with a stored forward layer (term/lemma/upos/xpos/
        deprel + case variants) routes through the same fallback.

        NOTE the return type is a fully materialized span LIST — right
        for the in-driver path (bounded by the Σcf budget) and for
        tests; a routed-hot pattern's spans are O(corpus), so
        plan-shaped consumers (KWIC pages, collocate counting) should
        use :meth:`pattern_spans_df` and push their window/limit into
        the plan instead of collecting everything here. The transfer
        uses one Arrow batch exchange (``toPandas``), not row-at-a-time
        ``collect`` — ~5× cheaper at 10⁵⁺ spans.

        ``doc_filter`` restricts matches to documents passing a
        metadata predicate, on whichever route runs (the same router
        as :meth:`pattern_spans_df`)."""
        from ..plans.cql import parse_query

        out = self._span_route(parse_query(pattern), max_terms_per_slot,
                               df_budget, within_sentence)
        if isinstance(out, list):
            return self._filter_spans(out, doc_filter)
        if doc_filter is not None:
            out = out.join(self._meta_allowed_df(doc_filter), "doc_id",
                           "left_semi")
        return _span_list(out)

    def filtered_doc_ids(self, doc_filter: str):
        """Sorted doc_id array passing a SQL predicate over the stored
        ``doc_meta`` fields (the Lucene stored-metadata filter analog);
        cached per predicate. In-driver tier: O(selected docs) ids —
        right for interactive serving; a corpus-majority filter at web
        scale belongs on the in-plan path
        (``bm25_topk_df(doc_filter=…)`` semi-joins instead)."""
        import numpy as np

        return self._cache.get_or_put(
            "doc_filter", doc_filter,
            lambda: np.sort(self._doc_meta().filter(F.expr(doc_filter))
                            .select("doc_id").toPandas()["doc_id"]
                            .to_numpy(np.int64)))

    def _check_mode(self, mode: str) -> None:
        if mode not in self.MODES:
            raise ValueError(
                f"unknown search mode {mode!r}: expected one of "
                f"{', '.join(self.MODES)}")

    def search(self, query: str | list[str], k: int = 10, mode: str = "auto",
               doc_filter: str | None = None
               ) -> tuple[list[tuple[int, float]], dict]:
        """Top-k ``(doc_id, score)`` for a free-text query or term list.

        ``mode``: ``auto`` (vectorized for head-heavy queries, block-max
        WAND when a selective term makes pruning viable), ``bmw``,
        ``wand`` (global-bound), ``vec`` (vectorized exhaustive),
        ``daat`` (per-doc exhaustive — validation baseline); any other
        value raises ``ValueError``.

        All modes are rank- and score-identical; they differ only in
        blocks decoded and constant factors.

        ``doc_filter`` (SQL predicate over the stored ``doc_meta``
        fields, e.g. ``"lang = 'en'"``) restricts candidates; collection
        statistics stay corpus-level (Lucene filter-query semantics).
        Filtered queries run on the vectorized tier with the allowed-id
        mask applied AFTER the per-term decode cache, so the cache stays
        filter-agnostic.
        """
        self._check_mode(mode)
        terms = tokenize_py(query) if isinstance(query, str) else list(query)
        # dedupe preserving order (reference queries are unique-term sets)
        seen: set[str] = set()
        terms = [t for t in terms if not (t in seen or seen.add(t))]
        if not terms:
            return [], {"decoded_blocks": 0, "total_blocks": 0}
        blocks = self.prefetch(terms)
        dfs = _dfs(blocks)
        if all(dfs[t] == 0 for t in terms):
            return [], {"decoded_blocks": 0, "total_blocks": 0}
        if doc_filter is not None:
            return self._vec_cached(terms, blocks, dfs, k,
                                    allowed=self.filtered_doc_ids(doc_filter))
        if mode == "auto":
            # Pruning pays off when the rarest term is much more selective
            # than the rest (its bound dominates θ quickly). Otherwise the
            # vectorized exhaustive path wins on constant factors.
            live_dfs = [d for d in dfs.values() if d > 0]
            selective = len(live_dfs) > 1 and min(live_dfs) * 20 < max(live_dfs)
            mode = "bmw" if selective else "vec"
        if mode == "vec":
            return self._vec_cached(terms, blocks, dfs, k)
        cursors = [c for ti, t in enumerate(terms) if dfs[t]
                   for c in self._term_cursors(blocks[t], ti, dfs[t])]
        if not cursors:
            return [], {"decoded_blocks": 0, "total_blocks": 0}
        if mode == "daat":
            return exact_daat(cursors, k, len(terms))
        return block_max_wand(cursors, k, len(terms), use_block_max=(mode == "bmw"))

    def _vec_cached(self, terms: list[str], blocks: dict[str, list[dict]],
                    dfs: dict[str, int], k: int, allowed=None
                    ) -> tuple[list[tuple[int, float]], dict]:
        """Vectorized path with a decoded-postings cache for hot terms.
        ``allowed`` (sorted int64 array) masks each term's postings to
        the metadata-filtered candidate set — applied on a copy, never
        to the cached arrays."""
        import numpy as np

        from .wand import _decode_all, topk_from_arrays

        term_arrays = []
        decoded = total = 0
        for ti, t in enumerate(terms):
            if dfs[t] == 0:
                continue
            hit = self._cache.get("decoded", t)
            if hit is not None:
                docs, scores = hit
                total += int(np.ceil(docs.size / 128)) if docs.size else 0
            else:
                curs = self._term_cursors(blocks[t], ti, dfs[t])
                parts = [_decode_all(c) for c in curs]
                docs = np.concatenate([d for d, _ in parts]) if parts else np.empty(0, np.int64)
                scores = np.concatenate([s for _, s in parts]) if parts else np.empty(0, np.float64)
                order = np.argsort(docs, kind="stable")
                docs, scores = self._cache.put(
                    "decoded", t, (docs[order], scores[order]))
                decoded += sum(c.decoded_blocks for c in curs)
                total += sum(c.nblocks for c in curs)
            if allowed is not None and docs.size:
                # both sides sorted → membership via searchsorted
                pos = np.searchsorted(allowed, docs)
                pos[pos >= allowed.size] = 0
                m = allowed[pos] == docs if allowed.size else \
                    np.zeros(docs.size, dtype=bool)
                docs, scores = docs[m], scores[m]
            term_arrays.append((ti, docs, scores))
        out = topk_from_arrays(term_arrays, k)
        return out, {"decoded_blocks": decoded, "total_blocks": total}


def _span_list(spans: DataFrame) -> list[tuple[int, int, int]]:
    """Sorted ``(doc_id, start, end)`` rows of a span plan, through one
    Arrow batch exchange (``toPandas``)."""
    cols = ("doc_id", "start", "end")
    pdf = spans.select(*cols).orderBy(*cols).toPandas()
    return list(zip(*(pdf[c].astype(int).tolist() for c in cols)))


def _flat_sorted(parts: list) -> tuple:
    """One ``(doc, pos)`` position set from per-block pieces ordered by
    first doc. Blocks of different segment partitions interleave their
    doc ranges; a stable sort on doc restores ``(doc, pos)`` order (a
    doc's positions come from one posting, ascending)."""
    import numpy as np

    from .positions import NONE

    if not parts:
        return NONE
    doc = np.concatenate([d for d, _ in parts])
    pos = np.concatenate([p for _, p in parts])
    if doc.size > 1 and (doc[1:] < doc[:-1]).any():
        order = np.argsort(doc, kind="stable")
        doc, pos = doc[order], pos[order]
    return doc, pos


def _dfs(blocks: dict[str, list[dict]]) -> dict[str, int]:
    """term → df from its block rows: Σ``n``, as ``term_stats`` is
    derived at build and merge time."""
    return {t: sum(r["n"] for r in rows) for t, rows in blocks.items()}
