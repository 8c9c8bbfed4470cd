"""Index build pipeline: pages → tokens → segments (+stats, docstore).

Reference parity: this is the Spark-first re-expression of the whole
reference index build (``Main.java:111-144`` driving
``ConlluConverter`` chunking + ``BlackLabConllUIndexer`` → Lucene
segments). Stage map:

1. **tokens** — Arrow-vectorized tokenizer UDF (U1,
   ``tag_with_stanza.py`` analog) → exploded ``(doc_id, pos, term,
   dl)`` materialized as a compressed parquet stage (columnar,
   spill-free): the crash-resume point while the build runs. ``dl``
   is computed in-row during tokenization, so nothing downstream ever
   joins a doc-length table. No reader reads it: once every stage has
   committed, its data files are deleted and only its manifest stays
   (as in the reference, the finished index keeps no token stream). A
   later run that must rebuild ``segments`` or ``doc_lens`` re-runs
   this stage first.
2. **segments** — ONE *salted* shuffle of the flat token columns,
   keyed ``(term, pmod(hash(doc_id), doc_salt))`` (explicit skew
   defense: a head term splits across up to ``doc_salt`` partitions,
   each one doc-ordered run per ``seg_part``; the runs overlap in doc
   range, so readers keep a cursor per ``(term, seg_part)`` and re-sort
   positions), sorted ``(term, doc_id, pos)``, then the ``mapInPandas``
   codec kernel of ``segments.py``. Impact metadata (max_tf, min_dl)
   replaces precomputed scores, so this stage needs no collection
   statistics — the critical path is tokenize → shuffle → encode.
   Annotation-layer postings (:func:`build_layer_postings`) use the
   same kernel in its positions-only layout: nothing scores a layer,
   so they carry no ``dl`` (no ``max_tf``/``min_dl``).
3. **doc_lens / corpus stats** — one column-pruned aggregate over the
   tokens stage (runs CONCURRENTLY with segments; the scheduler
   interleaves the jobs — the engine-level analog of the reference's
   relation fan-out pool, ``SketchHandlers.java:48-49``).
4. **term_stats** — derived from segment *metadata* (``Σn = df``,
   ``Σsum_tf = cf`` per term), the collocation-style grouped aggregate
   (``CollocateQueryHelper.java:102-136``) over block rows instead of
   a second full pass over 10^12 tokens.
5. **docstore** — the stored documents (``BlackLabQueryExecutor.java:159``
   FORWARD_INDEX concordances): ``(doc_id, text)`` only. Readers
   derive the token array with the build's own ``tokens_expr``
   (``IndexSearcher.forward_arrays``), so each datum is stored once.

A CoNLL-U root (:func:`build_conllu_index`) has no docstore. Its
forward index is two stores, as BlackLab keeps integer term ids over a
terms file: ``lexicon`` holds one row per distinct tuple of a token's
string annotations (:data:`LEXICON_COLUMNS`) with a dense int
``type_id``, and ``forward_layers`` holds per doc, in position order,
one ``type_id`` array plus the structural ``sent_no``/``token_id``/
``head`` arrays. A token's annotations are one lexical analysis, so the
joint column costs their joint entropy, not the sum of six columns.

Every stage commits a :class:`~.manifest.StageManifest`; re-running
``build_index`` with identical inputs+config skips completed stages
(resumable builds, north rule) and reads the tokens stage only when a
stage that scans it is incomplete. Every write is sized by one rule,
:func:`_adaptive_parts` (one partition per 16 MB of token bytes), so a
small build writes one file per store and one run per term. The
posting stores, the docstore and the forward layers are written
through :func:`write_store`, which keeps parquet statistics off their
payload columns (VByte blobs, stored text, array elements): nothing
filters on them, and their min/max would only fatten each footer.
"""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor
from functools import reduce
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from ..functions.scoring import B, K1
from ..functions.tokenize import explode_tokens
from .manifest import (
    MANIFEST_NAME,
    StageManifest,
    config_fingerprint,
    input_fingerprint,
)
from .segments import BLOCK_SIZE, encode_postings

STATS_FILE = "stats.json"
# on-disk layout version, recorded in stats.json. 2: each datum stored
# once — docstore ``(doc_id, text)``, no CoNLL-U docstore, no
# case-folded ``term``/``lemma`` forward arrays. 3: lean postings —
# ``pos_vb`` is Δpos only (tf lives in ``tfs_vb``), layer postings
# carry no impacts, payload columns carry no parquet statistics. 4:
# closed-class layers a root's forward store carries have no postings
# (``layers`` holds the posted layers only; ``layer_stats`` all). 5:
# doc lengths stored once, in ``doc_lens`` (Lucene norms) — term
# segments repeat no doc length per posting. 6: one type id per token —
# the CoNLL-U forward store holds ``type_id`` arrays over a per-root
# ``lexicon`` of annotation tuples instead of one string array per layer
INDEX_FORMAT = 6

# opaque payload: never filtered on, so no min/max in the footers
PAYLOAD_COLUMNS = ("docs_vb", "tfs_vb", "pos_vb", "text")


def write_store(df: DataFrame, path: str | Path) -> None:
    """Overwrite one index store at ``path``, with parquet column
    statistics disabled on its :data:`PAYLOAD_COLUMNS` and on the
    elements of its array columns (the forward layers: no reader
    filters on a list element). ``term``, ``doc_id`` and
    ``first_doc``/``last_doc`` keep theirs, so pushdown is unchanged.
    Parquet keys the option by leaf path, so an array column's key is
    ``<col>.list.element``; its top-level name would be ignored.
    ``df`` comes sized by :func:`_adaptive_parts`; an
    :func:`~.segments.encode_postings` result is never coalesced."""
    w = df.write.mode("overwrite")
    for f in df.schema.fields:
        if f.name in PAYLOAD_COLUMNS:
            leaf = f.name
        elif isinstance(f.dataType, ArrayType):
            leaf = f"{f.name}.list.element"
        else:
            continue
        w = w.option(f"parquet.column.statistics.enabled#{leaf}", "false")
    w.parquet(str(path))


def check_format(stats: dict, root: str | Path) -> None:
    """Reject an index written in another on-disk layout: there is one
    read path, so an old index must be rebuilt, not half-served."""
    fmt = stats.get("format", 1)
    if fmt != INDEX_FORMAT:
        raise ValueError(
            f"index at {root} has on-disk format {fmt}, this library "
            f"reads format {INDEX_FORMAT} — rebuild it with build_index "
            f"/ build_conllu_index")


# one partition, and so one file, per this many bytes of a write
PART_BYTES = 16 << 20


def store_parts(nbytes: float, cap: int) -> int:
    """The sizing rule: ``ceil(nbytes / PART_BYTES)``, in ``[1, cap]``."""
    return max(1, min(cap, -(-int(nbytes) // PART_BYTES)))


def store_bytes(path: str | Path) -> int:
    """The parquet bytes of the store at ``path`` (0 when absent)."""
    return sum(f.stat().st_size for f in Path(path).rglob("*.parquet"))


def _adaptive_parts(spark: SparkSession, n_partitions: int | None,
                    nbytes: float | None, scale: float = 1.0) -> int:
    """Partition count of one index write (its shuffle's width, or the
    file count a per-doc store is coalesced to): an explicit
    ``n_partitions`` as given, else :func:`store_parts` of ``scale`` ×
    ``nbytes``, capped at the default parallelism (``nbytes`` None: the
    cap). Posting shuffles are sized by decoded token rows' parquet
    bytes (the tokens stage, kept as ``stats.json`` ``token_bytes``); a
    merge sums its inputs', so a build and a merge of equal token
    volume get equal counts. Layer shuffles scale them by the posted
    layers, a build's per-doc stores by their share (docs per token;
    forward columns per token-stage column); merge folds and the
    collocation store use the bytes of the stores they read. Never
    coalesce an :func:`~.segments.encode_postings` result: ``seg_part``
    is the encoder task's partition id."""
    if n_partitions:
        return n_partitions
    cap = spark.sparkContext.defaultParallelism
    return cap if nbytes is None else store_parts(nbytes * scale, cap)


class IndexPaths:
    """Directory layout of one index build."""

    def __init__(self, root: str | Path):
        self.root = Path(root)
        self.tokens = self.root / "tokens"
        self.doc_lens = self.root / "doc_lens"
        self.term_stats = self.root / "term_stats"
        self.segments = self.root / "segments"
        self.layers = self.root / "layers"
        self.layer_stats = self.root / "layer_stats"
        self.docstore = self.root / "docstore"
        self.doc_meta = self.root / "doc_meta"
        self.forward_layers = self.root / "forward_layers"
        self.lexicon = self.root / "lexicon"
        self.doc_names = self.root / "doc_names"
        self.stats = self.root / STATS_FILE


# annotation layers indexable beside the surface term layer — the
# reference indexes word/lemma/upos/xpos/deprel/feats as parallel
# searchable Lucene fields (conllu-sentences.blf.yaml:18-74); "feats"
# participates when the input carries the column (CoNLL-U col 6)
DEFAULT_EXTRA_LAYERS = ("lemma", "upos", "xpos", "deprel", "feats")

# CoNLL-U's fixed tag inventories: a posting list of one of their values
# covers a large share of the corpus, so a root whose forward store
# carries the layer checks its tests against that store instead
CLOSED_CLASS_LAYERS = ("upos", "xpos", "deprel", "feats")

# a CoNLL-U token's string annotations: one ``lexicon`` row per distinct
# tuple ("feats" only when the input carries it), and the token's
# ``type_id`` in its doc's ``forward_layers`` array
LEXICON_COLUMNS = ("upos", "xpos", "deprel", "feats", "word_cs", "lemma_cs")
# per-token ints the forward store keeps beside the type ids
STRUCTURAL_COLUMNS = ("sent_no", "token_id", "head")


def with_type_ids(tokens: DataFrame, lexicon: DataFrame, cols,
                  how: str = "inner") -> DataFrame:
    """``tokens`` plus the ``type_id`` of their ``cols`` tuple in
    ``lexicon`` (``how="left_anti"``: the tokens whose tuple it lacks),
    by a null-safe equi-join: under a plain ``==`` a token carrying a
    null annotation matches no lexicon row."""
    lex = lexicon.select("type_id",
                         *[F.col(c).alias(f"_lex_{c}") for c in cols])
    on = reduce(lambda a, b: a & b,
                [F.col(c).eqNullSafe(F.col(f"_lex_{c}")) for c in cols])
    return tokens.join(lex, on, how).drop(*[f"_lex_{c}" for c in cols])


def sorted_arrays(*cols: str) -> list:
    """Per-group aggregates: each of ``cols`` collected into one array
    in ``pos`` order (the forward store's per-doc arrays)."""
    z = F.array_sort(F.collect_list(F.struct("pos", *cols)))

    def field(c):
        return lambda s: s[c]

    return [F.transform(z, field(c)).alias(c) for c in cols]


def _token_bytes(paths: IndexPaths) -> int | None:
    """The root's ``stats.json`` ``token_bytes`` (None if unrecorded)."""
    return (json.loads(paths.stats.read_text()).get("token_bytes")
            if paths.stats.exists() else None)


def posted_layers(root: str | Path) -> list[str]:
    """The annotation layers with positional postings at ``root``: the
    ``layers`` stage manifest's ``config.layers`` (``[]`` without
    one). A layer with ``layer_stats`` rows but no postings is read
    from the forward store."""
    m = StageManifest(IndexPaths(root).layers, "layers").load() or {}
    return list(m.get("lineage", {}).get("config", {}).get("layers", []))


def _melt(layer_tokens: DataFrame, layers) -> DataFrame:
    """``(layer, value, doc_id, pos)``: one row per annotated token of
    each of ``layers``. ``"_"`` is CoNLL-U's explicit EMPTY value (no
    annotation): no dictionary row or posting holds it."""
    stack_args = ", ".join(f"'{c}', {c}" for c in layers)
    return (layer_tokens
            .select("doc_id", "pos",
                    F.expr(f"stack({len(layers)}, {stack_args}) "
                           "AS (layer, value)"))
            .filter(F.col("value").isNotNull() & (F.col("value") != "_")))


def layer_dictionary(melted: DataFrame) -> DataFrame:
    """``(layer, value, df, cf)`` of a melted layer table — the
    ``layer_stats`` dictionary, for posted and forward-checked layers
    alike."""
    return (melted.groupBy("layer", "value", "doc_id").count()
            .groupBy("layer", "value")
            .agg(F.count("*").alias("df"), F.sum("count").alias("cf")))


def build_layer_postings(
    spark: SparkSession,
    layer_tokens: DataFrame,
    out_dir: str | Path,
    *,
    layers: tuple[str, ...] = DEFAULT_EXTRA_LAYERS,
    doc_salt: int = 4,
    n_partitions: int | None = None,
    block_size: int = BLOCK_SIZE,
    input_paths: list[str] | None = None,
) -> None:
    """The ``layer_stats`` dictionary of EXTRA annotation layers
    (lemma/upos/xpos/deprel/feats) and their positional postings, the
    Lucene multi-field analog: each layer value is keyed
    ``"<layer>:<value>"`` so the SAME segment kernel, codec, and
    block-max layout serve every layer, and one parquet dataset holds
    them all (predicate pushdown on the prefixed key prunes to one
    layer's postings, exactly like a Lucene per-field terms dictionary).

    A closed-class layer (:data:`CLOSED_CLASS_LAYERS`) that the root's
    ``forward_layers`` store already carries gets no postings: readers
    check its tests against the forward values. Every other layer is
    posted. The ``layers`` manifest's ``config.layers`` lists the posted
    layers (:func:`posted_layers`); ``layer_stats`` covers every layer.

    ``layer_tokens``: ``(doc_id, pos, <layer columns>)`` — the
    ``sources.conllu.layer_tokens`` shape. Plan: a ``stack`` melt, one
    aggregate for the dictionary, then for the posted layers the same
    ONE salted shuffle as the term index. Layers are never scored, so
    the postings are positions-only: no ``dl``, no impacts.
    """
    paths = IndexPaths(out_dir)
    paths.root.mkdir(parents=True, exist_ok=True)
    if layers == DEFAULT_EXTRA_LAYERS:
        # optional layers (feats) participate only when stored
        layers = tuple(c for c in layers if c in layer_tokens.columns)
    fw = StageManifest(paths.forward_layers, "forward_layers").load() or {}
    forward = (set(fw["lineage"].get("config", {}).get("columns", []))
               if fw.get("status") == "complete" else set())
    posted = [c for c in layers
              if c not in CLOSED_CLASS_LAYERS or c not in forward]
    config = {"doc_salt": doc_salt, "n_partitions": n_partitions,
              "block_size": block_size, "layers": posted,
              "dictionary": list(layers), "format": INDEX_FORMAT}
    cfg_fp = config_fingerprint(config)
    inputs_fp = input_fingerprint(input_paths) if input_paths else "unspecified"

    missing = [c for c in layers if c not in layer_tokens.columns]
    if missing:
        raise ValueError(f"layer columns not in input: {missing}")
    melted = _melt(layer_tokens, layers)
    st = StageManifest(paths.layers, "layers")
    if not st.is_complete(inputs_fp, cfg_fp):
        # the melt multiplies the token rows by |posted|
        lay_parts = _adaptive_parts(
            spark, n_partitions, _token_bytes(paths), scale=len(posted))
        write_store(encode_postings(
            melted.filter(F.col("layer").isin(posted)).select(
                F.concat_ws(":", "layer", "value").alias("term"),
                "doc_id", "pos"),
            lay_parts, doc_salt=doc_salt, block_size=block_size,
            impacts=False), paths.layers)
        st.commit(inputs_fp, cfg_fp,
                  lineage={"inputs": input_paths or [], "config": config})
    st_ls = StageManifest(paths.layer_stats, "layer_stats")
    if not st_ls.is_complete(inputs_fp, cfg_fp):
        layer_dictionary(melted).write.mode("overwrite").parquet(
            str(paths.layer_stats))
        st_ls.commit(inputs_fp, cfg_fp,
                     lineage={"inputs": input_paths or [], "config": config})


def build_conllu_index(
    spark: SparkSession,
    parsed: DataFrame,
    out_dir: str | Path,
    *,
    layers: tuple[str, ...] = DEFAULT_EXTRA_LAYERS,
    doc_salt: int = 4,
    n_partitions: int | None = None,
    block_size: int = BLOCK_SIZE,
    store_docstore: bool = True,
    input_paths: list[str] | None = None,
    id_offset: int = 0,
    colloc_catalog=None,
) -> dict:
    """Full multi-layer index from a parsed CoNLL-U corpus — the
    reference's PRIMARY ingestion (tagger output → BlackLab multi-field
    index, ``index_corpus.sh`` / ``BlackLabConllUIndexer``): surface
    postings from the word layer plus positional postings per
    annotation layer, one resumable build.

    ``parsed``: the ``sources.conllu`` schema. String doc ids (file
    names) get dense numeric ids via the distributed two-phase
    assignment (plus ``id_offset`` — delta builds offset past the base
    index's ids, see ``merge.add_conllu_documents``); the name↔id
    mapping is written to ``<root>/doc_names``.

    ``store_docstore``: keep the forward index (``lexicon`` +
    ``forward_layers``) — the root's only doc store (no separate
    ``docstore`` is written; doc tokens read back through
    ``IndexSearcher.forward_arrays``).

    ``colloc_catalog``: a ``GrammarCatalog`` — when given, the build
    additionally materializes the collocation store for it
    (``index.colloc_store.build_collocation_store``, the reference's
    build-time ``collocations.bin`` step); ``index_word_sketch`` then
    auto-serves sketches from the store.
    """
    from ..sources.conllu import layer_tokens

    paths = IndexPaths(out_dir)
    paths.root.mkdir(parents=True, exist_ok=True)
    # doc_names, lexicon and forward_layers are stages too: keyed like
    # the others, so a re-run of a complete build rewrites nothing
    config = {"id_offset": id_offset, "format": INDEX_FORMAT}
    cfg_fp = config_fingerprint(config)
    inputs_fp = input_fingerprint(input_paths) if input_paths else "unspecified"
    if dict(parsed.dtypes)["doc_id"] != "bigint":
        from ..sources.pages import assign_doc_ids

        st_names = StageManifest(paths.doc_names, "doc_names")
        if not st_names.is_complete(inputs_fp, cfg_fp):
            names = (parsed.select(F.col("doc_id").alias("doc_name"))
                     .distinct())
            mapping = assign_doc_ids(names, "doc_id", order_col="doc_name")
            if id_offset:
                mapping = mapping.withColumn(
                    "doc_id", F.col("doc_id") + F.lit(id_offset))
            mapping.write.mode("overwrite").parquet(str(paths.doc_names))
            st_names.commit(inputs_fp, cfg_fp,
                            lineage={"inputs": input_paths or [],
                                     "config": config})
        mapping = spark.read.parquet(str(paths.doc_names))
        parsed = (parsed.withColumnRenamed("doc_id", "doc_name")
                  .join(mapping, "doc_name").drop("doc_name"))
    elif id_offset:
        parsed = parsed.withColumn(
            "doc_id", F.col("doc_id") + F.lit(id_offset))
    # all stages (term segments, layer postings, forward layers) read
    # the layer table; this function owns the actions, so the cache is
    # scoped here, not via the tracked registry
    lt = layer_tokens(parsed).persist()
    try:
        stats = build_index(
            spark, None, out_dir,
            pre_tokenized=lt.select("doc_id", "pos", "term"),
            doc_salt=doc_salt, n_partitions=n_partitions,
            block_size=block_size, input_paths=input_paths)
        if store_docstore:
            # FORWARD index (doc → per-position values): what index-side
            # collocate extraction reads to recover "the lemma AT the
            # matched position" — the Lucene forward-index analog the
            # reference groups sketch hits with (BlackLabQueryExecutor
            # FORWARD_INDEX). Written before the layer postings: the
            # closed-class layers it carries get none (build_layer_postings
            # reads its manifest's config.columns). term/lemma are not
            # stored: the reader lowers word_cs/lemma_cs (FOLDED_LAYERS),
            # and this store is also the index's only docstore
            fw_cols = [c for c in (*LEXICON_COLUMNS, *STRUCTURAL_COLUMNS)
                       if c in lt.columns]
            _write_forward(spark, lt, paths, fw_cols, n_partitions,
                           inputs_fp, {**config, "columns": fw_cols},
                           input_paths)
        build_layer_postings(
            spark, lt, out_dir, layers=layers, doc_salt=doc_salt,
            n_partitions=n_partitions, block_size=block_size,
            input_paths=input_paths)
    finally:
        lt.unpersist()
    if colloc_catalog is not None:
        from ..query.engine import IndexSearcher
        from .colloc_store import build_collocation_store

        build_collocation_store(IndexSearcher(spark, out_dir),
                                colloc_catalog,
                                n_partitions=n_partitions)
    return stats


def _write_forward(spark: SparkSession, lt: DataFrame, paths: IndexPaths,
                   fw_cols: list[str], n_partitions: int | None,
                   inputs_fp: str, config: dict,
                   input_paths: list[str] | None) -> None:
    """The ``lexicon`` and ``forward_layers`` stages of a CoNLL-U root.
    The lexicon's dense ids come from the distributed two-phase
    assignment (``sources.pages.assign_doc_ids``, never a global
    window), ordered by tuple within each partition. The forward store
    is the layer table joined to the written lexicon, then one
    ``groupBy(doc_id)`` collecting ``type_id`` and the structural
    columns (sent_no/token_id/head: sentence-bounded span matching and
    dependency-relation queries read them per candidate doc). A
    rewritten lexicon rewrites the forward store: its ids may differ."""
    from ..sources.pages import assign_doc_ids

    lex_cols = [c for c in fw_cols if c in LEXICON_COLUMNS]
    fp = config_fingerprint(config)
    lineage = {"inputs": input_paths or [], "config": config}
    # sized as the forward store was when it held one array per column
    parts = _adaptive_parts(spark, n_partitions, _token_bytes(paths),
                            scale=len(fw_cols) / 4)
    st_lex = StageManifest(paths.lexicon, "lexicon")
    st_fw = StageManifest(paths.forward_layers, "forward_layers")
    fresh = not st_lex.is_complete(inputs_fp, fp)
    if fresh:
        types = assign_doc_ids(lt.select(*lex_cols).distinct(), "type_id",
                               order_col=F.struct(*lex_cols))
        write_store(types.select(F.col("type_id").cast("int"), *lex_cols)
                    .coalesce(parts), paths.lexicon)
        st_lex.commit(inputs_fp, fp, lineage=lineage)
    if fresh or not st_fw.is_complete(inputs_fp, fp):
        stored = ["type_id", *(c for c in fw_cols
                               if c in STRUCTURAL_COLUMNS)]
        typed = with_type_ids(lt, spark.read.parquet(str(paths.lexicon)),
                              lex_cols)
        write_store(typed.groupBy("doc_id").agg(*sorted_arrays(*stored))
                    .coalesce(parts), paths.forward_layers)
        st_fw.commit(inputs_fp, fp, lineage=lineage)


def postings_dictionary(postings: DataFrame) -> DataFrame:
    """``(term, df, cf)`` per key of a postings store, derived from its
    block metadata (Σn = df, Σsum_tf = cf) — the one derivation of the
    ``term_stats`` dictionary, at build and merge time alike."""
    return postings.groupBy("term").agg(
        F.sum("n").alias("df"), F.sum("sum_tf").alias("cf"))


def build_index(
    spark: SparkSession,
    pages: DataFrame | None,
    out_dir: str | Path,
    *,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    doc_salt: int = 4,
    n_partitions: int | None = None,
    block_size: int = BLOCK_SIZE,
    k1: float = K1,
    b: float = B,
    # JVM tokenizer by default (identical rule, pinned by tests): the
    # Arrow tokenizer pays the Python boundary for no gain on the
    # plain split rule — measured 2× slower on the tokens stage; a
    # linguistic tokenizer deployment passes True to slot its UDF in
    use_pandas_udf: bool = False,
    store_docstore: bool = True,
    input_paths: list[str] | None = None,
    pre_tokenized: DataFrame | None = None,
) -> dict:
    """Run (or resume) the full index build; returns the stats dict.

    ``pre_tokenized`` replaces the tokenize stage with an existing
    ``(doc_id, pos, term[, dl])`` token table — the CoNLL-U ingestion
    path (the reference's primary workflow indexes tagger output, not
    raw text). ``pages`` may then be None, and no docstore is written:
    the caller's forward store (``build_conllu_index``) holds the
    documents.
    """
    paths = IndexPaths(out_dir)
    paths.root.mkdir(parents=True, exist_ok=True)
    config = {
        "doc_salt": doc_salt, "n_partitions": n_partitions, "k1": k1,
        "b": b, "block_size": block_size, "use_pandas_udf": use_pandas_udf,
        "tokenizer": ("pre-tokenized" if pre_tokenized is not None
                      else "lower-split-[^a-z0-9]+"),
        "format": INDEX_FORMAT,
    }
    cfg_fp = config_fingerprint(config)
    inputs_fp = input_fingerprint(input_paths) if input_paths else "unspecified"

    # ---- stage: tokens ------------------------------------------------
    # read only while a stage that scans it is incomplete; rerun when
    # its files were released after an earlier complete build
    st_tok = StageManifest(paths.tokens, "tokens")
    need_tokens = not all(
        StageManifest(d, s).is_complete(inputs_fp, cfg_fp)
        for d, s in ((paths.segments, "segments"),
                     (paths.doc_lens, "doc_lens")))
    if need_tokens and not (st_tok.is_complete(inputs_fp, cfg_fp)
                            and any(paths.tokens.glob("part-*"))):
        if pre_tokenized is not None:
            src = pre_tokenized
            if "dl" not in src.columns:
                from pyspark.sql import Window

                src = src.withColumn(
                    "dl",
                    F.count("*").over(Window.partitionBy("doc_id"))
                    .cast("int"))
            src = src.select(F.col("doc_id").cast("long").alias("doc_id"),
                             F.col("pos").cast("long").alias("pos"),
                             "term", F.col("dl").cast("int").alias("dl"))
        else:
            src = explode_tokens(pages, doc_id_col, text_col,
                                 use_pandas_udf=use_pandas_udf, with_dl=True)
        obs = Observation("tokens")
        src.observe(obs, F.count(F.lit(1)).alias("n_tokens"),
                    F.count(F.when(F.col("pos") == 0, 1)).alias("n_docs")
                    ).write.mode("overwrite").parquet(str(paths.tokens))
        st_tok.commit(inputs_fp, cfg_fp, metrics=obs.get,
                      lineage={"inputs": input_paths or [], "config": config})
    tokens = spark.read.parquet(str(paths.tokens)) if need_tokens else None
    tok_bytes = (store_bytes(paths.tokens) if need_tokens
                 else _token_bytes(paths))
    tm = (st_tok.load() or {}).get("metrics", {})
    tok_parts = _adaptive_parts(spark, n_partitions, tok_bytes)
    doc_parts = _adaptive_parts(spark, n_partitions, tok_bytes, scale=(
        tm.get("n_docs", 1) / max(1, tm.get("n_tokens", 1))))

    # ---- stages: segments ∥ doc_lens+corpus_stats ---------------------
    def _stage_segments() -> None:
        st_seg = StageManifest(paths.segments, "segments")
        if st_seg.is_complete(inputs_fp, cfg_fp):
            return
        write_store(encode_postings(tokens, tok_parts, doc_salt=doc_salt,
                                    block_size=block_size),
                    paths.segments)
        # per-partition lineage + skew metrics (north rule). One pruned
        # scan of the block-metadata columns only (never the payload
        # blobs) — at web scale this reads a few int/string columns of
        # the block table, not the index.
        seg = spark.read.parquet(str(paths.segments)).select(
            "seg_part", "term", "n")
        parts = [r.asDict() for r in (
            seg.groupBy("seg_part").agg(
                F.count("*").alias("n_blocks"),
                F.sum("n").alias("n_postings"),
                F.countDistinct("term").alias("n_terms"),
                F.min("term").alias("term_min"),
                F.max("term").alias("term_max"),
            ).orderBy("seg_part").collect())]
        counts = sorted(p["n_postings"] for p in parts) or [0]
        metrics = {
            "n_blocks": sum(p["n_blocks"] for p in parts),
            "n_postings": sum(p["n_postings"] for p in parts),
            "n_seg_parts": len(parts),
            "max_partition_postings": counts[-1],
            "median_partition_postings": counts[len(counts) // 2],
        }
        st_seg.commit(inputs_fp, cfg_fp, metrics=metrics, partitions=parts,
                      lineage={"inputs": input_paths or [], "config": config})

    def _stage_doc_lens() -> None:
        st_stats = StageManifest(paths.doc_lens, "doc_lens")
        if st_stats.is_complete(inputs_fp, cfg_fp):
            return
        # dl is a per-row column of the tokens stage, so doc_lens is a
        # pushed-down FILTER (pos == 0 → one row per non-empty doc) —
        # no shuffle, no aggregation. The corpus stats ride the SAME
        # write job as observed metrics — the former read-back
        # aggregate was one whole extra job of per-build fixed cost.
        obs = Observation("corpus_stats")
        (
            tokens.filter(F.col("pos") == 0).select("doc_id", "dl")
            .observe(obs, F.count(F.lit(1)).alias("n_docs"),
                     F.avg("dl").alias("avgdl"),
                     F.sum("dl").alias("total_tokens"))
            .coalesce(doc_parts)
            .write.mode("overwrite").parquet(str(paths.doc_lens))
        )
        row = obs.get
        s = {
            "n_docs": int(row["n_docs"]),
            "avgdl": float(row["avgdl"]),
            "total_tokens": int(row["total_tokens"]),
            "k1": k1, "b": b, "block_size": block_size, "doc_salt": doc_salt,
            "format": INDEX_FORMAT, "token_bytes": tok_bytes,
        }
        tmp = paths.stats.with_suffix(".tmp")
        tmp.write_text(json.dumps(s, indent=1, sort_keys=True))
        os.replace(tmp, paths.stats)
        st_stats.commit(inputs_fp, cfg_fp, metrics=s,
                        lineage={"inputs": input_paths or [], "config": config})

    # term_stats depends only on the segments stage, so it runs in the
    # SAME pool slot chain (segments → term_stats) concurrently with
    # doc_lens — no serial phase between stages.
    def _stage_segments_then_term_stats() -> None:
        _stage_segments()
        st_ts = StageManifest(paths.term_stats, "term_stats")
        if st_ts.is_complete(inputs_fp, cfg_fp):
            return
        postings_dictionary(spark.read.parquet(str(paths.segments))).write \
            .mode("overwrite").parquet(str(paths.term_stats))
        # root-relative, so the manifest's bytes are the same wherever
        # the root lives
        st_ts.commit(inputs_fp, cfg_fp,
                     lineage={"derived_from": paths.segments.name})

    # ---- stage: docstore (stored text) --------------------------------
    def _stage_docstore() -> None:
        st_ds = StageManifest(paths.docstore, "docstore")
        if st_ds.is_complete(inputs_fp, cfg_fp):
            return
        write_store(pages.select(F.col(doc_id_col).alias("doc_id"),
                                 F.col(text_col).alias("text"))
                    .coalesce(tok_parts), paths.docstore)
        st_ds.commit(inputs_fp, cfg_fp, lineage={"inputs": input_paths or []})

    # ---- stage: doc_meta (stored metadata fields) ---------------------
    # every non-id/non-text page column becomes a stored metadata field
    # (the Lucene stored-field analog): one column-pruned projection,
    # O(n_docs) rows, serving metadata-filtered queries
    # (IndexSearcher.search(doc_filter=…)) without touching the corpus
    meta_cols = ([] if pages is None else
                 [c for c in pages.columns if c not in (doc_id_col,
                                                        text_col)])

    def _stage_doc_meta() -> None:
        st_meta = StageManifest(paths.doc_meta, "doc_meta")
        if st_meta.is_complete(inputs_fp, cfg_fp):
            return
        (pages.select(F.col(doc_id_col).cast("long").alias("doc_id"),
                      *meta_cols)
         .coalesce(doc_parts)
         .write.mode("overwrite").parquet(str(paths.doc_meta)))
        st_meta.commit(inputs_fp, cfg_fp,
                       lineage={"inputs": input_paths or [],
                                "meta_cols": meta_cols})

    # every stage after tokens is independent of the others (segments →
    # term_stats chains inside one slot): run them in one pool so the
    # scheduler back-fills executor idle time (guide §2.6) — per-build
    # fixed cost is paid once, not once per serial stage
    jobs = [_stage_segments_then_term_stats, _stage_doc_lens]
    if store_docstore and pages is not None:
        jobs.append(_stage_docstore)
    if meta_cols:
        jobs.append(_stage_doc_meta)
    with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
        futs = [pool.submit(j) for j in jobs]
        for f in futs:
            f.result()
    # every stage has committed: release the token files, keep the
    # manifest (a re-run stays a no-op, lineage says the stage ran)
    for f in paths.tokens.glob("*"):
        if f.name != MANIFEST_NAME:
            f.unlink()
    stats = json.loads(paths.stats.read_text())
    return stats
