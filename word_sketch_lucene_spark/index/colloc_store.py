"""Materialized collocation store — the ``collocations.bin`` analog.

The reference precomputes per-(head, relation) collocate counts at
build time and serves full sketches as O(1) lookups from a preloaded
binary store (``/root/reference/CLAUDE.md:190-196``: 0–1 ms full
sketch at 74 M sentences). The Spark twin:

- BUILD: one grouped aggregate over the pattern-matched pair table for
  ALL heads at once — the all-heads generalization of
  ``plans.relations.word_sketch_patterns`` phase 1 (head substitution
  just adds ``subst_attr == head`` to the head slot, so matching the
  raw pattern and capturing the head slot's value yields exactly the
  per-head pair sets, for every head, in one pass). Output is a
  head-range-partitioned, head-sorted parquet dataset → a per-head
  serve is a parquet-stats-pruned scan of a few row groups.
- SERVE (plan tier): pruned scan + the SHARED scoring tail
  (``functions.scoring.score_ranked_collocates``) — row-identical to the
  live fan-out by construction.
- SERVE (interactive tier): per-head rows in the searcher's cache +
  cached ``layer_cf`` stats → warm sketches are pure-python scoring,
  sub-millisecond — the reference's pinned-``collocations.bin`` model.

At 100 TB: the build is one extra shuffle keyed (relation, head,
colloc) over the already-matched pairs (the same volume the live
fan-out shuffles per query — paid once instead of per request); the
store itself is vocabulary² bounded, tiny next to the postings.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scoring import score_ranked_collocates
from ..plans.cql import DEFAULT_LAYERS, parse_cql
from ..plans.relations import GrammarCatalog, pattern_pos_group

STORE_DIR = "colloc_store"
META_NAME = "_store_meta.json"
# store layout version, recorded in the meta. 2: trinary relations keyed
# ``<id>/<value>`` — a store without it predates that and must rebuild
STORE_FORMAT = 2


def _store_rels(catalog: GrammarCatalog,
                relation_types: tuple[str, ...]) -> list:
    return [r for r in catalog.relations
            if r.pattern and r.type in relation_types]


def _forward_fingerprint(searcher, ttl_sec: float = 5.0) -> str:
    """Cheap lineage of the forward store's CURRENT contents (file
    listing + sizes + mtimes — the same identity the build manifests
    use). Memoized in the searcher's cache for ``ttl_sec``: the
    auto-serve path checks per sketch call, and re-statting hundreds
    of part files per interactive request would dominate the sub-ms
    serve."""
    import time

    from .manifest import input_fingerprint

    hit = searcher._cache.get("forward_fp", None)
    now = time.monotonic()
    if hit is not None and now - hit[0] < ttl_sec:
        return hit[1]
    fw = Path(searcher.root) / "forward_layers"
    fp = input_fingerprint([str(fw)]) if fw.exists() else "absent"
    return searcher._cache.put("forward_fp", None, (now, fp))[1]


def build_collocation_store(
    searcher,
    catalog: GrammarCatalog,
    *,
    relation_types: tuple[str, ...] = ("SURFACE", "DEP"),
    subst_attr: str = "lemma",
    colloc_attr: str = "lemma",
    within_sentence: bool = False,
    n_partitions: int | None = None,
) -> Path:
    """Materialize ``(relation, head, colloc, pair_freq)`` for EVERY
    head over the index's own forward store. Idempotent per config
    (meta file records the catalog patterns + attrs; a changed catalog
    rebuilds). Returns the store path."""
    from ..plans.cql import compile_cql, strip_constraints
    from ..query.sketch import catalog_tokens

    rels = _store_rels(catalog, relation_types)
    if not rels:
        raise ValueError("no pattern relations to materialize")
    meta = {
        "format": STORE_FORMAT,
        "relations": sorted(
            (r.id, r.pattern, r.type, r.head_position, r.colloc_position,
             bool(r.dual), r.default_slop) for r in rels),
        "subst_attr": subst_attr,
        "colloc_attr": colloc_attr,
        "within_sentence": within_sentence,
        # index-contents lineage: a delta ingest
        # (merge.add_conllu_documents) changes forward_layers — the
        # store must then rebuild, never silently serve stale counts
        # (ttl 0: the BUILD decision must see the live listing)
        "forward_fp": _forward_fingerprint(searcher, ttl_sec=0),
    }
    out = Path(searcher.root) / STORE_DIR
    meta_path = out / META_NAME
    if meta_path.exists():
        try:
            if json.loads(meta_path.read_text()) == json.loads(
                    json.dumps(meta)):
                return out
        except (json.JSONDecodeError, OSError):
            pass
    tokens = catalog_tokens(searcher, rels, subst_attr, colloc_attr,
                            within_sentence)
    from ..plans.relations import _side_pred, _two_slot_shape

    spark = searcher.spark
    nparts = n_partitions or spark.sparkContext.defaultParallelism
    # every relation branch re-reads the token table — materialize the
    # posexplode ONCE
    tokens = tokens.persist()
    cols = tokens.columns
    capture = tuple(dict.fromkeys((subst_attr, colloc_attr)))
    # every 2-slot/dual relation folds into ONE all-heads window
    # self-join (the serving fan-out's single-pass shape, minus the
    # broadcast: both sides are the corpus here, so the doc-keyed
    # band join shuffles once for the whole catalog instead of once
    # per relation); 3-slot patterns keep their compile branches
    fast: list[tuple] = []
    slow: list = []
    for rel in rels:
        shape = _two_slot_shape(rel)
        (fast.append((rel, shape)) if shape is not None
         else slow.append(rel))
    parts = []
    if fast:
        maxw = max(hi for _r, (_h, _c, _lo, hi, _hf, _d) in fast)
        h = tokens.alias("h")
        c = tokens.alias("c")
        g = F.col("c.pos") - F.col("h.pos")
        cond = ((F.col("h.doc_id") == F.col("c.doc_id"))
                & (g >= -maxw) & (g <= maxw) & (g != 0))
        if within_sentence:
            # null-safe: a doc without a stored sentence array is one
            # flat stream, as in the in-driver kernel
            cond = cond & F.col("h.sent_no").eqNullSafe(F.col("c.sent_no"))
        whens = []
        for rel, (hitem, citem, lo, hi, head_first, dual) in fast:
            if dual:
                arm = F.abs(g).between(1, hi)
            elif head_first:
                arm = g.between(lo, hi)
            else:
                arm = (-g).between(lo, hi)
            arm = arm & _side_pred(hitem, "h", cols) \
                & _side_pred(citem, "c", cols)
            whens.append(F.when(arm, F.lit(rel.id)))
        hterm = DEFAULT_LAYERS.get(subst_attr, subst_attr)
        cterm = DEFAULT_LAYERS.get(colloc_attr, colloc_attr)
        parts.append(
            h.join(c, cond)
            .select(F.col("h.doc_id").alias("doc_id"),
                    F.col("h.pos").alias("hp"),
                    F.col("c.pos").alias("cp"),
                    F.col(f"h.{hterm}").alias("head"),
                    F.col(f"c.{cterm}").alias("colloc"),
                    F.explode(F.array_compact(F.array(*whens)))
                    .alias("relation"))
            .select("relation", "doc_id", "hp", "cp", "head", "colloc"))
    for rel in slow:
        core, cons = strip_constraints(rel.pattern)
        items = parse_cql(core)
        matches = compile_cql(tokens, items, keep_terms=False,
                              capture_attrs=capture,
                              within_sentence=within_sentence,
                              distinct=False, constraints=cons)
        # Sketch-Engine TRINARY gramrels: the 3: slot's captured layer
        # parameterizes the relation id (`%(3.lemma)`) — exactly as
        # word_sketch_patterns._build_branch does, so store counts are
        # per sub-relation, never silently merged across prepositions
        third_col = f"{colloc_attr}_3"
        rel_col = (F.concat_ws("/", F.lit(rel.id), F.col(third_col))
                   if third_col in matches.columns
                   else F.lit(rel.id))
        pairs = matches.select(
            rel_col.alias("relation"),
            "doc_id", F.col("pos_1").alias("hp"),
            F.col("pos_2").alias("cp"),
            F.col(f"{subst_attr}_1").alias("head"),
            F.col(f"{colloc_attr}_2").alias("colloc"))
        parts.append(pairs.select("relation", "doc_id", "hp", "cp",
                                  "head", "colloc"))
    all_pairs = parts[0]
    for p in parts[1:]:
        all_pairs = all_pairs.unionByName(p)
    try:
        (
            # one count-distinct aggregate dedups every branch (head/
            # colloc are functionally determined by (doc, hp)/(doc,
            # cp)) — no per-relation distinct shuffles
            all_pairs.groupBy("relation", "head", "colloc")
            .agg(F.count_distinct("doc_id", "hp", "cp")
                 .alias("pair_freq"))
            # range-partition + sort by head: a per-head serve prunes
            # to a few row groups via parquet min/max stats
            .repartitionByRange(nparts, "head")
            .sortWithinPartitions("head", "relation", "colloc")
            .write.mode("overwrite").parquet(str(out))
        )
    finally:
        tokens.unpersist()
    meta_path.write_text(json.dumps(meta, sort_keys=True))
    return out


def open_collocation_store(searcher) -> DataFrame | None:
    """The store DataFrame, or None when never built."""
    out = Path(searcher.root) / STORE_DIR
    if not (out / META_NAME).exists():
        return None
    return searcher.spark.read.parquet(str(out))


def store_meta(searcher) -> dict | None:
    p = Path(searcher.root) / STORE_DIR / META_NAME
    if not p.exists():
        return None
    return json.loads(p.read_text())


def _rel_has_third(rel) -> bool:
    """True when the pattern labels a 3: slot — its captured value
    parameterizes the stored relation id (``<id>/<value>``)."""
    from ..plans.cql import TokenItem, strip_constraints

    core, _ = strip_constraints(rel.pattern)
    try:
        return any(isinstance(it, TokenItem) and it.label == "3"
                   for it in parse_cql(core))
    except ValueError:
        return False


def _applicable_rel_ids(catalog: GrammarCatalog, head_pos: str | None,
                        relation_types: tuple[str, ...],
                        with_third: bool = False):
    rels = _store_rels(catalog, relation_types)
    if head_pos is not None:
        rels = [r for r in rels if pattern_pos_group(r) == head_pos]
    if not with_third:
        return [r.id for r in rels]
    return [r.id for r in rels], [r.id for r in rels
                                  if _rel_has_third(r)]


def store_can_serve(searcher, catalog: GrammarCatalog,
                    subst_attr: str = "lemma", colloc_attr: str = "lemma",
                    within_sentence: bool = False,
                    relation_types: tuple[str, ...] = ("SURFACE",)) -> bool:
    """True when a store at this root was materialized with EXACTLY the
    configuration this request needs — same substitution/collocate
    layers and sentence bounding, and every requested relation present
    with an identical pattern definition (a changed catalog must fall
    back to the live fan-out, never serve stale counts)."""
    meta = store_meta(searcher)
    if (meta is None
            or meta.get("format") != STORE_FORMAT
            or meta["subst_attr"] != subst_attr
            or meta["colloc_attr"] != colloc_attr
            or bool(meta["within_sentence"]) != bool(within_sentence)):
        return False
    if meta.get("forward_fp") != _forward_fingerprint(searcher):
        return False  # index contents changed since the store build
    stored = {tuple(r) for r in meta["relations"]}
    want = {(r.id, r.pattern, r.type, r.head_position, r.colloc_position,
             bool(r.dual), r.default_slop)
            for r in _store_rels(catalog, relation_types)}
    return want <= stored


def sketch_from_store(
    searcher,
    head: str,
    catalog: GrammarCatalog,
    head_pos: str | None = None,
    colloc_attr: str = "lemma",
    limit_per_relation: int = 10,
    min_logdice: float = 0.0,
    round_dp: int | None = None,
    relation_types: tuple[str, ...] = ("SURFACE",),
) -> DataFrame:
    """Full word sketch served FROM THE STORE as a plan: pruned
    per-head scan → shared scoring tail. Row-identical to
    ``plans.relations.word_sketch_patterns`` /
    ``query.sketch.index_word_sketch`` for the same arguments (the
    pair counts are the same aggregate, materialized early)."""
    from ..query.sketch import layer_stats_df

    store = open_collocation_store(searcher)
    if store is None:
        raise NotImplementedError(
            "no collocation store at this root — "
            "index.colloc_store.build_collocation_store")
    meta = store_meta(searcher)
    if meta["colloc_attr"] != colloc_attr:
        raise ValueError(
            f"store materialized colloc_attr={meta['colloc_attr']!r}, "
            f"requested {colloc_attr!r}")
    rel_ids, third_ids = _applicable_rel_ids(catalog, head_pos,
                                             relation_types,
                                             with_third=True)
    rel_match = F.col("relation").isin(rel_ids)
    for tid in third_ids:
        # trinary rows are stored as `<id>/<third-slot value>`
        rel_match = rel_match | F.col("relation").startswith(f"{tid}/")
    grouped = store.filter(
        (F.col("head") == head) & rel_match
    ).select("relation", F.col("colloc").alias("colloc_term"),
             "pair_freq")
    stats = layer_stats_df(searcher, DEFAULT_LAYERS[colloc_attr])
    return score_ranked_collocates(
        grouped, stats, head, limit_per_relation=limit_per_relation,
        min_logdice=min_logdice, round_dp=round_dp)


def serve_sketch_cached(
    searcher,
    head: str,
    catalog: GrammarCatalog,
    head_pos: str | None = None,
    colloc_attr: str = "lemma",
    limit_per_relation: int = 10,
    min_logdice: float = 0.0,
    round_dp: int | None = None,
    relation_types: tuple[str, ...] = ("SURFACE",),
) -> list[tuple[str, str, int, float, float]]:
    """Interactive store serve: first call per head = ONE pruned scan
    (head-sorted parquet → a few row groups) in the searcher's cache;
    warm calls score in pure python from the cache + the cached
    ``layer_cf`` dictionary — the reference's 0–1 ms preloaded-store
    regime (``CLAUDE.md:190-196``). Result rows identical to
    :func:`sketch_from_store` (same counts, same scoring, same order:
    logdice desc, colloc asc, capped per relation)."""
    from ..query.sketch import rank_collocates

    def head_rows():
        store = open_collocation_store(searcher)
        if store is None:
            raise NotImplementedError(
                "no collocation store at this root — "
                "index.colloc_store.build_collocation_store")
        return [(r["relation"], r["colloc"], int(r["pair_freq"]))
                for r in store.filter(F.col("head") == head)
                .select("relation", "colloc", "pair_freq").collect()]

    # key the head rows by the store meta's mtime: a rebuild (changed
    # catalog) in the same session must not serve the old counts
    meta_p = Path(searcher.root) / STORE_DIR / META_NAME
    rev = meta_p.stat().st_mtime_ns if meta_p.exists() else 0
    rows = searcher._cache.get_or_put("colloc_rows", (head, rev), head_rows)
    meta = store_meta(searcher)
    if meta and meta["colloc_attr"] != colloc_attr:
        raise ValueError(
            f"store materialized colloc_attr={meta['colloc_attr']!r}, "
            f"requested {colloc_attr!r}")
    rel_order, third_ids = _applicable_rel_ids(catalog, head_pos,
                                               relation_types,
                                               with_third=True)
    rel_ids = set(rel_order)
    third_pref = tuple(f"{t}/" for t in third_ids)
    by_rel: dict[str, dict[str, int]] = {}
    for rel_id, colloc, fab in rows:
        if rel_id in rel_ids or (third_pref
                                 and rel_id.startswith(third_pref)):
            by_rel.setdefault(rel_id, {})[colloc] = fab
    layer = DEFAULT_LAYERS[colloc_attr]
    # one dictionary lookup for every relation's collocates; the
    # per-relation ranking below reads it from the searcher's cache
    searcher.layer_cf(layer, sorted({c for counts in by_rel.values()
                                     for c in counts}) + [head])
    out = []
    # CATALOG order (not alphabetical) — the same enumeration
    # index_word_sketch emits, so the store serve is a drop-in;
    # trinary sub-relations (`<id>/<value>`) follow their base id
    for base in rel_order:
        ids = [base] if base in by_rel else []
        ids += sorted(k for k in by_rel if k.startswith(f"{base}/"))
        for rel_id in ids:
            out.extend((rel_id, *row) for row in rank_collocates(
                searcher, layer, head, by_rel[rel_id], min_logdice,
                limit_per_relation, round_dp))
    return out
