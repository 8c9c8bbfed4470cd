"""Grammar-relation catalog: declarative BCQL-style relations → plans.

Reference parity (U2): the reference loads 69 JSON relations
(``grammars/relations.json:1-553``) with fields ``id, name, type
(SURFACE|DEP), pattern, head/collocate labels, default_slop, dual``,
validated with hard errors on duplicates/missing fields
(``config/GrammarConfigLoader.java:84-221``). Here each relation is a
parameterized DataFrame plan template: token-class predicates replace
the BCQL token constraints (P1), slop maps to the window join (J2),
DEP-typed relations compile to the dependency join (J3).

Every pattern relation — in :func:`word_sketch`,
:func:`word_sketch_patterns` and the collocation store's all-heads
build (``index.colloc_store``) alike — folds through ONE pair builder
(:func:`_pattern_pairs`: CASE arms of one broadcast window join,
``plans.cql.compile_cql`` branches for the shapes the fold can't
enumerate), and every sketch ranks through the one DataFrame tail,
``functions.scoring.score_ranked_collocates``.

The catalog ships in ``grammars/relations.json`` at the repo root —
same declarative shape, engine-appropriate predicates.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field, fields
from functools import lru_cache
from pathlib import Path

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scoring import score_ranked_collocates
from .cql import Query, compile_cql, parse_query

DEFAULT_CATALOG = Path(__file__).resolve().parents[2] / "grammars" / "relations.json"
# full port of the reference's 69-relation English catalog
# (reference grammars/relations.json:1-553): BCQL patterns over
# lemma/xpos/deprel layers, executed by the plans.cql compiler
EN_CATALOG = Path(__file__).resolve().parents[2] / "grammars" / "relations_en.json"

# word classes for the synthetic/driver corpora (the engine analog of
# xpos constraints like [xpos="NN.*"]; a real deployment generates these
# from the tagger — tag_with_stanza.py upstream in the reference)
WORD_CLASSES: dict[str, str] = {
    **dict.fromkeys(
        ["table", "row", "column", "key", "value", "data", "line", "part",
         "customer", "order", "group", "window", "hash", "batch", "stream",
         "vector", "query", "spark"], "NOUN"),
    **dict.fromkeys(
        ["scan", "merge", "join", "sort", "filter", "agg", "dup"], "VERB"),
    **dict.fromkeys(["fast", "slow", "small", "big"], "ADJ"),
    **dict.fromkeys(["the", "a"], "DET"),
}

# output schema of every sketch fan-out (``word_sketch``,
# ``word_sketch_patterns``)
_SKETCH_SCHEMA = ("relation string, colloc_term string, pair_freq long, "
                  "logdice double, rel_freq double")


@lru_cache(maxsize=64)
def _word_class_expr_cached(name: str) -> Column:
    by_class: dict[str, list[str]] = {}
    for w, c in WORD_CLASSES.items():
        by_class.setdefault(c, []).append(w)

    def _in(vals: list[str]) -> str:
        return ", ".join(f"'{v}'" for v in vals)

    return F.expr(
        f"CASE WHEN {name} IN ({_in(by_class['NOUN'])}) THEN 'NOUN' "
        f"WHEN {name} IN ({_in(by_class['VERB'])}) THEN 'VERB' "
        f"WHEN {name} IN ({_in(by_class['ADJ'])}) THEN 'ADJ' "
        f"WHEN {name} IN ({_in(by_class['DET'])}) THEN 'DET' "
        f"ELSE 'X' END")


def word_class_expr(col: Column | str) -> Column:
    """Deterministic word-class column (CASE chain — JVM-side, and
    reproducible in the DuckDB oracle as the same CASE expression).

    Pass the column NAME: the chain is parsed from one SQL string and
    memoized per name — built column-by-column it cost ~80 py4j
    round-trips, and the 41-branch sketch fan-out evaluates it per
    class-constrained branch (seconds of driver-side plan-construction
    chatter before any job ran)."""
    if isinstance(col, str):
        return _word_class_expr_cached(col)
    # Column fallback for external callers; not memoizable
    by_class: dict[str, list[str]] = {}
    for w, c in WORD_CLASSES.items():
        by_class.setdefault(c, []).append(w)
    out = F.when(col.isin(by_class["NOUN"]), F.lit("NOUN"))
    out = out.when(col.isin(by_class["VERB"]), F.lit("VERB"))
    out = out.when(col.isin(by_class["ADJ"]), F.lit("ADJ"))
    out = out.when(col.isin(by_class["DET"]), F.lit("DET"))
    return out.otherwise(F.lit("X"))


def _read_text(path: Path) -> str:
    """Read a catalog file from the filesystem OR from inside the
    ``--py-files`` deployment zip (``scripts/package.py`` ships
    ``grammars/*.json`` alongside the code; ``__file__``-relative paths
    then point INSIDE the archive, which plain ``read_text`` can't
    open)."""
    if path.exists():
        return path.read_text()
    p = str(path)
    if ".zip" in p:
        import zipfile

        zpath, inner = p.split(".zip", 1)
        inner = inner.lstrip("/\\").replace("\\", "/")
        with zipfile.ZipFile(zpath + ".zip") as z:
            return z.read(inner).decode("utf-8")
    raise FileNotFoundError(p)


@dataclass
class RelationConfig:
    """One declarative relation (``config/RelationConfig.java:21-33``)."""

    id: str
    name: str
    type: str  # SURFACE | DEP
    head_class: str | None = None
    colloc_class: str | None = None
    min_gap: int = 1
    max_gap: int = 5
    ordered: bool = False
    deprel: str | None = None  # DEP relations
    dual: bool = False
    pattern: str | None = None  # BCQL pattern (labeled 1:/2:) — compiled
    description: str = ""      # via plans.cql instead of the window join
    default_slop: int = 10     # reference GrammarConfigLoader.java:204
    # 1-based pattern token index of the head and of the collocate
    # (None: the 1:/2: labels' positions, defaulting to 1/2)
    head_position: int | None = None
    colloc_position: int | None = None
    extra: dict = field(default_factory=dict)
    # the parsed pattern, parsed once here (None without a pattern)
    query: Query | None = field(init=False, default=None, repr=False,
                                compare=False)

    def __post_init__(self):
        """Parse and check a pattern relation, mirroring the reference's
        ``GrammarConfigLoader.validatePositions`` (java:211-221): hard
        error on an unparseable pattern; labeled 1:/2: positions
        required — except ``dual`` relations, whose pattern is the
        COLLOCATE constraint alone (the reference skips position
        validation for dual; see ``verb_nouns``), and ``unary`` ones,
        which label the head only. DEP patterns must carry a
        ``deprel=`` test (the reference's ``deriveDeprel``), which also
        fills ``deprel`` for routing."""
        labels = {}
        if self.pattern:
            q = self.query = parse_query(self.pattern)
            labels = q.labels
            if q.within_sentence or q.containing:
                raise ValueError(
                    f"relation {self.id}: a relation pattern takes no "
                    "`within`/`containing` clause (the sketch call's "
                    "within_sentence bounds every relation)")
            if self.dual:
                if "1" not in labels and "2" not in labels:
                    raise ValueError(f"relation {self.id}: dual pattern "
                                     "needs a labeled position")
            elif self.extra.get("unary"):
                if "1" not in labels:
                    raise ValueError(f"relation {self.id}: unary pattern "
                                     "needs a 1: label")
            elif not {"1", "2"} <= labels.keys():
                raise ValueError(
                    f"relation {self.id}: pattern needs 1: and 2: labels")
            if self.type == "DEP" and not self.deprel:
                self.deprel = next(
                    (t.value for it in q.tokens for t in it.tests
                     if t.attr == "deprel" and not t.negated), None)
        if self.type == "DEP" and not self.deprel:
            raise ValueError(f"relation {self.id}: DEP "
                             + ("pattern must constrain deprel"
                                if self.pattern else "requires deprel"))
        # reference deriveTokenPosition: the label's position, else 1/2
        if self.head_position is None:
            self.head_position = labels.get("1", 1)
        if self.colloc_position is None:
            # a unary relation's collocate is its head
            self.colloc_position = labels.get(
                "2", self.head_position if self.extra.get("unary") else 2)

    def head_filter(self) -> Column | None:
        if not self.head_class:
            return None
        return word_class_expr("head_term") == self.head_class

    def colloc_filter(self) -> Column | None:
        if not self.colloc_class:
            return None
        return word_class_expr("colloc_term") == self.colloc_class

    @property
    def trinary(self) -> bool:
        """True when the pattern labels a 3: slot: its value names a
        sub-relation, ``<id>/<value>`` (Sketch-Engine ``%(3.lemma)``)."""
        return self.query is not None and "3" in self.query.labels


class GrammarCatalog:
    """Loads + validates the relation catalog (hard errors on duplicate
    ids / missing fields / bad types — ``GrammarConfigLoader.java:150-221``)."""

    REQUIRED = {"id", "name", "type"}

    def __init__(self, relations: list[RelationConfig]):
        self.relations = relations
        self.by_id = {r.id: r for r in relations}
        # head POS group per pattern relation, parsed once (not per sketch)
        self._pattern_groups = [(r, pattern_pos_group(r))
                                for r in relations if r.pattern]

    @classmethod
    def load(cls, path: str | Path = DEFAULT_CATALOG) -> "GrammarCatalog":
        raw = json.loads(_read_text(Path(path)))
        if isinstance(raw, dict) and "relations" in raw:
            # reference wrapper form ({version, description, relations})
            raw = raw["relations"]
        if not isinstance(raw, list):
            raise ValueError("relations catalog must be a JSON array "
                             "or an object with a 'relations' array")
        seen: set[str] = set()
        rels = []
        for i, obj in enumerate(raw):
            obj = dict(obj)
            if "relation_type" in obj:  # reference field-name alias
                obj.setdefault("type", obj.pop("relation_type"))
            missing = cls.REQUIRED - obj.keys()
            if missing:
                raise ValueError(f"relation #{i}: missing fields {sorted(missing)}")
            if obj["id"] in seen:
                raise ValueError(f"duplicate relation id: {obj['id']}")
            if obj["type"] not in ("SURFACE", "DEP"):
                raise ValueError(f"relation {obj['id']}: bad type {obj['type']}")
            if not obj.get("pattern"):
                lo = obj.get("min_gap", 1)
                hi = obj.get("max_gap", 5)
                # ordered gaps may be negative (collocate before head) but a
                # range spanning 0 would match the head position itself
                if lo > hi or lo <= 0 <= hi:
                    raise ValueError(
                        f"relation {obj['id']}: bad gap range [{lo},{hi}] "
                        f"(must not span 0; negative = before the head)")
            seen.add(obj["id"])
            known = {f.name for f in fields(RelationConfig)
                     if f.init and f.name != "extra"}
            rels.append(RelationConfig(
                **{k: v for k, v in obj.items() if k in known},
                extra={k: v for k, v in obj.items() if k not in known},
            ))
        return cls(rels)

    def surface(self) -> list[RelationConfig]:
        return [r for r in self.relations if r.type == "SURFACE"]

    def dep(self) -> list[RelationConfig]:
        return [r for r in self.relations if r.type == "DEP"]

    def pattern_relations(self, relation_types: tuple[str, ...],
                          head_pos: str | None = None
                          ) -> list[RelationConfig]:
        """The pattern relations of ``relation_types`` in catalog order,
        narrowed to those whose head slot's POS group is ``head_pos``
        when given — the relation set of every sketch tier."""
        return [r for r, group in self._pattern_groups
                if r.type in relation_types
                and (head_pos is None or group == head_pos)]


_XPOS_GROUPS = (("NNP", "NOUN"), ("NN", "NOUN"), ("VB", "VERB"),
                ("JJ", "ADJ"), ("RB", "ADV"), ("PRP", "PRON"))


def pattern_pos_group(rel: RelationConfig, position: int | None = None) -> str:
    """POS group of the pattern token at ``position`` (default: the head
    position) — mirror of the reference's
    ``RelationUtils.computeHeadPosGroup`` (xpos prefix → group), used to
    select which relations apply to a NOUN/VERB/ADJ-headed sketch."""
    if rel.query is None:
        return rel.head_class or "OTHER"
    items = rel.query.tokens
    pos = rel.head_position if position is None else position
    if not 1 <= pos <= len(items):
        return "OTHER"
    for t in items[pos - 1].tests:
        if t.attr in ("xpos", "tag") and not t.negated:
            for pref, grp in _XPOS_GROUPS:
                if t.value.startswith(pref):
                    return grp
        if t.attr in ("upos", "pos") and not t.negated:
            return t.value
    return "OTHER"


def word_sketch_patterns(
    tokens: DataFrame,
    term_stats: DataFrame,
    head: str,
    catalog: GrammarCatalog,
    head_pos: str | None = None,
    subst_attr: str = "lemma",
    colloc_attr: str | None = "lemma",
    limit_per_relation: int = 10,
    min_logdice: float = 0.0,
    round_dp: int | None = None,
    relation_types: tuple[str, ...] = ("SURFACE",),
    within_sentence: bool = False,
) -> DataFrame:
    """Full word sketch over a PATTERN catalog (the ported 69-relation
    English grammar): for every applicable relation, substitute the head
    lemma into the pattern's head position and rank the collocates at
    the collocate label — the reference's
    ``SketchHandlers.handleFullSketchForType`` fan-out
    (``SketchHandlers.java:127-143``), with ``head_pos`` as the
    ``?head_pos=`` filter (``surfaceRelationFilter``).

    ``tokens`` is a multi-layer table (``sources.conllu.layer_tokens``
    shape: doc_id, pos, term, lemma, upos, xpos, deprel); ``term_stats``
    must be keyed on the same layer as ``colloc_attr``.

    ``dual`` single-position relations (reference ``verb_nouns``) have
    no collocate label: the pattern IS the collocate constraint, matched
    within ``default_slop`` tokens of the head on either side (the
    reference skips position validation for these — the loose-proximity
    reading of its "nearby nouns within a wider window").
    """
    from ..caching import persist_tracked

    rels = catalog.pattern_relations(relation_types, head_pos)
    if not rels:
        return tokens.sparkSession.createDataFrame([], _SKETCH_SCHEMA)
    if len(rels) > 1:
        # every branch re-reads the token table; the stats lookup joins
        # ONCE below but the cache also feeds the head_cf probe
        tokens = persist_tracked(tokens)
        term_stats = persist_tracked(term_stats)
    # CollocateQueryHelper's distinct-pair count: ONE count-distinct
    # aggregate dedups every branch (colloc_term is functionally
    # determined by (doc, cp)), then the one ranking tail
    grouped = _pattern_pairs(
        tokens, term_stats, head, rels, subst_attr, colloc_attr,
        within_sentence,
    ).groupBy("relation", "colloc_term").agg(
        F.count_distinct("doc_id", "hp", "cp").alias("pair_freq"))
    return score_ranked_collocates(
        grouped, term_stats, head, limit_per_relation=limit_per_relation,
        min_logdice=min_logdice, round_dp=round_dp)


def _pattern_pairs(tokens: DataFrame, term_stats: DataFrame | None,
                   head: str | None, rels: list[RelationConfig],
                   subst_attr: str, colloc_attr: str | None,
                   within_sentence: bool = False) -> DataFrame:
    """The one pattern-relation pair builder: ``(relation, doc_id, hp,
    cp, head, colloc_term)`` match pairs of every relation in ``rels``
    with ``head`` substituted on ``subst_attr`` and the collocate read
    from ``colloc_attr`` (``None`` = the surface ``term``); ``head`` is
    the head slot's ``subst_attr`` value.

    ``head=None`` matches EVERY head (the collocation store's build,
    ``index.colloc_store``; ``term_stats`` is then unused): the head
    side is the whole corpus, so it is treated as hot — no broadcast,
    and the extended shapes keep their compile branches.

    Pairs are RAW (no per-branch distinct — that would be one shuffle
    per relation; the caller's single count-distinct aggregate dedups
    every branch), so scoring runs ONCE for the whole fan-out — one
    stats join, one head_cf broadcast, one per-relation top-k window —
    instead of N stats joins + N limits (at 10⁸-row vocabularies the
    stats join is the expensive side; N relations must not multiply
    it). FAST path: every plain 2-slot relation, every dual window
    relation and every bounded quantified/fixed-mid/trinary shape
    folds into ONE broadcast window join — the head side is one
    lemma's rows (cf-bounded), the probe is a single pass over the
    token table at the catalog-wide max window, and each relation's
    gap/direction/test predicates become a CASE arm. Only the shapes
    the fold can't enumerate stay ``compile_cql`` join branches: N
    relations must not cost N broadcast-build stages."""
    fast: list[tuple] = []
    extended: list[tuple] = []
    slow: list = []
    for rel in rels:
        shape = _two_slot_shape(rel)
        if shape is not None:
            fast.append((rel, shape))
            continue
        ext = _extended_fold_shape(rel)
        if ext is not None:
            extended.append((rel, ext))
        else:
            slow.append(rel)
    # broadcast the head side only while its cf stays executor-safe —
    # a stopword-grade head at web scale must shuffle instead (one
    # 1-row stats probe; the same stats table feeds scoring)
    head_hot = head is None
    if not head_hot:
        hcf = term_stats.filter(F.col("term") == head).select("cf").first()
        head_hot = hcf is not None and int(hcf["cf"]) > 64_000_000
    if head_hot and extended:
        # the extended fold's neighbor-pivot join broadcasts the head
        # side; a corpus-hot head must keep the shuffle-join branches
        slow = [rel for rel, _ in extended] + slow
        extended = []
    cols = tokens.columns
    pair_parts = []
    if fast or extended:
        pair_parts.append(_fast_window_pairs(
            tokens, fast, head, subst_attr, colloc_attr, cols,
            within_sentence=within_sentence,
            broadcast_head=not head_hot, extended=extended))

    def _build_branch(rel: RelationConfig) -> DataFrame:
        q = rel.query
        if "1" not in q.labels:
            raise ValueError(f"no 1: label in pattern of {rel.id}")
        subst = (q if head is None else
                 q.substitute(head, q.labels["1"], attr=subst_attr))
        capture = tuple(dict.fromkeys(
            a for a in (subst_attr, colloc_attr) if a))
        matches = compile_cql(tokens, subst, capture_attrs=capture,
                              within_sentence=within_sentence,
                              distinct=False,
                              selective_broadcast=not head_hot)
        colloc_col = (f"{colloc_attr}_2" if colloc_attr else "term_2")
        # Sketch-Engine TRINARY gramrels: a 3: slot parameterizes the
        # relation NAME (`%(3.lemma)` — prepositional phrases become
        # one sub-relation per preposition); the slot's captured layer
        # folds into the relation id, so grouping/scoring/top-k all
        # run per sub-relation with no extra machinery
        third_col = (f"{colloc_attr}_3" if colloc_attr else "term_3")
        rel_col = (F.concat_ws("/", F.lit(rel.id), F.col(third_col))
                   if third_col in matches.columns
                   else F.lit(rel.id))
        return matches.select(
            rel_col.alias("relation"),
            "doc_id", F.col("pos_1").alias("hp"),
            F.col("pos_2").alias("cp"),
            F.col(f"{subst_attr}_1").alias("head"),
            F.col(colloc_col).alias("colloc_term"))

    # NOTE plan CONSTRUCTION cost for quantified catalogs is
    # driver/JVM-bound (hundreds of plan nodes per DP chain; measured
    # ~0.5 s/relation warm). A thread pool over the branches was tried
    # and does NOT help — py4j fans out but the JVM-side expression
    # analysis serializes — so the build stays sequential and simple.
    pair_parts += [_build_branch(rel) for rel in slow]
    all_pairs = pair_parts[0]
    for p in pair_parts[1:]:
        all_pairs = all_pairs.unionByName(p)
    return all_pairs


def _two_slot_shape(rel: RelationConfig):
    """``(head_item, colloc_item, lo, hi, head_first, dual)`` when the
    relation folds into the single window join: a plain two-token
    pattern with 1:/2: labels (``lo..hi`` = the second slot's offset
    from the first), or a ``dual`` one-constraint window relation.
    ``None`` → the relation keeps its own join branch (3+ slots,
    repetition quantifiers)."""
    from .cql import TokenItem

    q = rel.query
    if q.has_repetitions or q.constraints:
        # quantifiers change the join arity, inter-slot constraints
        # need capture columns — compile_cql territory, not a single
        # CASE-arm window join (a cross-attr `|` slot folds: its CASE
        # arm ORs the alternation groups, as _side_pred builds it)
        return None
    token_items = q.tokens
    if rel.dual and "2" not in q.labels:
        citem = token_items[rel.head_position - 1]
        return (TokenItem([]), citem, 1, rel.default_slop, True, True)
    if len(token_items) != 2 or not {"1", "2"} <= q.labels.keys():
        return None
    steps = q.steps
    head_first = rel.head_position == 1
    return (token_items[rel.head_position - 1],
            token_items[rel.colloc_position - 1],
            steps[1].lo, steps[1].hi, head_first, False)


@dataclass
class _ExtShape:
    """A relation foldable into the shared window join as enumerated
    CASE arms: two labeled end slots (1:/2: in either order) with
    bounded unlabeled fillers / fixed tokens / a 3: slot between them,
    plus optional inter-slot constraints between 1 and 2.

    ``arms``: ``[(g, variants)]`` where ``g`` is the signed collocate
    offset from the head position and each variant is
    ``(mid_tests, third_delta)`` — ``mid_tests`` the intermediate
    ``(delta_from_head, TokenItem)`` checks for that filler
    assignment, ``third_delta`` the 3: slot's offset (trinary
    relation-id parameterization) or ``None``.
    """

    head_item: "object"
    colloc_item: "object"
    cons: tuple
    arms: list


def _extended_fold_shape(rel: RelationConfig, max_arms: int = 24,
                         max_span: int = 6) -> _ExtShape | None:
    """Enumerate the window-join CASE arms of a quantified/constrained
    2-slot relation (``2:"JJ" [tag="DT"]{0,1} 1:"NN.*"``, a fixed mid
    token, a trinary 3: slot, ``& 1.tag = 2.tag``) — the shapes the
    slow ``compile_cql`` branch (interval-DP / chained joins) otherwise
    serves one Catalyst tree each. ``None`` when the pattern doesn't
    fit (labels not on the end slots, labeled quantifiers, span or arm
    count over the cap, constraints referencing 3:): the caller falls
    back to the per-relation compile."""
    from itertools import product

    from .cql import GapItem, TokenItem

    items, cons = rel.query.items, rel.query.constraints
    if (len(items) < 2 or not isinstance(items[0], TokenItem)
            or not isinstance(items[-1], TokenItem)):
        return None
    first, last = items[0], items[-1]
    if {first.label, last.label} != {"1", "2"}:
        return None
    if (first.rep_min, first.rep_max) != (1, 1) \
            or (last.rep_min, last.rep_max) != (1, 1):
        return None
    mids = items[1:-1]
    for it in mids:
        if isinstance(it, TokenItem) and it.label not in (None, "3"):
            return None
        if isinstance(it, TokenItem) and it.label == "3" \
                and (it.rep_min, it.rep_max) != (1, 1):
            return None
    if any(c.label_a not in ("1", "2") or c.label_b not in ("1", "2")
           for c in cons):
        return None
    # enumerate filler assignments: each mid takes k repetitions
    spans = []
    for it in mids:
        if isinstance(it, GapItem):
            spans.append((it.min, it.max, None))
        else:
            spans.append((it.rep_min, it.rep_max, it))
    n_arms = 1
    for lo, hi, _ in spans:
        n_arms *= hi - lo + 1
    if n_arms > max_arms:
        return None
    head_first = first.label == "1"
    head_item = first if head_first else last
    colloc_item = last if head_first else first
    by_g: dict[int, list] = {}
    for ks in product(*[range(lo, hi + 1) for lo, hi, _ in spans]):
        width = sum(ks)
        g0 = width + 1  # colloc offset from the FIRST end slot
        if g0 > max_span:
            return None
        mid_tests: list[tuple[int, object]] = []
        third = None
        off = 1  # next free position after the first end slot
        for k, (_lo, _hi, it) in zip(ks, spans):
            if it is not None:
                for r in range(k):
                    delta = (off + r) if head_first else (off + r - g0)
                    mid_tests.append((delta, it))
                if isinstance(it, TokenItem) and it.label == "3":
                    third = off if head_first else off - g0
            off += k
        g = g0 if head_first else -g0
        by_g.setdefault(g, []).append((tuple(mid_tests), third))
    return _ExtShape(head_item, colloc_item, tuple(cons),
                     sorted(by_g.items()))


def _nb_name(delta: int, col: str) -> str:
    """Stable column name for the head-side neighbor pivot."""
    sign = "m" if delta < 0 else "p"
    return f"_nb_{sign}{abs(delta)}_{col}"


def _nb_test_col(attr: str, delta: int, cols: list[str]) -> Column:
    """Resolve one test attribute against the Δ-offset neighbor
    column (the ``_resolve_col`` twin for pivoted neighbors)."""
    from .cql import DEFAULT_LAYERS

    if attr == "class":
        return word_class_expr(_nb_name(delta, "term"))
    name = DEFAULT_LAYERS.get(attr, attr)
    if name not in cols:
        raise ValueError(
            f"pattern attribute {attr!r} → column {name!r} not in "
            f"token table (available: {sorted(cols)})")
    return F.col(_nb_name(delta, name))


def _nb_pred(item, delta: int, cols: list[str]) -> Column:
    """One mid item's tests over the Δ-offset neighbor columns — the
    :func:`_side_pred` twin for intermediate positions. A missing
    neighbor (doc edge) is NULL, so every arm referencing it
    evaluates NULL and the CASE never fires — matching the join
    chain, where a non-existent position can't match."""
    from .cql import _item_pred

    pred = _item_pred(item, lambda a: _nb_test_col(a, delta, cols))
    # a negated-only test must still require the position to EXIST
    # (the chain joins the mid token; no token → no match): anchor on
    # the neighbor's surface term being present
    pred = pred & F.col(_nb_name(delta, "term")).isNotNull()
    return pred


def _ext_need_neighbors(extended, colloc_attr: str,
                        cols: list[str]) -> dict[int, set[str]]:
    """delta → token-table columns the extended arms read at that
    offset (mid tests + trinary capture layer)."""
    from .cql import DEFAULT_LAYERS, effective_test

    need: dict[int, set[str]] = {}

    def _add(delta: int, attr: str) -> None:
        name = "term" if attr == "class" else DEFAULT_LAYERS.get(attr, attr)
        need.setdefault(delta, set()).add(name)
        # existence anchor (see _nb_pred)
        need.setdefault(delta, set()).add("term")

    for _rel, ext in extended:
        for _g, variants in ext.arms:
            for mid_tests, third in variants:
                for delta, item in mid_tests:
                    for t in item.tests:
                        _add(delta, effective_test(t).attr)
                    for group in item.alts or ():
                        for t in group:
                            _add(delta, effective_test(t).attr)
                    if not item.tests and not item.alts:
                        _add(delta, "word")  # existence anchor only
                if third is not None:
                    _add(third, colloc_attr or "word")
    return need


def _side_pred(item, pref: str, cols: list[str]):
    """One end slot's tests, cross-attr ``|`` groups included, over
    ``{pref}``-aliased columns (the CASE-arm twin of
    ``plans.cql._item_predicate``)."""
    from .cql import DEFAULT_LAYERS, _item_pred

    def col_of(attr: str) -> Column:
        if attr == "class":
            return word_class_expr(f"{pref}.term")
        name = DEFAULT_LAYERS.get(attr, attr)
        if name not in cols:
            raise ValueError(
                f"pattern attribute {attr!r} → column {name!r} "
                f"not in token table (available: {sorted(cols)})")
        return F.col(f"{pref}.{name}")

    return _item_pred(item, col_of)


def _fast_window_pairs(tokens, fast, head, subst_attr, colloc_attr,
                       cols, within_sentence=False,
                       broadcast_head=True, extended=()):
    """ONE broadcast window join serving every foldable relation:
    head side = the substituted lemma's rows (every token when ``head``
    is ``None``), probe = one token-table pass at the max window;
    per-relation gap/direction/tests are CASE arms exploded into
    ``(relation, doc_id, hp, cp, head, colloc_term)``.

    ``extended`` relations (:func:`_extended_fold_shape`) additionally
    test INTERMEDIATE tokens / capture a trinary 3: slot: the head
    side is enriched with its ±Δ neighbors' layer values by one pivot
    join (probe pass over the token table, aggregate bounded by the
    head's cf), so each arm is still a pure predicate — no extra join
    branches, no per-relation Catalyst trees."""
    from .cql import DEFAULT_LAYERS, _resolve_col

    his = [hi for _r, (_h, _c, _lo, hi, _hf, _d) in fast]
    his += [abs(g) for _r, ext in extended for g, _v in ext.arms]
    maxw = max(his)
    h = (tokens if head is None
         else tokens.filter(_resolve_col(subst_attr, cols) == head))
    need_nb = _ext_need_neighbors(extended, colloc_attr, cols) \
        if extended else {}
    if need_nb:
        # one broadcast probe + a head-cf-bounded pivot: every (Δ,
        # layer) the arms read becomes a column of the head side.
        # Inner join is safe: positions are dense per doc, so any head
        # that can pair at all (doc length ≥ 2) has a ±1 neighbor.
        deltas = sorted(need_nb)
        lo_d = min(deltas + [-1])
        hi_d = max(deltas + [1])
        nb_cols = sorted({c_ for s in need_nb.values() for c_ in s})
        n = tokens.select(F.col("doc_id").alias("_n_doc"),
                          F.col("pos").alias("_n_pos"),
                          *[F.col(c_).alias(f"_n_{c_}")
                            for c_ in nb_cols])
        delta = F.col("_n_pos") - F.col("pos")
        joined = F.broadcast(h).join(
            n, (F.col("doc_id") == F.col("_n_doc"))
            & (delta >= lo_d) & (delta <= hi_d) & (delta != 0))
        aggs = [F.max(F.when(delta == d, F.col(f"_n_{c_}")))
                .alias(_nb_name(d, c_))
                for d in deltas for c_ in sorted(need_nb[d])]
        h = joined.groupBy(*[F.col(c_) for c_ in cols]).agg(*aggs)
    h = h.alias("h")
    c = tokens.alias("c")
    g = F.col("c.pos") - F.col("h.pos")
    cond = ((F.col("h.doc_id") == F.col("c.doc_id"))
            & (g >= -maxw) & (g <= maxw) & (g != 0))
    if within_sentence:
        # null-safe: a doc without a stored sentence array is one flat
        # stream, as in the in-driver kernel
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
    for rel, ext in extended:
        base = _side_pred(ext.head_item, "h", cols) \
            & _side_pred(ext.colloc_item, "c", cols)
        for con in ext.cons:
            ca = _ext_con_col(con.attr_a, con.label_a, cols)
            cb = _ext_con_col(con.attr_b, con.label_b, cols)
            base = base & (ca != cb if con.negated else ca == cb)
        for g0, variants in ext.arms:
            plain = [v for v in variants if v[1] is None]
            if plain:
                mid_or = F.lit(False)
                for mid_tests, _third in plain:
                    v_pred = F.lit(True)
                    for d, item in mid_tests:
                        v_pred = v_pred & _nb_pred(item, d, cols)
                    mid_or = mid_or | v_pred
                whens.append(F.when((g == g0) & base & mid_or,
                                    F.lit(rel.id)))
            for mid_tests, third in variants:
                if third is None:
                    continue
                v_pred = (g == g0) & base
                for d, item in mid_tests:
                    v_pred = v_pred & _nb_pred(item, d, cols)
                # trinary: the 3: slot's captured layer parameterizes
                # the relation id (Sketch-Engine `%(3.lemma)`)
                tl = DEFAULT_LAYERS.get(colloc_attr or "word",
                                        colloc_attr or "word")
                whens.append(F.when(v_pred, F.concat_ws(
                    "/", F.lit(rel.id), F.col(_nb_name(third, tl)))))
    cterm = DEFAULT_LAYERS.get(colloc_attr or "word",
                               colloc_attr or "word")
    return (
        (F.broadcast(h) if broadcast_head else h).join(c, cond)
        .select(F.col("h.doc_id").alias("doc_id"),
                F.col("h.pos").alias("hp"), F.col("c.pos").alias("cp"),
                F.col(f"h.{DEFAULT_LAYERS.get(subst_attr, subst_attr)}")
                .alias("head"),
                F.col(f"c.{cterm}").alias("colloc_term"),
                F.explode(F.array_compact(F.array(*whens)))
                .alias("relation"))
        .select("relation", "doc_id", "hp", "cp", "head", "colloc_term")
    )


def _ext_con_col(attr: str, label: str, cols: list[str]) -> Column:
    """Resolve one inter-slot constraint operand (label 1 = the head
    side ``h``, label 2 = the probe side ``c``) to its layer column —
    the window-join twin of ``_compile_with_constraints``' capture
    columns."""
    from .cql import DEFAULT_LAYERS

    pref = "h" if label == "1" else "c"
    if attr == "class":
        return word_class_expr(f"{pref}.term")
    name = DEFAULT_LAYERS.get(attr, attr)
    if name not in cols:
        raise ValueError(
            f"constraint attribute {attr!r} → column {name!r} not in "
            f"token table (available: {sorted(cols)})")
    return F.col(f"{pref}.{name}")


def unary_counts(
    tokens: DataFrame,
    catalog: GrammarCatalog,
    head: str,
    subst_attr: str = "lemma",
    within_sentence: bool = False,
) -> DataFrame:
    """Sketch-Engine UNARY gramrels ("in passive", "as reflexive" —
    ``*UNARY`` sections of a wsdef grammar, loaded with
    ``parse_wsdef(…, skip_unary=False)``): no collocate slot, the
    sketch shows the head's MATCH FREQUENCY per relation. Output
    ``(relation, freq)`` — distinct head occurrences (doc, head-pos)
    matched, relation-ordered. One compiled plan per relation unioned
    before a single count-distinct aggregate (the word-sketch fan-out
    shape without the scoring tail)."""
    rels = [r for r in catalog.relations
            if r.pattern and r.extra.get("unary")]
    if not rels:
        return tokens.sparkSession.createDataFrame(
            [], "relation string, freq long")
    parts = []
    for rel in rels:
        m = compile_cql(tokens,
                        rel.query.substitute(head, rel.head_position,
                                             attr=subst_attr),
                        keep_terms=False, within_sentence=within_sentence,
                        distinct=False)
        parts.append(m.select(F.lit(rel.id).alias("relation"),
                              "doc_id", F.col("pos_1").alias("hp")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return (out.groupBy("relation")
            .agg(F.count_distinct("doc_id", "hp").alias("freq"))
            .orderBy("relation"))


@dataclass
class SketchBranch:
    """One executable branch of a word sketch for a concrete head word.

    ``reversed=True`` is the mirrored side of a ``dual`` relation — the
    head word plays the relation's collocate role (Sketch Engine's
    "X_of" mirror; the reference's ``dual`` flag), so the gap direction
    flips for ordered patterns and the collocate takes the head class.
    """

    id: str
    colloc_class: str | None
    min_gap: int
    max_gap: int
    ordered: bool
    reversed: bool = False


def sketch_branches(catalog: GrammarCatalog, head_term: str
                    ) -> list[SketchBranch]:
    """Branches applicable to this head word: relations whose head-class
    constraint the head satisfies, plus the mirrored branch of each
    ``dual`` relation whose COLLOCATE class the head satisfies. Shared
    by the Spark plan and the DuckDB oracle generator so both engines
    enumerate identically."""
    wc = WORD_CLASSES.get(head_term, "X")
    out = []
    for rel in catalog.surface():
        if rel.pattern:
            continue  # pattern relations compile via plans.cql instead
        if rel.head_class in (None, wc):
            out.append(SketchBranch(rel.id, rel.colloc_class,
                                    rel.min_gap, rel.max_gap, rel.ordered))
        # mirrored dual branch: the head word plays the COLLOCATE role.
        # Skipped when it would duplicate the forward branch (unordered
        # with identical class constraints on both ends).
        mirror_dupes = (not rel.ordered
                        and rel.head_class == rel.colloc_class)
        if rel.dual and rel.colloc_class in (None, wc) and not mirror_dupes:
            out.append(SketchBranch(f"{rel.id}~of", rel.head_class,
                                    rel.min_gap, rel.max_gap, rel.ordered,
                                    reversed=True))
    return out


def word_sketch(
    tokens: DataFrame,
    term_stats: DataFrame,
    head_term: str,
    catalog: GrammarCatalog,
    limit_per_relation: int = 20,
    min_logdice: float = 0.0,
    round_dp: int | None = None,
) -> DataFrame:
    """V1 full word sketch: every applicable SURFACE relation's ranked
    collocates in ONE job (``SketchHandlers.java:48-49,227-230``).

    Plan shape (one scan, not one per relation): a single window join
    at the catalog-wide max slop builds the head's pair table once;
    each pair row then explodes into the class relation ids it
    satisfies (gap/order/class predicates as an ``array_compact`` of
    CASEs — pure Catalyst). Pattern relations come from the
    :func:`word_sketch_patterns` pair builder over the surface layer
    (head substituted on ``word``, collocates read from ``term``).
    Both count tables union before ONE ranking tail: one stats join and
    one per-relation ``row_number`` top-k window. N relations cost N
    cheap predicates, not N scans and N stats joins.
    """
    from ..caching import persist_tracked
    from ..operators.proximity import window_pairs

    branches = sketch_branches(catalog, head_term)
    pattern_rels = [r for r in catalog.surface() if r.pattern]
    if not branches and not pattern_rels:
        return tokens.sparkSession.createDataFrame([], _SKETCH_SCHEMA)
    if pattern_rels:
        # the pattern pair builder reads the token table from several
        # branches and probes term_stats for the head cf — persist both
        # once (tracked: the session owner releases via
        # caching.release_all() after the action)
        tokens = persist_tracked(tokens)
        term_stats = persist_tracked(term_stats)
    counts = []
    if branches:
        # ordered gaps may be NEGATIVE (collocate strictly BEFORE the
        # head, the reference's `2:[...] 1:[...]` direction); the shared
        # pair window covers every branch as |gap| ∈ [1, max|bound|]
        coverage = max(max(abs(b.min_gap), abs(b.max_gap))
                       for b in branches)
        pairs = window_pairs(tokens, 1, coverage, ordered=False,
                             head_filter=F.col("head_term") == head_term)
        gap = F.col("colloc_pos") - F.col("head_pos")
        whens = []
        for br in branches:
            if br.ordered:
                g = -gap if br.reversed else gap
                c = (g >= br.min_gap) & (g <= br.max_gap)
            else:
                c = (F.abs(gap) >= br.min_gap) & (F.abs(gap) <= br.max_gap)
            if br.colloc_class:
                c = c & (word_class_expr("colloc_term") == br.colloc_class)
            whens.append(F.when(c, F.lit(br.id)))
        counts.append(
            pairs.select(
                "colloc_term",
                F.explode(F.array_compact(F.array(*whens))).alias("relation"))
            .groupBy("relation", "colloc_term")
            .agg(F.count("*").alias("pair_freq")))
    if pattern_rels:
        counts.append(
            _pattern_pairs(tokens, term_stats, head_term, pattern_rels,
                           subst_attr="word", colloc_attr=None)
            .groupBy("relation", "colloc_term")
            .agg(F.count_distinct("doc_id", "hp", "cp").alias("pair_freq")))
    grouped = counts[0]
    for c in counts[1:]:
        grouped = grouped.unionByName(c)
    return score_ranked_collocates(
        grouped, term_stats, head_term,
        limit_per_relation=limit_per_relation, min_logdice=min_logdice,
        round_dp=round_dp)
