"""Mini-BCQL: a corpus-query-language subset compiled to DataFrame plans.

Reference parity (P1/V9 — the reference's most-used query surface):
- token constraints ``[attr="regex"]`` with ``&``-conjunction and
  ``!=`` negation (``CqlUtils.java:38-47``, constraint blocks split as
  in ``CqlUtils.splitCqlTokens`` at ``CqlUtils.java:74-125``)
- numbered capture labels ``1:[...] 2:[...]`` (head/collocate
  positions, ``GrammarConfigLoader.deriveTokenPosition``,
  ``GrammarConfigLoader.java:289-316``)
- bounded gaps ``[]{min,max}`` and bare ``[]`` wildcards
  (``grammars/relations.json:40,48`` — ``2:[xpos="NN.*"] []{0,3}
  1:[xpos="VB.*"]``)
- quoted literals ``"word"`` as shorthand for ``[word="word"]``
- lemma substitution into a labeled position
  (``CqlUtils.substituteAtPosition``, ``CqlUtils.java:131-147``)

Spark-first compilation: each constraint is a filtered projection of
the token table (selective predicates reach the scan; pure-literal
regexes degrade to ``=`` so parquet pushdown still applies), and the
sequence is a chain of positional joins on ``doc_id`` — fixed-width
steps become pure equi-joins ``pos₂ = pos₁ + k``; variable gaps add a
band predicate. This is the same join shape as
:mod:`..operators.proximity`, so it scales with the corpus, never
quadratically: per-doc fan-out is bounded by document length.

Layer routing: attribute names map to token-table columns (``word`` /
``term`` → ``term``; ``lemma``/``upos``/``xpos``/``deprel`` → same-named
columns when present — the CoNLL-U multi-layer schema of
``sources/conllu.py``). Unknown attrs fail fast with the available set.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scoring import score_ranked_collocates

# chars whose presence makes a value a real regex; otherwise it is a
# literal and compiles to an equality test (pushdown-friendly)
_REGEX_META = re.compile(r"[.\^$*+?{}\[\]()|\\]")


@dataclass
class AttrTest:
    """One ``attr="regex"`` (or ``attr!="regex"``) test."""

    attr: str
    value: str
    negated: bool = False

    @property
    def is_literal(self) -> bool:
        return _REGEX_META.search(self.value) is None


@dataclass
class TokenItem:
    """One ``[...]`` constraint position, optionally labeled.

    ``rep_min``/``rep_max`` carry a bounded repetition quantifier
    (``[xpos="JJ.*"]{1,2}`` — one or two consecutive matching tokens,
    the BlackLab token-quantifier form); compilation expands the
    pattern into its concrete-length variants."""

    tests: list[AttrTest] = field(default_factory=list)
    label: str | None = None
    rep_min: int = 1
    rep_max: int = 1
    # top-level `|` DISJUNCTION of test conjunctions inside one
    # bracket (`[tag="JJ.*"|tag="RB.*"|word=","]`, the Sketch-Engine
    # grammar form): the item matches when ANY branch's tests all
    # hold. `tests` then holds shared conjunctive tests only (usually
    # empty); same-attr single-test branches never reach here — the
    # parser merges them into one alternation regex.
    alts: list[list[AttrTest]] | None = None


@dataclass
class GapItem:
    """``[]{min,max}`` / bare ``[]`` — unconstrained filler tokens."""

    min: int
    max: int


@dataclass(frozen=True)
class SlotConstraint:
    """One inter-slot constraint ``A.attr = B.attr`` between labeled
    positions — the Sketch-Engine grammar construct
    (``& 1.tag = 2.tag``, `/root/reference/grammars/penn_3.1_en.txt`
    coordination rules) and BlackLab's global-constraint form
    (``:: a.lemma = b.lemma``). Comparison is plain value equality on
    the resolved layer (two ``_`` no-annotation values compare equal —
    the join-key semantics both engines use)."""

    label_a: str
    attr_a: str
    label_b: str
    attr_b: str
    negated: bool = False


# trailing inter-slot constraints: `... & 1.tag = 2.tag` (wsdef) or
# `... :: a.lemma = b.lemma` (BlackLab). Peeled right-to-left from the
# pattern end, so the in-bracket `&` conjunction is never touched.
_CONSTRAINT_RE = re.compile(
    r"\s*(?:&|::)\s*(?P<la>\w+)\s*\.\s*(?P<aa>\w+)\s*"
    r"(?P<op>!?=)\s*(?P<lb>\w+)\s*\.\s*(?P<ab>\w+)\s*$")


def strip_constraints(pattern: str) \
        -> tuple[str, tuple[SlotConstraint, ...]]:
    """Split trailing inter-slot constraints off a BCQL string:
    ``(core_pattern, constraints)`` in source order."""
    cons: list[SlotConstraint] = []
    while True:
        m = _CONSTRAINT_RE.search(pattern)
        if not m:
            break
        cons.append(SlotConstraint(m.group("la"), m.group("aa"),
                                   m.group("lb"), m.group("ab"),
                                   negated=m.group("op") == "!="))
        pattern = pattern[:m.start()]
    return pattern, tuple(reversed(cons))


# a [...] body is a run of non-]/non-quote chars or whole quoted strings —
# so a ']' INSIDE a quoted regex value (e.g. [word="[a-z]+"]) never
# terminates the block (the reference's CqlUtils.splitCqlTokens rule)
_BODY = r'(?:[^\]"]|"(?:[^"\\]|\\.)*")*'
_TOKEN_RE = re.compile(
    rf"""\s*(?:
        (?P<label>\w+):\s*\[(?P<lbody>{_BODY})\]
      | \[(?P<body>{_BODY})\](?:\{{(?P<gmin>\d+),(?P<gmax>\d+)\}})?
      | "(?P<lit>(?:[^"\\]|\\.)*)"
    )\s*""",
    re.VERBOSE,
)

_TEST_RE = re.compile(r'\s*(?P<attr>\w+)\s*(?P<op>!?=)\s*"(?P<val>(?:[^"\\]|\\.)*)"\s*')


def _parse_body(body: str) -> list[AttrTest]:
    """Parse the ``&``-conjunction inside one ``[...]`` block."""
    tests = []
    parts = _split_amp(body)
    for part in parts:
        m = _TEST_RE.fullmatch(part)
        if not m:
            raise ValueError(f"bad token constraint: {part!r}")
        tests.append(AttrTest(m.group("attr"),
                              m.group("val").replace('\\"', '"'),
                              negated=m.group("op") == "!="))
    return tests


def _split_top(body: str, sep: str) -> list[str]:
    """Split on a top-level single-char separator (not inside quotes)."""
    out, cur, in_q = [], [], False
    i = 0
    while i < len(body):
        c = body[i]
        if c == '"' and (i == 0 or body[i - 1] != "\\"):
            in_q = not in_q
        if c == sep and not in_q:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(c)
        i += 1
    out.append("".join(cur))
    return [p for p in (s.strip() for s in out) if p]


def _split_amp(body: str) -> list[str]:
    """Split on top-level ``&`` (not inside quotes)."""
    return _split_top(body, "&")


def _parse_item_body(body: str) \
        -> tuple[list[AttrTest], list[list[AttrTest]] | None]:
    """Parse one bracket body into ``(tests, alts)``: a plain
    conjunction yields ``(tests, None)``; a top-level ``|``
    disjunction of SAME-attr positive single tests merges into one
    alternation regex (stays on every fast path); anything else
    becomes ``alts`` branches (OR of conjunctions)."""
    body = body.strip()
    if body.startswith("!(") and body.endswith(")"):
        # negated group `!(a="x"|b="y")` (Sketch-Engine grammar form):
        # De Morgan — same-attr branches fold to one negated
        # alternation, mixed attrs to a conjunction of negations
        groups = [_parse_body(b) for b in _split_top(body[2:-1], "|")]
        if any(len(g) != 1 or g[0].negated for g in groups):
            raise ValueError(f"negated group must OR single positive "
                             f"tests: {body!r}")
        if len({g[0].attr for g in groups}) == 1:
            merged = "|".join(f"(?:{g[0].value})" for g in groups)
            return [AttrTest(groups[0][0].attr, merged,
                             negated=True)], None
        return [AttrTest(g[0].attr, g[0].value, negated=True)
                for g in groups], None
    branches = _split_top(body, "|")
    if len(branches) == 1:
        return _parse_body(body), None
    groups = [_parse_body(b) for b in branches]
    if all(len(g) == 1 and not g[0].negated for g in groups) \
            and len({g[0].attr for g in groups}) == 1:
        merged = "|".join(f"(?:{g[0].value})" for g in groups)
        return [AttrTest(groups[0][0].attr, merged)], None
    return [], groups


# BlackLab's sentence-span clause: `PATTERN within <s/>` constrains the
# whole match to one sentence (the reference indexes <s> spans,
# conllu-sentences.blf.yaml:16; BlackLab CQL `within` operator)
_WITHIN_RE = re.compile(r"\s+within\s*<\s*s\s*/?\s*>\s*$", re.IGNORECASE)


def strip_within_sentence(pattern: str) -> tuple[str, bool]:
    """Split an optional trailing ``within <s/>`` clause off a BCQL
    string: ``(core_pattern, within_sentence_flag)``."""
    m = _WITHIN_RE.search(pattern)
    if m:
        return pattern[:m.start()], True
    return pattern, False


# BlackLab's span-filter operator: `<s/> containing PATTERN` yields the
# SENTENCE spans holding at least one full match of PATTERN (and
# `<s/> !containing PATTERN` its complement) — the dual of `within`:
# `within` keeps token matches, `containing` produces structure spans.
_CONTAINING_RE = re.compile(
    r"^\s*<\s*s\s*/?\s*>\s*(!?)\s*containing\s+", re.IGNORECASE)


def strip_containing(pattern: str) -> tuple[str, str | None]:
    """Split an optional leading ``<s/> [!]containing`` clause off a
    BCQL string: ``(core_pattern, mode)`` where mode is ``None`` (no
    clause), ``"containing"`` or ``"not_containing"``."""
    m = _CONTAINING_RE.match(pattern)
    if m:
        mode = "not_containing" if m.group(1) == "!" else "containing"
        return pattern[m.end():], mode
    return pattern, None


def parse_cql(pattern: str) -> list[TokenItem | GapItem]:
    """Parse a mini-BCQL pattern into an item sequence.

    Raises ``ValueError`` on syntax errors, empty patterns, gap items in
    anchor position ambiguity (leading/trailing gaps are allowed but
    meaningless and dropped), or ``{min,max}`` with ``min > max``.
    """
    items: list[TokenItem | GapItem] = []
    pos = 0
    while pos < len(pattern):
        m = _TOKEN_RE.match(pattern, pos)
        if not m:
            raise ValueError(f"cannot parse CQL at: {pattern[pos:]!r}")
        pos = m.end()
        if m.group("lit") is not None:
            items.append(TokenItem(
                [AttrTest("word", re.escape(m.group("lit")))]))
        elif m.group("label") is not None:
            tests, alts = _parse_item_body(m.group("lbody"))
            items.append(TokenItem(tests, label=m.group("label"),
                                   alts=alts))
        else:
            body = (m.group("body") or "").strip()
            gmin, gmax = m.group("gmin"), m.group("gmax")
            if not body:
                lo = int(gmin) if gmin is not None else 1
                hi = int(gmax) if gmax is not None else 1
                if lo > hi:
                    raise ValueError(f"bad gap bounds {{{lo},{hi}}}")
                items.append(GapItem(lo, hi))
            else:
                rep_lo = rep_hi = 1
                if gmin is not None:
                    rep_lo, rep_hi = int(gmin), int(gmax)
                    # rep_min=0 = the Sketch-Engine grammar's OPTIONAL
                    # constrained token ([tag="DT"]{0,1}); expansion
                    # emits the absent variant
                    if not 0 <= rep_lo <= rep_hi or rep_hi < 1:
                        raise ValueError(
                            f"bad repetition bounds {{{rep_lo},{rep_hi}}}")
                tests, alts = _parse_item_body(body)
                items.append(TokenItem(tests, rep_min=rep_lo,
                                       rep_max=rep_hi, alts=alts))
    # drop leading/trailing gaps (no anchor to attach to)
    while items and isinstance(items[0], GapItem):
        items.pop(0)
    while items and isinstance(items[-1], GapItem):
        items.pop()
    if not items:
        raise ValueError("empty CQL pattern")
    if not any(isinstance(i, TokenItem) for i in items):
        raise ValueError("pattern must contain at least one token constraint")
    return items


@dataclass
class RelationQuery:
    """A dependency-relation query ``SOURCE -deprel-> TARGET`` — the
    reference's BCQL relation-operator form
    (``BlackLabQueryExecutor.executeDependencyPattern``,
    ``BlackLabQueryExecutor.java:211-229``: ``"lemma" -nsubj-> _`` or
    ``[lemma="x" & xpos="VB.*"] -nsubj-> _``). ``source`` constrains
    the GOVERNOR token, ``target`` the DEPENDENT; ``_`` parses to an
    unconstrained item. Quoted literals are LEMMA tests here (the
    reference substitutes the lowercased lemma into the quoted slot)."""

    source: TokenItem
    deprel: str
    target: TokenItem


_REL_OP_RE = re.compile(r"\s*-(?P<rel>\w[\w:]*)->\s*")
_WILD_RE = re.compile(r"\s*_\s*")


def _parse_rel_operand(pattern: str, pos: int,
                       lit_attr: str) -> tuple[TokenItem | None, int]:
    m = _WILD_RE.match(pattern, pos)
    if m:
        return TokenItem([]), m.end()
    m = _TOKEN_RE.match(pattern, pos)
    if not m or m.group("gmin") is not None:
        return None, pos
    if m.group("lit") is not None:
        return TokenItem([AttrTest(lit_attr,
                                   re.escape(m.group("lit")))]), m.end()
    if m.group("label") is not None:
        return TokenItem(_parse_body(m.group("lbody")),
                         label=m.group("label")), m.end()
    body = (m.group("body") or "").strip()
    if not body:  # bare [] is a gap item, not a relation operand
        return None, pos
    return TokenItem(_parse_body(body)), m.end()


def parse_relation_query(pattern: str,
                         lit_attr: str = "lemma") -> RelationQuery | None:
    """Parse ``SOURCE -deprel-> TARGET``; ``None`` when the pattern has
    no relation operator (so callers can fall through to
    :func:`parse_cql`). Raises ``ValueError`` on a malformed relation
    query (operator present but operands unparseable / trailing junk).

    ``lit_attr``: the layer a bare quoted literal tests — ``lemma`` to
    match the reference, which always substitutes the lemma into the
    quoted position (``executeDependencyPattern``)."""
    if "->" not in pattern:
        return None
    src, p = _parse_rel_operand(pattern, 0, lit_attr)
    if src is None:
        return None
    m = _REL_OP_RE.match(pattern, p)
    if not m:
        return None
    tgt, p2 = _parse_rel_operand(pattern, m.end(), lit_attr)
    if tgt is None:
        raise ValueError(
            f"bad relation-query target at: {pattern[m.end():]!r}")
    if pattern[p2:].strip():
        raise ValueError(
            f"trailing content after relation query: {pattern[p2:]!r}")
    return RelationQuery(src, m.group("rel"), tgt)


def has_repetitions(items: list[TokenItem | GapItem]) -> bool:
    return any(isinstance(it, TokenItem)
               and (it.rep_min, it.rep_max) != (1, 1) for it in items)


def expand_repetitions(items: list[TokenItem | GapItem],
                       max_variants: int = 64
                       ) -> list[list[TokenItem | GapItem]]:
    """Expand bounded token quantifiers into the concrete-length
    pattern variants (``[J]{1,2} [N]`` → ``[J] [N]`` ∪ ``[J] [J]
    [N]``) — the union-of-fixed-sequences reading of BlackLab's
    quantified constraints. Variant count = Π(rep spans), capped."""
    n = 1
    for it in items:
        if isinstance(it, TokenItem):
            if it.label is not None and (it.rep_min, it.rep_max) != (1, 1):
                # a quantified LABELED slot has no single capture
                # position; expansion would emit variants with
                # missing/duplicate pos_<label> columns and fail
                # downstream with an opaque AnalysisException
                raise ValueError(
                    f"quantifier on the labeled slot {it.label}: — "
                    "head/collocate positions must be single tokens")
            n *= it.rep_max - it.rep_min + 1
    if n > max_variants:
        raise ValueError(
            f"repetition expansion would produce {n} pattern variants "
            f"(cap {max_variants}) — narrow the quantifier bounds")
    variants: list[list[TokenItem | GapItem]] = [[]]
    for it in items:
        if isinstance(it, TokenItem) and (it.rep_min, it.rep_max) != (1, 1):
            unit = TokenItem(it.tests, label=it.label, alts=it.alts)
            variants = [v + [unit] * k
                        for v in variants
                        for k in range(it.rep_min, it.rep_max + 1)]
        else:
            variants = [v + [it] for v in variants]
    # rep_min=0 variants can strand gaps at the edges (an optional
    # token next to a filler) — trim them like parse_cql does, and
    # drop variants reduced to nothing
    out = []
    for v in variants:
        while v and isinstance(v[0], GapItem):
            v = v[1:]
        while v and isinstance(v[-1], GapItem):
            v = v[:-1]
        if v:
            out.append(v)
    if not out:
        raise ValueError("pattern expands to no non-empty variant "
                         "(every token optional)")
    return out


def substitute_at_position(items: list[TokenItem | GapItem], value: str,
                           position: int, attr: str = "word"
                           ) -> list[TokenItem | GapItem]:
    """Inject ``attr="value"`` (escaped literal) into the Nth token
    constraint, keeping its other tests — the reference's lemma
    substitution (``CqlUtils.substituteAtPosition``,
    ``CqlUtils.java:131-168``)."""
    out: list[TokenItem | GapItem] = []
    n = 0
    for it in items:
        if isinstance(it, TokenItem):
            n += 1
            if n == position:
                it = TokenItem([AttrTest(attr, re.escape(value))] + it.tests,
                               label=it.label, rep_min=it.rep_min,
                               rep_max=it.rep_max, alts=it.alts)
        out.append(it)
    if n < position:
        raise ValueError(f"pattern has {n} token positions, not {position}")
    return out


# ------------------------------------------------------------ steps
@dataclass
class _Step:
    """Resolved constraint: offset range from the previous constraint."""

    item: TokenItem
    lo: int  # min positions after previous constraint (first step: 0)
    hi: int


def _steps(items: list[TokenItem | GapItem]) -> list[_Step]:
    steps: list[_Step] = []
    pend_lo = pend_hi = 0
    first = True
    for it in items:
        if isinstance(it, GapItem):
            pend_lo += it.min
            pend_hi += it.max
            continue
        if first:
            steps.append(_Step(it, 0, 0))
            first = False
        else:
            steps.append(_Step(it, 1 + pend_lo, 1 + pend_hi))
        pend_lo = pend_hi = 0
    return steps


DEFAULT_LAYERS = {"word": "term", "term": "term", "lemma": "lemma",
                  "upos": "upos", "xpos": "xpos", "deprel": "deprel",
                  "pos": "upos", "tag": "xpos", "feats": "feats",
                  # case-SENSITIVE variants (reference indexes
                  # sensitive_insensitive for word/lemma,
                  # conllu-sentences.blf.yaml:24,29)
                  "word_cs": "word_cs", "lemma_cs": "lemma_cs"}

# BlackLab-style sensitivity flag: [word="(?-i)Spark"] matches the
# case-PRESERVED layer exactly (the flag is stripped here, never passed
# to the regex engine)
_SENS_FLAG = "(?-i)"
_SENS_ROUTE = {"word": "word_cs", "term": "word_cs", "lemma": "lemma_cs"}


def effective_test(test: AttrTest) -> AttrTest:
    """Resolve the sensitivity flag: ``word``/``lemma`` tests whose
    value starts with ``(?-i)`` are rewritten onto the case-preserved
    ``*_cs`` layer with the flag stripped."""
    if test.value.startswith(_SENS_FLAG) and test.attr in _SENS_ROUTE:
        return AttrTest(_SENS_ROUTE[test.attr],
                        test.value[len(_SENS_FLAG):], test.negated)
    return test


def _resolve_col(attr: str, columns: list[str]) -> Column:
    if attr == "class":
        # virtual layer: deterministic word class of the surface term
        # (the synthetic xpos analog; a real deployment has xpos columns)
        from .relations import word_class_expr

        return word_class_expr("term")
    col = DEFAULT_LAYERS.get(attr, attr)
    if col not in columns:
        raise ValueError(
            f"pattern attribute {attr!r} → column {col!r} not in token "
            f"table (available: {sorted(columns)})")
    return F.col(col)


# annotation layers where "_" is CoNLL-U's explicit NO-ANNOTATION
# value (conllu.py col defaults): the index drops it from layer
# postings (build_layer_postings — one corpus-sized hot posting
# otherwise), so the DataFrame/forward tiers must agree: positive
# tests never match "_", negated tests always do. The surface layers
# (term/word_cs) are exempt — a literal "_" token is a real word.
_ANNOT_LAYERS = {"lemma", "upos", "xpos", "deprel", "feats", "lemma_cs"}


def _test_col(test: AttrTest, col: Column) -> Column:
    if test.is_literal:
        c = col == test.value.replace("\\", "")
    else:
        c = col.rlike(f"^(?:{test.value})$")
    if DEFAULT_LAYERS.get(test.attr, test.attr) in _ANNOT_LAYERS:
        c = c & (col != "_")
    return ~c if test.negated else c


def _item_pred(item: TokenItem, col_of) -> Column:
    """One item's tests AND the OR of its cross-attr ``|`` groups, each
    test attribute resolved to a column by ``col_of`` — shared with the
    window-join fold (``plans.relations``), which resolves attributes
    against aliased or neighbor columns."""
    def conj(tests) -> Column:
        pred = F.lit(True)
        for t in tests:
            t = effective_test(t)
            pred = pred & _test_col(t, col_of(t.attr))
        return pred

    pred = conj(item.tests)
    if item.alts:
        alt = F.lit(False)
        for group in item.alts:
            alt = alt | conj(group)
        pred = pred & alt
    return pred


def _item_predicate(item: TokenItem, columns: list[str]) -> Column:
    return _item_pred(item, lambda a: _resolve_col(a, columns))


def has_alts(items: list[TokenItem | GapItem]) -> bool:
    """True when any token carries a cross-attr ``|`` disjunction —
    the in-driver span chain tracks per-LAYER position sets and cannot
    union across layers, so these route to the distributed compile."""
    return any(isinstance(it, TokenItem) and it.alts for it in items)


def compile_cql(
    tokens: DataFrame,
    pattern: str | list[TokenItem | GapItem],
    keep_terms: bool = True,
    capture_attrs: tuple[str, ...] = (),
    within_sentence: bool = False,
    distinct: bool = True,
    selective_broadcast: bool = True,
    capture_sent: bool = False,
    constraints: tuple[SlotConstraint, ...] = (),
) -> DataFrame:
    """Compile a pattern to the DataFrame of its matches.

    Output: one row per distinct match assignment —
    ``(doc_id, start, end)`` plus, per labeled position L,
    ``pos_L`` (token position) and ``term_L`` (matched surface term),
    plus ``{attr}_L`` for each attr in ``capture_attrs`` (extra
    annotation layers — e.g. the matched lemma — captured at labeled
    positions only).

    Plan: filtered token projections chained by positional joins —
    fixed-offset steps are pure equi-joins on ``(doc_id, pos)``;
    variable gaps add a band predicate on the same hash join.

    ``within_sentence=True`` constrains the whole match to one sentence
    (requires a ``sent_no`` column — ``sources.conllu.layer_tokens``
    emits it): the reference indexes ``<s>`` spans and its span queries
    never cross them (``conllu-sentences.blf.yaml:16``). Sentences are
    position-contiguous, so equality of the two END slots' sentence
    ordinals (folded into each positional join) bounds every token
    between them too.

    ``distinct=False`` skips the final dedup SHUFFLE — for callers
    that aggregate downstream with ``count(DISTINCT ...)`` anyway
    (the sketch fan-out: 41 relations × a distinct each would be 41
    shuffles; one count-distinct aggregate replaces them all).

    Slots carrying a positive LITERAL ``word``/``lemma`` test get a
    broadcast hint: one surface form's rows are bounded by its
    collection frequency (the sketch fan-out substitutes the head
    lemma into every pattern — without the hint each of 41 branches
    shuffles its full class-wide projections, because Catalyst cannot
    statically size a filter on cached/exploded input). Once a
    selective slot has joined, the chained result inherits the hint.
    A class-wide slot (``[xpos="NN.*"]``) never hints. Callers that
    KNOW a literal slot is corpus-hot (stopword heads at web scale —
    the index router measures Σcf) pass ``selective_broadcast=False``
    and the plan falls back to shuffle joins; with no such knowledge
    the hint stands, because a literal content form's cf is bounded
    by vocabulary statistics, not corpus size.
    """
    if capture_sent and not within_sentence:
        raise ValueError("capture_sent=True requires within_sentence="
                         "True (a cross-sentence match has no single "
                         "sent_no)")
    if isinstance(pattern, str):
        pattern, ws = strip_within_sentence(pattern)
        pattern, parsed_cons = strip_constraints(pattern)
        # BlackLab writes constraints LAST (`… within <s/> :: a.w =
        # b.w`), wsdef puts them before a within — accept both orders
        pattern, ws2 = strip_within_sentence(pattern)
        within_sentence = within_sentence or ws or ws2
        constraints = tuple(constraints) + parsed_cons
    items = parse_cql(pattern) if isinstance(pattern, str) else pattern
    if constraints:
        return _compile_with_constraints(
            tokens, items, constraints, keep_terms=keep_terms,
            capture_attrs=capture_attrs,
            within_sentence=within_sentence, distinct=distinct,
            selective_broadcast=selective_broadcast,
            capture_sent=capture_sent)
    if has_repetitions(items):
        # bounded token quantifiers: a linear DP chain (one join per
        # possible filler token, one union branch per optional count)
        # — plan size Σrep_max, where naive variant expansion is
        # Πrep (the Sketch-Engine NP chunks reach 2592 variants).
        try:
            return _compile_dp(tokens, items, keep_terms=keep_terms,
                               capture_attrs=capture_attrs,
                               within_sentence=within_sentence,
                               distinct=distinct,
                               selective_broadcast=selective_broadcast,
                               capture_sent=capture_sent)
        except _DPUnsupported:
            pass
        # leading-optional shapes: bounded union of the concrete-length
        # variants. distinct/selective_broadcast forward to every
        # variant (a router that suppressed the broadcast hint must
        # stay suppressed); the cross-variant dedup runs once, only
        # when the caller asked for it.
        out = None
        for v in expand_repetitions(items):
            b = compile_cql(tokens, v, keep_terms=keep_terms,
                            capture_attrs=capture_attrs,
                            within_sentence=within_sentence,
                            distinct=False,
                            selective_broadcast=selective_broadcast,
                            capture_sent=capture_sent)
            out = b if out is None else out.unionByName(b)
        return out.distinct() if distinct else out
    steps = _steps(items)
    cols = tokens.columns
    if within_sentence and "sent_no" not in cols:
        raise ValueError("within_sentence=True needs a sent_no column "
                         "(sources.conllu.layer_tokens emits it)")

    def _side(i: int, item: TokenItem) -> DataFrame:
        sel = [F.col("doc_id").alias(f"d{i}"), F.col("pos").alias(f"p{i}")]
        if within_sentence:
            sel.append(F.col("sent_no").alias(f"s{i}"))
        if keep_terms:
            sel.append(F.col("term").alias(f"t{i}"))
        if item.label is not None:
            for a in capture_attrs:
                sel.append(_resolve_col(a, cols).alias(f"x_{a}_{i}"))
        return tokens.filter(_item_predicate(item, cols)).select(*sel)

    cur = _side(0, steps[0].item)
    chain_selective = _selective(steps[0].item, selective_broadcast)
    for i, st in enumerate(steps[1:], start=1):
        nxt = _side(i, st.item)
        prev_p = F.col(f"p{i - 1}")
        if st.lo == st.hi:
            cond = (F.col(f"d{i}") == F.col("d0")) & \
                   (F.col(f"p{i}") == prev_p + st.lo)
        else:
            cond = (F.col(f"d{i}") == F.col("d0")) & \
                   (F.col(f"p{i}") >= prev_p + st.lo) & \
                   (F.col(f"p{i}") <= prev_p + st.hi)
        if within_sentence:
            # null-safe: a doc without a stored sentence array (nulls
            # after arrays_zip) is one flat stream, as in the kernel
            cond = cond & F.col(f"s{i}").eqNullSafe(F.col("s0"))
        if chain_selective:
            # the chained result is bounded by the earlier selective
            # slot (× window width) — keep it the broadcast side
            cur = F.broadcast(cur).join(nxt, cond)
        elif _selective(st.item, selective_broadcast):
            cur = cur.join(F.broadcast(nxt), cond)
            chain_selective = True
        else:
            cur = cur.join(nxt, cond)
        cur = cur.drop(f"d{i}", f"s{i}")
    last = len(steps) - 1
    out_cols = [F.col("d0").alias("doc_id"), F.col("p0").alias("start"),
                F.col(f"p{last}").alias("end")]
    if capture_sent:
        out_cols.append(F.col("s0").alias("sent_no"))
    for i, st in enumerate(steps):
        if st.item.label is not None:
            out_cols.append(F.col(f"p{i}").alias(f"pos_{st.item.label}"))
            if keep_terms:
                out_cols.append(F.col(f"t{i}").alias(f"term_{st.item.label}"))
            for a in capture_attrs:
                out_cols.append(
                    F.col(f"x_{a}_{i}").alias(f"{a}_{st.item.label}"))
    out = cur.select(*out_cols)
    return out.distinct() if distinct else out


def _compile_with_constraints(
    tokens: DataFrame,
    items: list[TokenItem | GapItem],
    constraints: tuple[SlotConstraint, ...],
    keep_terms: bool,
    capture_attrs: tuple[str, ...],
    within_sentence: bool,
    distinct: bool,
    selective_broadcast: bool,
    capture_sent: bool,
) -> DataFrame:
    """Inter-slot constraints over the compiled core: the referenced
    layers are captured at every labeled position (the existing
    capture plumbing), each constraint becomes a column-equality
    filter Catalyst folds into the join tree (an equality between two
    join sides upgrades to an equi-join key — no post-join blowup),
    and helper capture columns the caller didn't ask for are dropped
    before the final distinct."""
    labels = [it.label for it in items
              if isinstance(it, TokenItem) and it.label is not None]
    for c in constraints:
        for lab in (c.label_a, c.label_b):
            if lab not in labels:
                raise ValueError(
                    f"constraint references position {lab!r} but the "
                    f"pattern labels only {labels}")
    need = []
    for c in constraints:
        for a in (c.attr_a, c.attr_b):
            if a not in capture_attrs and a not in need:
                need.append(a)
    out = compile_cql(
        tokens, items, keep_terms=keep_terms,
        capture_attrs=tuple(capture_attrs) + tuple(need),
        within_sentence=within_sentence, distinct=False,
        selective_broadcast=selective_broadcast,
        capture_sent=capture_sent)
    for c in constraints:
        lhs = F.col(f"{c.attr_a}_{c.label_a}")
        rhs = F.col(f"{c.attr_b}_{c.label_b}")
        out = out.filter(lhs != rhs if c.negated else lhs == rhs)
    drop = {f"{a}_{lab}" for a in need for lab in labels}
    out = out.drop(*[col for col in out.columns if col in drop])
    return out.distinct() if distinct else out


class _DPUnsupported(Exception):
    """Pattern shape the DP compiler hands back to variant expansion:
    a quantifier on the leading token (no anchor row yet — ``start``
    would itself be an interval) or on a labeled slot (capture
    identity would be ambiguous)."""


def _compile_dp(
    tokens: DataFrame,
    items: list[TokenItem | GapItem],
    keep_terms: bool,
    capture_attrs: tuple[str, ...],
    within_sentence: bool,
    distinct: bool,
    selective_broadcast: bool,
    capture_sent: bool,
) -> DataFrame:
    """Quantified patterns as a LINEAR plan — interval NFA simulation.

    Variant expansion multiplies: the Sketch-Engine NP chunk
    ``[DT]{0,1} [CD]{0,2} [JJ|RB|,]{0,3} [N]{0,2}`` alone is 72 join
    shapes, whole patterns reach 2592. Chaining one join per possible
    filler token is linear in joins but still explodes the LOGICAL
    TREE (every optional count re-references the growing prefix plan;
    the 17-join worst case took >400 s to even optimize). This
    compiler instead advances one partial-match frontier left to
    right with ONE operation per pattern item:

    - Row state: ``(doc_id, start, [_elo,_ehi], [_lo,_hi])`` — the
      INTERVAL of realizable last-taken positions and of positions
      the next taken token may land on. Intervals are exact: every
      point is realizable (proof: for a filler run ``[a,b]`` overlap
      ``A=max(_lo,a), B=min(_hi,b)``, taking ``j∈[lo,hi]`` fillers
      from ``s∈[A,B]`` reaches exactly ``q∈[A+lo, min(B+hi, b+1)]``).
    - A ``{1,1}`` token: one equi-join (``pos`` in the window),
      pinning both intervals to a point.
    - A quantified filler ``F{lo,hi}``: one join against F's RUN
      table (maximal consecutive F-positions per doc — a
      sessionization groupBy, computed once per item), producing the
      new interval per overlapping run; plus the skip branch
      (``lo=0``) that keeps the state untouched.
    - A gap widens ``[_lo,_hi]`` arithmetically — no operation.

    Matches with different fill assignments collapse into one
    interval row, so the frontier is SMALLER than the match set;
    the final ``end`` enumerates ``sequence(_elo,_ehi)``. Output is
    row-identical to variant expansion (pinned by the pytest
    identity suite)."""
    cols = tokens.columns
    if within_sentence and "sent_no" not in cols:
        raise ValueError("within_sentence=True needs a sent_no column "
                         "(sources.conllu.layer_tokens emits it)")
    token_items = [it for it in items if isinstance(it, TokenItem)]
    if token_items and (token_items[0].rep_min, token_items[0].rep_max) \
            != (1, 1):
        raise _DPUnsupported("quantifier on the leading token")
    if any(it.label is not None and (it.rep_min, it.rep_max) != (1, 1)
           for it in token_items):
        raise _DPUnsupported("quantifier on a labeled slot")

    counter = [0]
    state_caps: list[str] = []

    def _state(extra=()):
        base = ["doc_id", "start", "_elo", "_ehi", "_lo", "_hi"]
        if within_sentence:
            base.append("_sent")
        return base + state_caps + list(extra)

    def _take_one(cur, it: TokenItem):
        counter[0] += 1
        j = counter[0]
        sel = [F.col("doc_id").alias(f"_d{j}"),
               F.col("pos").alias(f"_p{j}")]
        if within_sentence:
            sel.append(F.col("sent_no").alias(f"_s{j}"))
        cap_cols: list[tuple[str, str]] = []
        if it.label is not None:
            cap_cols.append((f"pos_{it.label}", f"_p{j}"))
            if keep_terms:
                sel.append(F.col("term").alias(f"_t{j}"))
                cap_cols.append((f"term_{it.label}", f"_t{j}"))
            for a in capture_attrs:
                sel.append(_resolve_col(a, cols).alias(f"_x{a}{j}"))
                cap_cols.append((f"{a}_{it.label}", f"_x{a}{j}"))
        side = tokens.filter(_item_predicate(it, cols)).select(*sel)
        p = F.col(f"_p{j}")
        if cur is None:
            out = side.select(
                F.col(f"_d{j}").alias("doc_id"), p.alias("start"),
                p.alias("_elo"), p.alias("_ehi"),
                (p + 1).alias("_lo"), (p + 1).alias("_hi"),
                *([F.col(f"_s{j}").alias("_sent")]
                  if within_sentence else []),
                *[F.col(src).alias(dst) for dst, src in cap_cols])
        else:
            cond = (F.col(f"_d{j}") == F.col("doc_id")) & \
                   (p >= F.col("_lo")) & (p <= F.col("_hi"))
            if within_sentence:
                cond = cond & F.col(f"_s{j}").eqNullSafe(F.col("_sent"))
            joined = (cur.join(F.broadcast(side), cond)
                      if _selective(it, selective_broadcast)
                      else cur.join(side, cond))
            out = joined.select(
                "doc_id", "start", p.alias("_elo"), p.alias("_ehi"),
                (p + 1).alias("_lo"), (p + 1).alias("_hi"),
                *(["_sent"] if within_sentence else []),
                *[F.col(c) for c in state_caps],
                *[F.col(src).alias(dst) for dst, src in cap_cols])
        for dst, _ in cap_cols:
            state_caps.append(dst)
        return out

    def _take_run(cur, it: TokenItem):
        """Extend by ``j ∈ [max(lo,1), hi]`` consecutive filler tokens
        via the item's run table (one sessionization + one join)."""
        counter[0] += 1
        j = counter[0]
        lo_ = max(it.rep_min, 1)
        hi = it.rep_max
        m = tokens.filter(_item_predicate(it, cols)).select(
            F.col("doc_id").alias(f"_d{j}"),
            F.col("pos").alias(f"_p{j}"),
            *([F.col("sent_no").alias(f"_s{j}")]
              if within_sentence else []))
        part = [f"_d{j}"] + ([f"_s{j}"] if within_sentence else [])
        w = Window.partitionBy(*part).orderBy(f"_p{j}")
        runs = (m.withColumn("_g", F.col(f"_p{j}")
                             - F.row_number().over(w))
                .groupBy(*part, "_g")
                .agg(F.min(f"_p{j}").alias("_a"),
                     F.max(f"_p{j}").alias("_b"))
                .drop("_g"))
        A = F.greatest(F.col("_lo"), F.col("_a"))
        B = F.least(F.col("_hi"), F.col("_b"))
        qlo = A + lo_
        qhi = F.least(B + hi, F.col("_b") + 1)
        cond = (F.col(f"_d{j}") == F.col("doc_id")) & (A <= B) & \
               (qlo <= qhi)
        if within_sentence:
            cond = cond & F.col(f"_s{j}").eqNullSafe(F.col("_sent"))
        return cur.join(runs, cond).select(
            "doc_id", "start",
            (qlo - 1).alias("_elo"), (qhi - 1).alias("_ehi"),
            qlo.alias("_lo"), qhi.alias("_hi"),
            *(["_sent"] if within_sentence else []),
            *[F.col(c) for c in state_caps])

    cur = None
    for it in items:
        if isinstance(it, GapItem):
            if cur is None:
                continue  # parse_cql trims these; defensive
            cur = cur.withColumn("_lo", F.col("_lo") + it.min) \
                     .withColumn("_hi", F.col("_hi") + it.max)
            continue
        if (it.rep_min, it.rep_max) == (1, 1):
            cur = _take_one(cur, it)
        else:
            taken = _take_run(cur, it)
            cur = (cur.select(*_state()).unionByName(taken)
                   if it.rep_min == 0 else taken)
    out_cols = ["doc_id", "start"]
    if capture_sent:
        out_cols.append(F.col("_sent").alias("sent_no"))
    out = cur.withColumn(
        "end", F.explode(F.sequence(F.col("_elo"), F.col("_ehi"))))
    out = out.select(*out_cols[:2], F.col("end"),
                     *([F.col("_sent").alias("sent_no")]
                       if capture_sent else []),
                     *state_caps)
    return out.distinct() if distinct else out


def _selective(item: TokenItem, selective_broadcast: bool) -> bool:
    """May ``item``'s slot be a join's broadcast side? A positive
    literal surface/lemma test bounds it by one form's cf. An ``|``
    disjunction never is: a literal in one branch does not bound the
    whole OR."""
    return selective_broadcast and not item.alts and any(
        t.is_literal and not t.negated
        and DEFAULT_LAYERS.get(effective_test(t).attr)
        in ("term", "lemma", "word_cs", "lemma_cs")
        for t in item.tests)


def sentence_spans_containing(tokens: DataFrame,
                              pattern: str | list[TokenItem | GapItem],
                              negated: bool = False,
                              selective_broadcast: bool = True
                              ) -> DataFrame:
    """BlackLab's span-filter operator ``<s/> containing PATTERN``:
    the SENTENCE spans holding at least one full match of ``pattern``
    (``negated=True`` → ``!containing``, the complement) — the dual of
    ``within <s/>`` (reference corpus indexes ``<s>`` spans,
    ``conllu-sentences.blf.yaml:16``; BlackLab span queries compose
    them with ``containing``/``!containing``).

    Output: ``(doc_id, sent_no, start, end)`` — one row per qualifying
    sentence, ``start``/``end`` its first/last token position.

    Plan: matches compile within-sentence (a match crossing a sentence
    boundary is contained in neither sentence), dedup to their
    ``(doc_id, sent_no)`` keys, then a semi-/anti-join against the
    sentence-extent aggregate. Both sides shuffle ONCE on the same
    ``(doc_id, sent_no)`` key (the join is co-partitioned with the
    aggregate), so the operator is one extra exchange over the bare
    pattern — no corpus-scale driver state, web-scale safe either way
    (``!containing`` anti-joins the same key set).
    """
    if isinstance(pattern, str):
        core, mode = strip_containing(pattern)
        if mode is not None:
            negated = negated or mode == "not_containing"
            pattern = core
    if "sent_no" not in tokens.columns:
        raise ValueError("containing needs a sent_no column "
                         "(sources.conllu.layer_tokens emits it)")
    hit_sents = (compile_cql(tokens, pattern, keep_terms=False,
                             within_sentence=True, capture_sent=True,
                             distinct=False,
                             selective_broadcast=selective_broadcast)
                 .select("doc_id", "sent_no").distinct())
    extents = tokens.groupBy("doc_id", "sent_no").agg(
        F.min("pos").alias("start"), F.max("pos").alias("end"))
    how = "left_anti" if negated else "left_semi"
    return (extents.join(hit_sents, ["doc_id", "sent_no"], how)
            .select("doc_id", "sent_no", "start", "end"))


def find_pattern_hits(tokens: DataFrame, pattern: str) -> DataFrame:
    """``(doc_id, pos)`` of match starts — plugs into
    :func:`..query.concordance.concordance_page` as the V9 ``POST
    /api/bcql`` analog (hit list → pagination → KWIC)."""
    return (compile_cql(tokens, pattern, keep_terms=False)
            .select("doc_id", F.col("start").alias("pos")).distinct())


def spans_group_freq(spans: DataFrame, tokens: DataFrame,
                     layer_col: str = "term", k: int = 20) -> DataFrame:
    """Frequency distribution of hit text over spans — the grouping
    kernel shared by the DataFrame and index-served paths.

    ``(doc_id, start, end)`` spans (end INCLUSIVE, the engine's span
    convention) are exploded to their positions — span length is
    bounded by the pattern, so the explode is a small constant factor —
    then equi-joined to the token table on ``(doc_id, pos)``: a
    co-partitioned hash join, never a band join on ``doc_id`` alone.
    Per-span text gathers with one bounded ``collect_list``; the final
    text groupBy is a shuffle on O(distinct hit texts) rows.
    Deterministic top-k: ``(n_hits desc, hit_text asc)``."""
    pos = spans.select(
        "doc_id", "start", "end",
        F.explode(F.sequence("start", "end")).alias("pos"))
    toks = tokens.select("doc_id", "pos", F.col(layer_col).alias("w"))
    gathered = (
        pos.join(toks, ["doc_id", "pos"])
        .groupBy("doc_id", "start", "end")
        .agg(F.array_join(
            F.transform(F.array_sort(F.collect_list(F.struct("pos", "w"))),
                        lambda s: s["w"]), " ").alias("hit_text")))
    return (gathered.groupBy("hit_text")
            .agg(F.count("*").alias("n_hits"),
                 F.countDistinct("doc_id").alias("n_docs"))
            .orderBy(F.desc("n_hits"), "hit_text")
            .limit(k))


def group_pattern_hits(tokens: DataFrame, pattern: str,
                       layer_col: str = "term", k: int = 20,
                       within_sentence: bool = False) -> DataFrame:
    """BlackLab's "group hits" frequency list: every distinct match of
    ``pattern``, grouped by its token sequence on one annotation layer
    and ranked by hit count — ``(hit_text, n_hits, n_docs)`` top-k.
    The reference serves per-collocate grouping only
    (CollocateQueryHelper.java:189-270); this is the natural Spark
    completion for arbitrary-pattern frequency lists."""
    spans = (compile_cql(tokens, pattern, keep_terms=False,
                         within_sentence=within_sentence)
             .select("doc_id", "start", "end"))
    return spans_group_freq(spans, tokens, layer_col, k)


def pattern_collocates(
    tokens: DataFrame,
    term_stats: DataFrame,
    pattern: str,
    head: str,
    head_label: str = "1",
    colloc_label: str = "2",
    min_logdice: float = 0.0,
    limit: int = 20,
    round_dp: int | None = None,
    subst_attr: str = "word",
    colloc_attr: str | None = None,
) -> DataFrame:
    """Collocates via a labeled pattern with the head substituted into
    the ``1:`` position — ``CollocateQueryHelper.java:197-270``: parse,
    substitute lemma, count per distinct collocate at the ``2:`` label,
    rank by logDice. Counting unit = distinct (doc, head-pos,
    colloc-pos) match pair, so multiple gap widths of the same pair
    count once (span dedup, as in hit-based counting).

    ``subst_attr``/``colloc_attr`` select the annotation layer: the
    reference injects ``lemma="head"`` and groups collocates by lemma
    (``CqlUtils.injectLemmaConstraint``) — pass ``subst_attr="lemma",
    colloc_attr="lemma"`` over a CoNLL-U layer table (with
    ``term_stats`` keyed on the same layer); the defaults keep the
    surface-term behavior for plain corpora."""
    items = parse_cql(pattern)
    pos_n = 0
    for it in items:
        if isinstance(it, TokenItem):
            pos_n += 1
            if it.label == head_label:
                break
    else:
        raise ValueError(f"no {head_label}: label in pattern")
    items = substitute_at_position(items, head, pos_n, attr=subst_attr)
    capture = (colloc_attr,) if colloc_attr else ()
    matches = compile_cql(tokens, items, capture_attrs=capture)
    colloc_col = (f"{colloc_attr}_{colloc_label}" if colloc_attr
                  else f"term_{colloc_label}")
    pairs = matches.select(
        "doc_id", f"pos_{head_label}", f"pos_{colloc_label}",
        F.col(colloc_col).alias("colloc_term")).distinct()
    return score_collocate_pairs(pairs, term_stats, head,
                                 min_logdice=min_logdice, limit=limit,
                                 round_dp=round_dp)


def score_collocate_pairs(
    pairs: DataFrame,
    term_stats: DataFrame,
    head: str,
    min_logdice: float = 0.0,
    limit: int = 20,
    round_dp: int | None = None,
) -> DataFrame:
    """Distinct match-pair rows (…, ``colloc_term``) → logDice-ranked
    top-k ``(colloc_term, pair_freq, logdice, rel_freq)``: one count per
    pair, then the shared ranking tail
    (``functions.scoring.score_ranked_collocates``)."""
    grouped = pairs.groupBy("colloc_term").agg(F.count("*").alias("pair_freq"))
    return score_ranked_collocates(grouped, term_stats, head,
                                   limit_per_relation=limit,
                                   min_logdice=min_logdice,
                                   round_dp=round_dp)
