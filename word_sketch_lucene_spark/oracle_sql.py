"""ANSI-SQL (DuckDB) oracle templates for the driver correctness gate.

Every SQL string here recomputes an engine operator from first
principles on the raw parquet views — independent of the Spark code
paths — so the driver's row-count / schema / value-hash comparison is
a genuine oracle, not a mirror.

Conventions (driver contract):
- column names identical to the Spark DataFrame's aliases;
- float columns rounded to 4 dp on BOTH sides (collapses engine FP
  noise; ordering keys use the rounded value + deterministic
  tie-breaks so LIMIT cutoffs agree).
"""

from __future__ import annotations

from .functions.scoring import B, K1

# Tokenizer CTE — semantics pinned to functions/tokenize.py (lower →
# split on [^a-z0-9]+ → drop empties → 0-based positions).
TOKENS_CTE = """
tokens AS (
  SELECT doc_id,
         unnest(toks) AS term,
         generate_subscripts(toks, 1) - 1 AS pos
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS toks
        FROM documents)
)
""".strip()


def sql_term_stats() -> str:
    return f"""
WITH {TOKENS_CTE}
SELECT term, count(DISTINCT doc_id) AS df, count(*) AS cf
FROM tokens GROUP BY term
""".strip()


def sql_term_posdist() -> str:
    """Mirror of ``index.stats.term_stats_posdist`` on the word-class
    layer (the stats.tsv posDist analog)."""
    from .index.stats import POS_CLASSES

    wc = _wclass_case("term")
    conds = ", ".join(
        f"count(CASE WHEN {wc} = '{c}' THEN 1 END) AS n_{c.lower()}"
        for c in POS_CLASSES)
    return f"""
WITH {TOKENS_CTE}
SELECT term, count(DISTINCT doc_id) AS df, count(*) AS cf, {conds}
FROM tokens GROUP BY term
""".strip()


def sql_corpus_stats() -> str:
    """avgdl via half-up scaled integer division (engine-stable; see
    ``__spark_entry__.q_corpus_stats``); sum cast to BIGINT (DuckDB's
    sum over BIGINT is HUGEINT, which hash-mismatches Spark's bigint)."""
    return f"""
WITH {TOKENS_CTE},
dl AS (SELECT doc_id, count(*) AS dl FROM tokens GROUP BY doc_id)
SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_tokens,
       ((CAST(sum(dl) AS BIGINT) * 20000 + count(*)) // (2 * count(*)))
         / 10000.0 AS avgdl
FROM dl
""".strip()


def sql_doc_lengths() -> str:
    return f"""
WITH {TOKENS_CTE}
SELECT doc_id, count(*) AS dl FROM tokens GROUP BY doc_id
""".strip()


def sql_top_terms(k: int = 20) -> str:
    return f"""
WITH {TOKENS_CTE}
SELECT term, count(*) AS cf FROM tokens GROUP BY term
ORDER BY cf DESC, term ASC LIMIT {k}
""".strip()


def _sql_terms_list(terms: list[str]) -> str:
    inner = ", ".join(f"'{t}'" for t in terms)
    return f"({inner})"


def sql_postings(terms: list[str]) -> str:
    return f"""
WITH {TOKENS_CTE}
SELECT term, doc_id, count(*) AS tf,
       min(pos) AS first_pos, max(pos) AS last_pos
FROM tokens WHERE term IN {_sql_terms_list(terms)}
GROUP BY term, doc_id
""".strip()


def _wclass_case(col: str) -> str:
    """Word-class CASE expression — mirror of plans.relations.word_class_expr."""
    from .plans.relations import WORD_CLASSES

    by_class: dict[str, list[str]] = {}
    for w, c in WORD_CLASSES.items():
        by_class.setdefault(c, []).append(w)
    whens = []
    for cls in ("NOUN", "VERB", "ADJ", "DET"):
        lst = ", ".join(f"'{w}'" for w in by_class[cls])
        whens.append(f"WHEN {col} IN ({lst}) THEN '{cls}'")
    return "CASE " + " ".join(whens) + " ELSE 'X' END"


_LOGDICE = ("greatest(0.0, ln(2.0 * {fab} / ({fa} + {fb})) / ln(2) + 14.0)")


def sql_bigram_counts(k: int = 20) -> str:
    """J1 adjacency pairs → top-k counts (ties broken lexically)."""
    return f"""
WITH {TOKENS_CTE}
SELECT a.term AS head_term, b.term AS colloc_term, count(*) AS pair_freq
FROM tokens a JOIN tokens b
  ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
GROUP BY a.term, b.term
ORDER BY pair_freq DESC, head_term ASC, colloc_term ASC LIMIT {k}
""".strip()


def sql_colloc_logdice(head: str, min_gap: int = 1, max_gap: int = 2,
                       k: int = 20) -> str:
    """A1+A4+J4: logDice-ranked collocates of one head (unordered window)."""
    return f"""
WITH {TOKENS_CTE},
cf AS (SELECT term, count(*) AS cf FROM tokens GROUP BY term),
pairs AS (
  SELECT b.term AS colloc_term, count(*) AS pair_freq
  FROM tokens a JOIN tokens b
    ON a.doc_id = b.doc_id
   AND abs(b.pos - a.pos) BETWEEN {min_gap} AND {max_gap}
  WHERE a.term = '{head}'
  GROUP BY b.term),
head AS (SELECT cf AS head_cf FROM cf WHERE term = '{head}')
SELECT colloc_term, pair_freq,
       round({_LOGDICE.format(fab="pair_freq", fa="head_cf", fb="c.cf")}, 4)
         AS logdice,
       round(pair_freq / CAST(head_cf AS DOUBLE), 4) AS rel_freq
FROM pairs p JOIN cf c ON p.colloc_term = c.term CROSS JOIN head
ORDER BY logdice DESC, colloc_term ASC LIMIT {k}
""".strip()


def sql_word_sketch(head: str, catalog, k_per_relation: int = 10) -> str:
    """V1 fan-out: one UNION ALL branch per applicable sketch branch,
    generated from the SAME ``sketch_branches`` enumeration that drives
    the Spark plan (incl. mirrored ``dual`` branches)."""
    from .plans.relations import sketch_branches

    branches = []
    wc_b = _wclass_case("b.term")
    for br in sketch_branches(catalog, head):
        if br.ordered:
            gap = "(a.pos - b.pos)" if br.reversed else "(b.pos - a.pos)"
        else:
            gap = "abs(b.pos - a.pos)"
        conds = [f"a.doc_id = b.doc_id",
                 f"{gap} BETWEEN {br.min_gap} AND {br.max_gap}",
                 f"a.term = '{head}'"]
        if br.colloc_class:
            conds.append(f"{wc_b} = '{br.colloc_class}'")
        branches.append(f"""
(SELECT '{br.id}' AS relation, colloc_term, pair_freq,
       round({_LOGDICE.format(fab="pair_freq", fa="head_cf", fb="colloc_cf")}, 4)
         AS logdice,
       round(pair_freq / CAST(head_cf AS DOUBLE), 4) AS rel_freq
 FROM (SELECT b.term AS colloc_term, count(*) AS pair_freq
       FROM tokens a JOIN tokens b ON {' AND '.join(conds)}
       GROUP BY b.term) p
 JOIN (SELECT term, cf AS colloc_cf FROM cf) c ON p.colloc_term = c.term
 CROSS JOIN (SELECT cf AS head_cf FROM cf WHERE term = '{head}') h
 ORDER BY logdice DESC, colloc_term ASC LIMIT {k_per_relation})
""".strip())
    # pattern relations: self-contained parenthesized subqueries (own
    # WITH), unioned after the class branches — same enumeration as the
    # Spark plan's pattern_rels loop
    pattern_branches = [
        f"(\n{sql_pattern_collocates(rel.pattern, head, k=k_per_relation, relation_id=rel.id)}\n)"
        for rel in catalog.surface() if rel.pattern
    ]
    union = "\nUNION ALL\n".join(branches + pattern_branches)
    return f"""
WITH {TOKENS_CTE},
cf AS (SELECT term, count(*) AS cf FROM tokens GROUP BY term)
{union}
""".strip()


def sql_dependency_sketch(lemma: str, deprel: str, sent_len: int = 20,
                          k: int = 20) -> str:
    """J3: governor→dependent join on the stub annotation (SQL mirror of
    operators.dependency.annotate_tokens)."""
    wc = _wclass_case("term")
    return f"""
WITH {TOKENS_CTE},
cf AS (SELECT term, count(*) AS cf FROM tokens GROUP BY term),
ann AS (
  SELECT doc_id,
         CAST(pos // {sent_len} AS INT) AS sent_id,
         CAST(pos % {sent_len} + 1 AS INT) AS token_id,
         term,
         CAST(pos % {sent_len} AS INT) AS head_id,
         CASE WHEN {wc} = 'DET' THEN 'det'
              WHEN {wc} = 'ADJ' THEN 'amod'
              WHEN {wc} = 'NOUN' THEN 'nsubj'
              WHEN {wc} = 'VERB' THEN 'conj'
              ELSE 'dep' END AS deprel
  FROM tokens),
pairs AS (
  SELECT d.term AS dep_term, count(*) AS pair_freq
  FROM ann d JOIN ann h
    ON d.doc_id = h.doc_id AND d.sent_id = h.sent_id
   AND d.head_id = h.token_id
  WHERE d.head_id > 0 AND h.term = '{lemma}' AND d.deprel = '{deprel}'
  GROUP BY d.term)
SELECT dep_term, pair_freq,
       round({_LOGDICE.format(fab="pair_freq", fa="head_cf", fb="c.cf")}, 4)
         AS logdice
FROM pairs p JOIN cf c ON p.dep_term = c.term
CROSS JOIN (SELECT cf AS head_cf FROM cf WHERE term = '{lemma}') h
ORDER BY logdice DESC, dep_term ASC LIMIT {k}
""".strip()


def sql_dep_sketch_conllu(lemma: str, deprel: str, sent_len: int = 10,
                          k: int = 20, head_class: str | None = None,
                          colloc_class: str | None = None) -> str:
    """Oracle for the CoNLL-U-routed dependency sketch: reproduces the
    rule annotator (``operators.dependency.rule_annotate``) with window
    functions directly — the Spark path additionally round-trips the
    layers through real CoNLL-U text + the parser, so a match proves
    the full route."""
    wc = _wclass_case("term")
    return f"""
WITH {TOKENS_CTE},
base AS (
  SELECT doc_id,
         CAST(pos // {sent_len} AS INT) AS sent_id,
         CAST(pos % {sent_len} + 1 AS INT) AS token_id,
         CASE WHEN length(term) > 4 AND term LIKE '%s'
              THEN substr(term, 1, length(term) - 1) ELSE term END AS lemma,
         {wc} AS upos
  FROM tokens),
win AS (
  SELECT *,
         min(CASE WHEN upos = 'NOUN' THEN token_id END) OVER (
           PARTITION BY doc_id, sent_id ORDER BY token_id
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_noun,
         max(CASE WHEN upos = 'VERB' THEN token_id END) OVER (
           PARTITION BY doc_id, sent_id ORDER BY token_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_verb,
         min(CASE WHEN upos = 'VERB' THEN token_id END) OVER (
           PARTITION BY doc_id, sent_id ORDER BY token_id
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_verb
  FROM base),
ann AS (
  SELECT doc_id, sent_id, token_id, lemma, upos,
         COALESCE(CASE WHEN upos IN ('DET', 'ADJ') THEN next_noun
                       WHEN upos = 'NOUN' THEN COALESCE(prev_verb, next_verb)
                       ELSE token_id - 1 END, 0) AS head,
         CASE WHEN upos = 'DET' THEN 'det'
              WHEN upos = 'ADJ' THEN 'amod'
              WHEN upos = 'NOUN' THEN
                   CASE WHEN prev_verb IS NOT NULL THEN 'obj'
                        WHEN next_verb IS NOT NULL THEN 'nsubj'
                        ELSE 'dep' END
              WHEN upos = 'VERB' THEN 'conj'
              ELSE 'dep' END AS deprel
  FROM win),
cf AS (SELECT lemma, count(*) AS cf FROM ann GROUP BY lemma),
pairs AS (
  SELECT d.lemma AS dep_term, count(*) AS pair_freq
  FROM ann d JOIN ann h
    ON d.doc_id = h.doc_id AND d.sent_id = h.sent_id
   AND d.head = h.token_id
  WHERE d.head > 0 AND h.lemma = '{lemma}' AND d.deprel = '{deprel}'
    {f"AND h.upos = '{head_class}'" if head_class else ""}
    {f"AND d.upos = '{colloc_class}'" if colloc_class else ""}
  GROUP BY d.lemma)
SELECT dep_term, pair_freq,
       round({_LOGDICE.format(fab="pair_freq", fa="head_cf", fb="c.cf")}, 4)
         AS logdice
FROM pairs p JOIN cf c ON p.dep_term = c.lemma
CROSS JOIN (SELECT cf AS head_cf FROM cf WHERE lemma = '{lemma}') h
ORDER BY logdice DESC, dep_term ASC LIMIT {k}
""".strip()


# layer routing for CoNLL-U oracle CTEs — SQL mirror of plans.cql.DEFAULT_LAYERS
CONLLU_SQL_LAYERS = {"word": "term", "term": "term", "lemma": "lemma",
                     "upos": "upos", "xpos": "xpos", "deprel": "deprel",
                     "pos": "upos", "tag": "xpos", "feats": "feats"}


def _conllu_layer_cte(sent_len: int = 10) -> str:
    """Flat-position multi-layer CTE: the oracle twin of
    ``rule_annotate`` (lemma/upos/xpos/deprel rules) → ``layer_tokens``
    (flat pos). The Spark side additionally round-trips through
    rendered CoNLL-U text and the production parser, so a match proves
    the whole route. deprel reproduces the window-rule attachment
    labels (same logic as ``sql_dep_sketch_conllu``)."""
    wc = _wclass_case("term")
    plural = "length(term) > 4 AND term LIKE '%s'"
    return f"""
lbase AS (
  SELECT doc_id, pos, term,
         CAST(pos // {sent_len} AS INT) AS sent_id,
         CAST(pos % {sent_len} + 1 AS INT) AS token_id,
         CASE WHEN {plural}
              THEN substr(term, 1, length(term) - 1) ELSE term END AS lemma,
         {wc} AS upos,
         CASE WHEN {wc} = 'NOUN' THEN
                CASE WHEN {plural} THEN 'NNS' ELSE 'NN' END
              WHEN {wc} = 'VERB' THEN 'VB'
              WHEN {wc} = 'ADJ' THEN 'JJ'
              WHEN {wc} = 'DET' THEN 'DT'
              ELSE 'XX' END AS xpos
  FROM tokens),
lwin AS (
  SELECT *,
         max(CASE WHEN upos = 'VERB' THEN token_id END) OVER (
           PARTITION BY doc_id, sent_id ORDER BY token_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_verb,
         min(CASE WHEN upos = 'VERB' THEN token_id END) OVER (
           PARTITION BY doc_id, sent_id ORDER BY token_id
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_verb
  FROM lbase),
ann AS (
  SELECT doc_id, pos, term, lemma, upos, xpos,
         CASE WHEN upos = 'DET' THEN 'det'
              WHEN upos = 'ADJ' THEN 'amod'
              WHEN upos = 'NOUN' THEN
                   CASE WHEN prev_verb IS NOT NULL THEN 'obj'
                        WHEN next_verb IS NOT NULL THEN 'nsubj'
                        ELSE 'dep' END
              WHEN upos = 'VERB' THEN 'conj'
              ELSE 'dep' END AS deprel,
         CASE WHEN xpos = 'NNS' THEN 'Number=Plur'
              WHEN xpos = 'NN' THEN 'Number=Sing'
              WHEN xpos = 'VB' THEN 'VerbForm=Fin'
              WHEN xpos = 'JJ' THEN 'Degree=Pos'
              WHEN xpos = 'DT' THEN 'PronType=Art'
              ELSE '_' END AS feats
  FROM lwin)
""".strip()


def sql_word_sketch_conllu(head: str, catalog, head_pos: str | None = None,
                           k_per_relation: int = 10,
                           relation_types: tuple[str, ...] = ("SURFACE",)
                           ) -> str:
    """Oracle for ``plans.relations.word_sketch_patterns`` over the
    CoNLL-U layer table: the SAME catalog enumeration (incl. the
    ``head_pos`` group filter and the dual-window branch) generates
    per-relation-ID subqueries, each substituting ``lemma="head"`` at
    the head position and counting distinct (doc, head-pos,
    colloc-pos) lemma pairs. Handles the full wsdef construct set:
    token quantifiers (one UNION arm per concrete-length variant),
    cross-attr ``|`` disjunctions, trailing inter-slot constraints,
    and multiple pattern lines sharing one relation id (Sketch-Engine
    gramrel union — the span sets merge BEFORE counting, mirroring the
    engine's single count-distinct aggregate)."""
    from .plans.cql import _steps, expand_repetitions

    rels = catalog.pattern_relations(relation_types, head_pos)
    score_tail = f"""
 JOIN cf c ON p.colloc_term = c.term
 CROSS JOIN (SELECT cf AS head_cf FROM cf WHERE term = '{head}') h
 ORDER BY logdice DESC, colloc_term ASC LIMIT {k_per_relation})
""".rstrip()
    score_head = f"""
        round({_LOGDICE.format(fab="pair_freq", fa="head_cf", fb="c.cf")}, 4)
          AS logdice,
        round(pair_freq / CAST(head_cf AS DOUBLE), 4) AS rel_freq
""".strip()

    def _variant_select(items, cons, rid: str) -> str:
        """One concrete-length variant's DISTINCT span-pair select —
        emits the ``relation`` id, parameterized by the ``3:`` slot's
        lemma when present (Sketch-Engine TRINARY gramrels)."""
        steps = _steps(items)
        hi = ci = ti = None
        for i, st in enumerate(steps):
            if st.item.label == "1":
                hi = i
            if st.item.label == "2":
                ci = i
            if st.item.label == "3":
                ti = i
        if hi is None or ci is None:
            raise ValueError("pattern lacks 1:/2: labels")
        rel_sql = (f"'{rid}'" if ti is None
                   else f"'{rid}' || '/' || t{ti}.lemma")
        frm = ["ann t0"]
        for i, st in enumerate(steps[1:], start=1):
            if st.lo == st.hi:
                gap = f"t{i}.pos = t{i - 1}.pos + {st.lo}"
            else:
                gap = (f"t{i}.pos BETWEEN t{i - 1}.pos + {st.lo} "
                       f"AND t{i - 1}.pos + {st.hi}")
            conds = [f"t{i}.doc_id = t0.doc_id", gap]
            conds += _cql_item_sql(st.item, f"t{i}", CONLLU_SQL_LAYERS)
            frm.append(f"JOIN ann t{i} ON {' AND '.join(conds)}")
        where = _cql_item_sql(steps[0].item, "t0", CONLLU_SQL_LAYERS)
        label_ix = {st.item.label: i for i, st in enumerate(steps)
                    if st.item.label is not None}
        for c in cons:
            la = f"t{label_ix[c.label_a]}." \
                 f"{CONLLU_SQL_LAYERS[c.attr_a]}"
            lb = f"t{label_ix[c.label_b]}." \
                 f"{CONLLU_SQL_LAYERS[c.attr_b]}"
            where.append(f"{la} {'<>' if c.negated else '='} {lb}")
        frm_sql = "\n        ".join(frm)
        return (f"SELECT DISTINCT {rel_sql} AS relation, t0.doc_id, "
                f"t{hi}.pos AS hp, t{ci}.pos AS cp, "
                f"t{ci}.lemma AS colloc_term\n"
                f"             FROM {frm_sql}\n"
                f"             WHERE {' AND '.join(where) or 'TRUE'}")

    # group pattern lines by relation id — one scored subquery per id
    by_id: dict[str, list] = {}
    order: list[str] = []
    for rel in rels:
        if rel.id not in by_id:
            order.append(rel.id)
        by_id.setdefault(rel.id, []).append(rel)
    branches = []
    for rid in order:
        grp = by_id[rid]
        dual0 = grp[0]
        items0 = None
        if dual0.dual:
            if "2" not in dual0.query.labels:
                # dual single-position window relation (reference
                # verb_nouns): the pattern IS the collocate constraint
                citem = dual0.query.tokens[dual0.head_position - 1]
                tests = " AND ".join(
                    _cql_item_sql(citem, "cc", CONLLU_SQL_LAYERS)) \
                    or "TRUE"
                branches.append(f"""
(SELECT '{rid}' AS relation, colloc_term, pair_freq,
        {score_head}
 FROM (SELECT colloc_term, count(*) AS pair_freq
       FROM (SELECT DISTINCT hh.doc_id, hh.pos AS hp, cc.pos AS cp,
                    cc.lemma AS colloc_term
             FROM ann hh JOIN ann cc ON hh.doc_id = cc.doc_id
              AND abs(cc.pos - hh.pos) BETWEEN 1 AND {dual0.default_slop}
             WHERE hh.lemma = '{head}' AND {tests})
       GROUP BY colloc_term) p
{score_tail}
""".strip())
                continue
        selects = []
        for rel in grp:
            subst = rel.query.substitute(head, rel.head_position,
                                         attr="lemma")
            variants = (expand_repetitions(subst.items, max_variants=4096)
                        if subst.has_repetitions else [subst.items])
            selects += [_variant_select(v, subst.constraints, rid)
                        for v in variants]
        union = "\n             UNION\n             ".join(selects)
        # window-based top-k PER relation value: a plain-id group has
        # one relation (the old per-branch LIMIT), a TRINARY group has
        # one sub-relation per 3:-slot lemma — the window matches the
        # engine's Window.partitionBy("relation") exactly
        branches.append(f"""
(SELECT relation, colloc_term, pair_freq, logdice, rel_freq
 FROM (SELECT *, row_number() OVER (PARTITION BY relation
                ORDER BY logdice DESC, colloc_term ASC) AS rn
       FROM (SELECT relation, colloc_term, pair_freq,
        {score_head}
 FROM (SELECT relation, colloc_term, count(*) AS pair_freq
       FROM ({union})
       GROUP BY relation, colloc_term) p
 JOIN cf c ON p.colloc_term = c.term
 CROSS JOIN (SELECT cf AS head_cf FROM cf WHERE term = '{head}') h) s)
 WHERE rn <= {k_per_relation})
""".strip())
    union = "\nUNION ALL\n".join(branches)
    return f"""
WITH {TOKENS_CTE},
{_conllu_layer_cte()},
cf AS (SELECT lemma AS term, count(*) AS cf FROM ann GROUP BY lemma)
{union}
""".strip()


def sql_unary_counts(head: str, catalog) -> str:
    """Oracle for ``plans.relations.unary_counts``: per-UNARY-relation
    distinct (doc, head-pos) match counts over the CoNLL-U layer
    table, same variant expansion / constraint handling as the sketch
    oracle."""
    from .plans.cql import _steps, expand_repetitions

    rels = [r for r in catalog.relations
            if r.pattern and r.extra.get("unary")]
    branches = []
    for rel in rels:
        subst = rel.query.substitute(head, rel.head_position, attr="lemma")
        cons = subst.constraints
        variants = (expand_repetitions(subst.items, max_variants=4096)
                    if subst.has_repetitions else [subst.items])
        selects = []
        for v in variants:
            steps = _steps(v)
            hi = next(i for i, st in enumerate(steps)
                      if st.item.label == "1")
            frm = ["ann t0"]
            for i, st in enumerate(steps[1:], start=1):
                if st.lo == st.hi:
                    gap = f"t{i}.pos = t{i - 1}.pos + {st.lo}"
                else:
                    gap = (f"t{i}.pos BETWEEN t{i - 1}.pos + {st.lo} "
                           f"AND t{i - 1}.pos + {st.hi}")
                conds = [f"t{i}.doc_id = t0.doc_id", gap]
                conds += _cql_item_sql(st.item, f"t{i}",
                                       CONLLU_SQL_LAYERS)
                frm.append(f"JOIN ann t{i} ON {' AND '.join(conds)}")
            where = _cql_item_sql(steps[0].item, "t0",
                                  CONLLU_SQL_LAYERS)
            label_ix = {st.item.label: i for i, st in enumerate(steps)
                        if st.item.label is not None}
            for c in cons:
                la = (f"t{label_ix[c.label_a]}."
                      f"{CONLLU_SQL_LAYERS[c.attr_a]}")
                lb = (f"t{label_ix[c.label_b]}."
                      f"{CONLLU_SQL_LAYERS[c.attr_b]}")
                where.append(f"{la} {'<>' if c.negated else '='} {lb}")
            frm_sql = "\n         ".join(frm)
            selects.append(
                f"SELECT DISTINCT t0.doc_id, t{hi}.pos AS hp\n"
                f"         FROM {frm_sql}\n"
                f"         WHERE {' AND '.join(where) or 'TRUE'}")
        union = "\n         UNION\n         ".join(selects)
        branches.append(f"""
(SELECT '{rel.id}' AS relation, count(*) AS freq
 FROM ({union}))
""".strip())
    union_all = "\nUNION ALL\n".join(branches)
    return f"""
WITH {TOKENS_CTE},
{_conllu_layer_cte()}
SELECT relation, freq FROM (
{union_all}
)
WHERE freq > 0
ORDER BY relation
""".strip()


def sql_multiseed_common(seeds: list[str], min_gap: int = 1, max_gap: int = 2,
                         limit_per_seed: int = 50, min_shared: int = 2) -> str:
    """SO1/A7/A8: per-seed top collocates → shared-count intersection."""
    branches = []
    for s in seeds:
        branches.append(f"""
(SELECT '{s}' AS seed, colloc_term, pair_freq,
        round({_LOGDICE.format(fab="pair_freq", fa="head_cf", fb="colloc_cf")}, 4)
          AS logdice
 FROM (SELECT b.term AS colloc_term, count(*) AS pair_freq
       FROM tokens a JOIN tokens b
         ON a.doc_id = b.doc_id
        AND abs(b.pos - a.pos) BETWEEN {min_gap} AND {max_gap}
       WHERE a.term = '{s}' GROUP BY b.term) p
 JOIN (SELECT term, cf AS colloc_cf FROM cf) c ON p.colloc_term = c.term
 CROSS JOIN (SELECT cf AS head_cf FROM cf WHERE term = '{s}') h
 ORDER BY logdice DESC, colloc_term ASC LIMIT {limit_per_seed})
""".strip())
    union = "\nUNION ALL\n".join(branches)
    return f"""
WITH {TOKENS_CTE},
cf AS (SELECT term, count(*) AS cf FROM tokens GROUP BY term),
per_seed AS (
{union}
)
SELECT colloc_term,
       count(DISTINCT seed) AS shared_by,
       CAST(sum(pair_freq) AS BIGINT) AS total_freq,
       max(ld_i) / 10000.0 AS max_logdice,
       ((CAST(sum(ld_i) AS BIGINT) * 2 + count(*)) // (2 * count(*)))
         / 10000.0 AS avg_logdice,
       CAST(sum(ld_i) AS BIGINT) / 10000.0 AS sum_logdice
FROM (SELECT *, CAST(round(logdice * 10000) AS BIGINT) AS ld_i FROM per_seed)
GROUP BY colloc_term
HAVING count(DISTINCT seed) >= {min_shared}
""".strip()


def sql_boilerplate_filter(prefixes: tuple[str, ...]) -> str:
    """S5 mirror: drop docs whose text starts with a boilerplate prefix
    (``starts_with``, NOT ``LIKE`` — '_' in a prefix is a LIKE wildcard)."""
    conds = " OR ".join(
        f"starts_with(text, '{p.replace(chr(39), chr(39) * 2)}')"
        for p in prefixes)
    return f"""
SELECT doc_id, length(text) AS n_chars FROM documents
WHERE NOT ({conds})
""".strip()


def sql_relation_totals(head: str, min_gap: int, max_gap: int,
                        k: int) -> str:
    """A6 mirror: total matches = Σ pair_freq of the ranked collocate
    table (over the SAME top-k cutoff as the Spark side)."""
    inner = sql_colloc_logdice(head, min_gap, max_gap, k)
    return f"""
SELECT CAST(sum(pair_freq) AS BIGINT) AS total_matches
FROM ({inner})
""".strip()


def sql_core_collocates(seeds: list[str], min_gap: int, max_gap: int,
                        limit_per_seed: int, n_seeds: int) -> str:
    """A10 mirror: collocates shared by >= max(2, ceil(n/3)) seeds,
    avg logdice via half-up scaled-integer division (engine-stable)."""
    threshold = max(2, -(-n_seeds // 3))
    branches = []
    for s in seeds:
        branches.append(f"""
(SELECT '{s}' AS seed, colloc_term,
        round({_LOGDICE.format(fab="pair_freq", fa="head_cf", fb="colloc_cf")}, 4)
          AS logdice
 FROM (SELECT b.term AS colloc_term, count(*) AS pair_freq
       FROM tokens a JOIN tokens b
         ON a.doc_id = b.doc_id
        AND abs(b.pos - a.pos) BETWEEN {min_gap} AND {max_gap}
       WHERE a.term = '{s}' GROUP BY b.term) p
 JOIN (SELECT term, cf AS colloc_cf FROM cf) c ON p.colloc_term = c.term
 CROSS JOIN (SELECT cf AS head_cf FROM cf WHERE term = '{s}') h
 ORDER BY logdice DESC, colloc_term ASC LIMIT {limit_per_seed})
""".strip())
    union = "\nUNION ALL\n".join(branches)
    return f"""
WITH {TOKENS_CTE},
cf AS (SELECT term, count(*) AS cf FROM tokens GROUP BY term),
per_seed AS (
{union}
)
SELECT colloc_term,
       count(DISTINCT seed) AS shared_by,
       ((CAST(sum(ld_i) AS BIGINT) * 2 + count(*)) // (2 * count(*)))
         / 10000.0 AS avg_logdice
FROM (SELECT *, CAST(round(logdice * 10000) AS BIGINT) AS ld_i FROM per_seed)
GROUP BY colloc_term
HAVING count(DISTINCT seed) >= {threshold}
""".strip()


def sql_concordance(term: str, page_size: int = 10, context: int = 3) -> str:
    """W2+W6+J5: paginated KWIC with token-sliced context windows."""
    return f"""
WITH dt AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents),
tokens AS (
  SELECT doc_id, unnest(toks) AS term,
         generate_subscripts(toks, 1) - 1 AS pos
  FROM dt),
hits AS (
  SELECT doc_id, pos,
         row_number() OVER (ORDER BY doc_id, pos) AS rank
  FROM tokens WHERE term = '{term}')
SELECT rank, h.doc_id, pos,
       array_to_string(toks[greatest(1, pos + 1 - {context}): pos], ' ')
         AS left_ctx,
       toks[pos + 1] AS kw,
       array_to_string(toks[pos + 2: least(len(toks), pos + 1 + {context})], ' ')
         AS right_ctx
FROM hits h JOIN dt ON h.doc_id = dt.doc_id
WHERE rank <= {page_size}
ORDER BY rank
""".strip()


def sql_concordance_sorted(term: str, page_size: int = 10,
                           context: int = 3, sort: str = "right") -> str:
    """Oracle for ``concordance_page(sort="left"/"right")``: the hit
    rank orders by the context text (left compares reversed,
    nearest-token-first), ties broken ``(doc_id, pos)`` — binary string
    collation, same as Spark's, over ASCII-lowercase tokens."""
    # COALESCE: DuckDB's array_to_string over an EMPTY slice (hit at
    # the document edge) is NULL, which sorts last — Spark's concat_ws
    # yields '', which sorts first; '' is the shared semantics
    right_key = (f"coalesce(array_to_string(toks[pos + 2: "
                 f"least(len(toks), pos + 1 + {context})], ' '), '')")
    left_key = (f"coalesce(array_to_string(list_reverse(toks[greatest(1, "
                f"pos + 1 - {context}): pos]), ' '), '')")
    key = right_key if sort == "right" else left_key
    return f"""
WITH dt AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents),
tokens AS (
  SELECT doc_id, unnest(toks) AS term,
         generate_subscripts(toks, 1) - 1 AS pos
  FROM dt),
hits AS (
  SELECT t.doc_id, t.pos, toks,
         row_number() OVER (ORDER BY {key}, t.doc_id, t.pos) AS rank
  FROM tokens t JOIN dt USING (doc_id)
  WHERE term = '{term}')
SELECT rank, doc_id, pos,
       coalesce(array_to_string(
         toks[greatest(1, pos + 1 - {context}): pos], ' '), '')
         AS left_ctx,
       toks[pos + 1] AS kw,
       coalesce(array_to_string(
         toks[pos + 2: least(len(toks), pos + 1 + {context})], ' '), '')
         AS right_ctx
FROM hits
WHERE rank <= {page_size}
ORDER BY rank
""".strip()


def sql_profile_stats(seeds: list[str], min_gap: int = 1, max_gap: int = 2,
                      limit_per_seed: int = 50) -> str:
    """A9 profile statistics over the per-seed collocate table."""
    branches = []
    for s in seeds:
        branches.append(f"""
(SELECT '{s}' AS seed, colloc_term, pair_freq,
        round({_LOGDICE.format(fab="pair_freq", fa="head_cf", fb="colloc_cf")}, 4)
          AS logdice
 FROM (SELECT b.term AS colloc_term, count(*) AS pair_freq
       FROM tokens a JOIN tokens b
         ON a.doc_id = b.doc_id
        AND abs(b.pos - a.pos) BETWEEN {min_gap} AND {max_gap}
       WHERE a.term = '{s}' GROUP BY b.term) p
 JOIN (SELECT term, cf AS colloc_cf FROM cf) c ON p.colloc_term = c.term
 CROSS JOIN (SELECT cf AS head_cf FROM cf WHERE term = '{s}') h
 ORDER BY logdice DESC, colloc_term ASC LIMIT {limit_per_seed})
""".strip())
    union = "\nUNION ALL\n".join(branches)
    n = len(seeds)
    # integer-exact avg/variance at 4 dp — mirror of exploration.profile_stats
    return f"""
WITH {TOKENS_CTE},
cf AS (SELECT term, count(*) AS cf FROM tokens GROUP BY term),
per_seed AS (
{union}
),
agg AS (
  SELECT colloc_term,
         count(DISTINCT seed) AS present_in,
         CAST(sum(ld_i) AS BIGINT) AS sum_i,
         CAST(sum(ld_i * ld_i) AS BIGINT) AS sum_sq_i,
         count(*) AS n_i,
         max(ld_i) AS max_i,
         min(ld_i) AS min_i
  FROM (SELECT *, CAST(round(logdice * 10000) AS BIGINT) AS ld_i
        FROM per_seed)
  GROUP BY colloc_term),
derived AS (
  SELECT colloc_term, present_in,
         ((sum_i * 2 + n_i) // (2 * n_i)) / 10000.0 AS avg_logdice,
         max_i / 10000.0 AS max_logdice,
         min_i / 10000.0 AS min_logdice,
         ((2 * (sum_sq_i * n_i - sum_i * sum_i) + n_i * n_i * 10000)
          // (2 * n_i * n_i * 10000)) / 10000.0 AS var_logdice
  FROM agg)
SELECT colloc_term, present_in, avg_logdice, max_logdice, min_logdice,
       var_logdice,
       round(present_in * avg_logdice, 4) AS commonality,
       round(max_logdice * (1.0 - present_in / {float(n)})
             + sqrt(var_logdice), 4) AS distinctiveness
FROM derived
""".strip()


def sql_topk_events_per_user(k: int = 3) -> str:
    return f"""
SELECT user_id, event_id, event_type, round(value, 4) AS value, rk
FROM (SELECT user_id, event_id, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY value DESC, event_id ASC) AS rk
      FROM events)
WHERE rk <= {k}
""".strip()


# ---------------------------------------------- training-data pipeline ops
def sql_exact_dup_groups() -> str:
    """Exact dedup: per-digest group stats (md5 is identical hex in both
    engines)."""
    return """
SELECT md5(text) AS digest, count(*) AS n_dups, min(doc_id) AS keeper
FROM documents GROUP BY md5(text)
""".strip()


def sql_ngram_jaccard(n: int = 3, threshold: float = 0.1,
                      max_shingle_df: int | None = None) -> str:
    """Exact n-gram Jaccard near-dup pairs via the inverted-shingle join
    (mirrors the hot-shingle df cap when set)."""
    cap_cte = ""
    if max_shingle_df is not None:
        cap_cte = f"""
sh_all AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i:i+{n - 1}], ' ') AS shingle
  FROM dt, unnest(range(1, len(toks) - {n - 2})) AS t(i)
  WHERE len(toks) >= {n}),
sh AS (
  SELECT doc_id, shingle FROM sh_all
  WHERE shingle IN (SELECT shingle FROM sh_all GROUP BY shingle
                    HAVING count(*) <= {max_shingle_df})),"""
    else:
        cap_cte = f"""
sh AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i:i+{n - 1}], ' ') AS shingle
  FROM dt, unnest(range(1, len(toks) - {n - 2})) AS t(i)
  WHERE len(toks) >= {n}),"""
    return f"""
WITH dt AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents),{cap_cte}
sizes AS (SELECT doc_id, count(*) AS size FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT doc_a, doc_b, shared, sa.size AS size_a, sb.size AS size_b,
       round(shared * 1.0 / (sa.size + sb.size - shared), 4) AS jaccard
FROM shared
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE shared * 1.0 / (sa.size + sb.size - shared) >= {threshold}
""".strip()


def _sql_shingles_cte(n: int, max_shingle_df: int | None) -> str:
    """Shared CTE chain ``dt → sh`` (tokenized docs → distinct,
    df-capped word n-gram shingles) — the blocking table every dedup
    oracle starts from; semantics pinned to
    ``operators.dedup.word_shingles`` / ``_capped_shingles``."""
    base = f"""
dt AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents)"""
    if max_shingle_df is None:
        return base + f""",
sh AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i:i+{n - 1}], ' ') AS shingle
  FROM dt, unnest(range(1, len(toks) - {n - 2})) AS t(i)
  WHERE len(toks) >= {n})"""
    return base + f""",
sh_all AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i:i+{n - 1}], ' ') AS shingle
  FROM dt, unnest(range(1, len(toks) - {n - 2})) AS t(i)
  WHERE len(toks) >= {n}),
sh AS (
  SELECT doc_id, shingle FROM sh_all
  WHERE shingle IN (SELECT shingle FROM sh_all GROUP BY shingle
                    HAVING count(*) <= {max_shingle_df}))"""


_U64 = "18446744073709551616"  # 2^64
_I64 = "9223372036854775808"   # 2^63
_MERS = "2305843009213693951"  # 2^61 - 1


def _minhash_perm_values(num_hashes: int, seed: int) -> str:
    """The deterministic affine-permutation coefficients (aᵢ, bᵢ) of
    ``operators.dedup.minhash_signatures`` as a SQL VALUES list — the
    oracle embeds the CONSTANTS, not the splitmix64 derivation."""
    import numpy as np

    from .sources.pages import _splitmix64

    idx = np.arange(num_hashes, dtype=np.uint64)
    a = (_splitmix64((np.uint64(seed) << np.uint64(32)) ^ idx)
         | np.uint64(1))
    b = _splitmix64((np.uint64(seed + 1) << np.uint64(32)) ^ idx)
    return ", ".join(f"({i}, {int(a[i])}::HUGEINT, {int(b[i])}::HUGEINT)"
                     for i in range(num_hashes))


def sql_minhash_near_dups(threshold: float = 0.1, num_hashes: int = 64,
                          bands: int = 16, shingle_n: int = 3,
                          seed: int = 7,
                          max_shingle_df: int | None = None) -> str:
    """MinHash+LSH near-dups from first principles: md5-LE shingle keys
    (``md5_number_upper`` ≡ the engine's :func:`~.operators.dedup.
    md5le64_expr`), the affine permutation minimum with numpy's
    wrap-mod-2⁶⁴ multiply emulated via 32-bit split HUGEINT arithmetic,
    band slices compared BY VALUE (the engine buckets by a 32-bit hash
    of the same slice — identical up to negligible hash collisions),
    then the exact capped-Jaccard verify over LSH candidates only."""
    rpb = num_hashes // bands
    assert rpb * bands == num_hashes
    return f"""
WITH {_sql_shingles_cte(shingle_n, max_shingle_df).lstrip()},
hs AS (
  SELECT doc_id, CAST(md5_number_upper(shingle) AS HUGEINT) AS h FROM sh),
perm(i, a, b) AS (VALUES {_minhash_perm_values(num_hashes, seed)}),
sigv AS (
  SELECT doc_id, i,
         min((((a % 4294967296) * (h % 4294967296)
               + (((a % 4294967296) * (h // 4294967296)
                   + (a // 4294967296) * (h % 4294967296)) % 4294967296)
                 * 4294967296
               + b) % {_U64}::HUGEINT) % {_MERS}) AS mv
  FROM hs, perm GROUP BY doc_id, i),
bnd AS (
  SELECT doc_id, i // {rpb} AS band,
         string_agg(mv::VARCHAR, ',' ORDER BY i) AS slice
  FROM sigv GROUP BY doc_id, i // {rpb}),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         count(*) AS n_bands_matched
  FROM bnd a JOIN bnd b ON a.band = b.band AND a.slice = b.slice
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
sizes AS (SELECT doc_id, count(*) AS size FROM sh GROUP BY doc_id),
shared AS (
  SELECT c.doc_a, c.doc_b, count(*) AS shared
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2)
SELECT c.doc_a, c.doc_b,
       round(s.shared * 1.0 / (sa.size + sb.size - s.shared), 4) AS jaccard,
       c.n_bands_matched
FROM cand c
JOIN shared s ON s.doc_a = c.doc_a AND s.doc_b = c.doc_b
JOIN sizes sa ON sa.doc_id = c.doc_a
JOIN sizes sb ON sb.doc_id = c.doc_b
WHERE s.shared * 1.0 / (sa.size + sb.size - s.shared) >= {threshold}
""".strip()


def sql_near_dup_clusters(**minhash_kwargs) -> str:
    """Near-dup CLUSTERS: the full MinHash+LSH pair query (above) as a
    subquery, closed under transitive reachability with a recursive CTE
    — the exact semantics of the engine's large-star/small-star
    connected components (``operators/components.py``): cluster label =
    component minimum, ``keep`` marks the canonical member."""
    inner = sql_minhash_near_dups(**minhash_kwargs)
    return f"""
WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM ({inner})),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs),
reach(a, b) AS (
  SELECT a, a FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
labels AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a)
SELECT l.doc_id, l.cluster_id, c.cluster_size,
       CAST(l.doc_id = l.cluster_id AS INT) AS keep
FROM labels l
JOIN (SELECT cluster_id, COUNT(*) AS cluster_size FROM labels GROUP BY 1) c
  USING (cluster_id)
""".strip()


def sql_simhash_near_dups(max_hamming: int = 6, shingle_n: int = 2) -> str:
    """SimHash near-dups from first principles: md5-LE shingle hashes,
    per-bit majority votes, sign-bit reassembly to the engine's signed
    64-bit signature, then the ALL-PAIRS Hamming filter — exactly the
    pair set the engine's pigeonhole block join produces (the block
    trick is lossless for distance ≤ d), without replicating the
    blocking mechanics. Docs with no shingles get signature 0, like
    the UDF."""
    powers = ", ".join(f"({j}, {1 << j}::HUGEINT)" for j in range(64))
    return f"""
WITH {_sql_shingles_cte(shingle_n, None).lstrip()},
hs AS (SELECT doc_id, md5_number_upper(shingle) AS h FROM sh),
pw(j, p) AS (VALUES {powers}),
votes AS (
  SELECT doc_id, j,
         sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS vote
  FROM hs, pw GROUP BY doc_id, j),
sig_u AS (
  SELECT v.doc_id,
         sum(CASE WHEN v.vote > 0 THEN p.p ELSE 0::HUGEINT END) AS s
  FROM votes v JOIN pw p ON p.j = v.j GROUP BY v.doc_id),
sigs AS (
  SELECT d.doc_id,
         CAST(CASE WHEN u.s IS NULL THEN 0
                   WHEN u.s >= {_I64}::HUGEINT THEN u.s - {_U64}::HUGEINT
                   ELSE u.s END AS BIGINT) AS sig
  FROM documents d LEFT JOIN sig_u u ON u.doc_id = d.doc_id)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sig, b.sig)) <= {max_hamming}
""".strip()


def sql_token_counts() -> str:
    return r"""
SELECT doc_id,
       len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))
         AS ws_tokens,
       greatest(
         len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')),
         CAST(ceil(length(text) / 4.0) AS INT)) AS subword_est
FROM documents
""".strip()


def sql_quality_features() -> str:
    """Mirror of operators.textqc.quality_features."""
    stop = ", ".join(f"'{w}'" for w in
                     ["the", "a", "and", "of", "to", "in", "is", "that",
                      "it", "for"])
    return rf"""
WITH dt AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents),
feat AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(toks) AS n_tokens,
         (length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')))
           * 1.0 / greatest(length(text), 1) AS punct_ratio,
         len(list_filter(toks, t -> t IN ({stop})))
           * 1.0 / greatest(len(toks), 1) AS stopword_ratio,
         list_reduce(list_prepend(0, list_transform(toks, t -> length(t))),
                     (a, b) -> a + b)
           * 1.0 / greatest(len(toks), 1) AS mean_token_len
  FROM dt)
SELECT doc_id, n_chars, n_tokens,
       round(punct_ratio, 4) AS punct_ratio,
       round(stopword_ratio, 4) AS stopword_ratio,
       round(mean_token_len, 4) AS mean_token_len,
       round(least(n_tokens / 100.0, 1.0) * 0.4
             + (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.3
             + CASE WHEN mean_token_len >= 3 AND mean_token_len <= 8
                    THEN 0.3 ELSE 0.1 END, 4) AS quality
FROM feat
""".strip()


def sql_lang_id() -> str:
    """Mirror of textqc.lang_id: max marker count, earliest-language tie-break."""
    from .operators.textqc import LANG_MARKERS

    counts = []
    for lang in sorted(LANG_MARKERS):
        lst = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
        counts.append(f"len(list_filter(toks, t -> t IN ({lst}))) AS c_{lang}")
    langs = sorted(LANG_MARKERS)
    mx = "greatest(" + ", ".join(f"c_{l}" for l in langs) + ")"
    pick = " ".join(f"WHEN c_{l} = {mx} THEN '{l}'" for l in langs)
    return f"""
WITH dt AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents),
scored AS (SELECT doc_id, {', '.join(counts)} FROM dt)
SELECT doc_id,
       CASE WHEN {mx} = 0 THEN 'und' ELSE (CASE {pick} END) END AS lang_pred
FROM scored
""".strip()


def sql_fingerprints(mul: int, mod: int) -> str:
    """Mirror of textqc.fingerprint_expr (left fold over token stream)."""
    return f"""
WITH dt AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents)
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
                      list_transform(toks,
                        t -> CAST(length(t) * 131 + ascii(substr(t, 1, 1))
                                  AS BIGINT))),
         (acc, v) -> (acc * {mul} + v) % {mod}) AS fingerprint
FROM dt
""".strip()


def sql_cosine_topk(query_ids: list[int], k: int = 10) -> str:
    """Brute-force cosine top-k; float64 math, rounded ordering key."""
    ids = ", ".join(str(i) for i in query_ids)
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
  FROM embeddings WHERE vec_id IN ({ids})),
scored AS (
  SELECT q.query_id, e.vec_id,
         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qvec), 4)
           AS cosine
  FROM embeddings e CROSS JOIN q),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored)
SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= {k}
""".strip()


def sql_lsh_cosine_topk(query_ids: list[int], k: int = 10,
                        n_planes: int = 6, seed: int = 5,
                        dim: int = 64, multiprobe: bool = True) -> str:
    """Hyperplane-LSH approximate top-k from first principles: the
    deterministic splitmix64-Gaussian plane matrix is embedded as
    literals (``operators.similarity._planes``), bucket ids are sign-bit
    sums, multiprobe = the query bucket plus its 1-bit-flip neighbors,
    and ranking uses the 4-dp-rounded cosine — the ENTIRE approximate
    result (including which neighbors the probe misses) is reproduced,
    not just the exact tier."""
    from .operators.similarity import _planes

    planes = _planes(dim, n_planes, seed)
    ids = ", ".join(str(i) for i in query_ids)

    def bucket(vec: str) -> str:
        cases = []
        for i, row in enumerate(planes):
            lit = "[" + ", ".join(repr(float(v)) for v in row) + "]::DOUBLE[]"
            cases.append(f"(CASE WHEN list_dot_product({vec}, {lit}) >= 0 "
                         f"THEN {1 << i} ELSE 0 END)")
        return "(" + " + ".join(cases) + ")::BIGINT"

    probe_masks = [0] + ([1 << i for i in range(n_planes)]
                         if multiprobe else [])
    masks = ", ".join(f"({m})" for m in probe_masks)
    return f"""
WITH cb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cvec,
         {bucket("CAST(embedding AS DOUBLE[])")} AS bucket
  FROM embeddings),
q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec,
         {bucket("CAST(embedding AS DOUBLE[])")} AS qbucket
  FROM embeddings WHERE vec_id IN ({ids})),
probes AS (
  SELECT query_id, qvec, xor(qbucket, m.x) AS bucket
  FROM q, (VALUES {masks}) AS m(x)),
cand AS (
  SELECT DISTINCT p.query_id, c.vec_id,
         round(list_cosine_similarity(c.cvec, p.qvec), 4) AS cosine
  FROM cb c JOIN probes p ON c.bucket = p.bucket),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM cand)
SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= {k}
""".strip()


def sql_cosine_near_dups(threshold: float) -> str:
    """Exact near-dup pairs oracle (brute pairs, rounded cosine)."""
    return f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 4)
         AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE a.vec_id < 2000 AND b.vec_id < 2000
  AND round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])), 4)
      >= {threshold}
""".strip()


def sql_ivf_cosine_topk(query_ids: list[int], k: int = 10,
                        n_centroids: int = 8, n_probe: int = 2) -> str:
    """Mirror of ``operators.similarity.ivf_cosine_topk`` — same
    deterministic centroids, rounded assignment scores, id tie-breaks."""
    ids = ", ".join(str(i) for i in query_ids)
    return f"""
WITH cents AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
  FROM embeddings WHERE vec_id < {n_centroids}),
cells AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cid AS cell,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(
                        CAST(e.embedding AS DOUBLE[]), c.cvec), 4) DESC,
                      c.cid ASC) AS crank
    FROM embeddings e CROSS JOIN cents c)
  WHERE crank = 1),
probes AS (
  SELECT query_id, cell FROM (
    SELECT q.vec_id AS query_id, c.cid AS cell,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_cosine_similarity(
                        CAST(q.embedding AS DOUBLE[]), c.cvec), 4) DESC,
                      c.cid ASC) AS crank
    FROM embeddings q CROSS JOIN cents c
    WHERE q.vec_id IN ({ids}))
  WHERE crank <= {n_probe}),
scored AS (
  SELECT p.query_id, ce.vec_id,
         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                      CAST(q.embedding AS DOUBLE[])), 4)
           AS cosine
  FROM probes p
  JOIN cells ce ON p.cell = ce.cell
  JOIN embeddings e ON ce.vec_id = e.vec_id
  JOIN embeddings q ON p.query_id = q.vec_id)
SELECT query_id, vec_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored)
WHERE rank <= {k}
""".strip()


# ------------------------------------------------------------- mini-BCQL
def _cql_test_sql(test, alias: str, layers: dict[str, str] | None = None) -> str:
    """SQL twin of ``plans.cql._test_col`` (same literal fast path).

    ``layers`` routes attribute names to CTE columns (the SQL mirror of
    ``plans.cql.DEFAULT_LAYERS`` over a multi-layer annotated table);
    without it, every attribute matches the surface ``term`` layer (the
    plain-documents oracle)."""
    from .plans.cql import effective_test

    test = effective_test(test)
    if layers is not None:
        if test.attr not in layers:
            raise ValueError(f"pattern attribute {test.attr!r} not in "
                             f"layer map (available: {sorted(layers)})")
        col = f"{alias}.{layers[test.attr]}"
    elif test.attr == "class":
        col = _wclass_case(f"{alias}.term")  # virtual word-class layer
    else:
        col = f"{alias}.term"  # documents-table oracle: 'word' layer
    if test.is_literal:
        v = test.value.replace("\\", "").replace("'", "''")
        c = f"{col} = '{v}'"
    else:
        v = test.value.replace("'", "''")
        c = f"regexp_matches({col}, '^(?:{v})$')"
    # "_" no-annotation convention (plans.cql._ANNOT_LAYERS): positive
    # tests on an annotation layer never match "_", negated always do
    from .plans.cql import _ANNOT_LAYERS

    layer = (layers or {}).get(test.attr, "term")
    if layer in _ANNOT_LAYERS:
        c = f"({c} AND {col} <> '_')"
    return f"NOT ({c})" if test.negated else c


def _cql_item_sql(item, alias: str,
                  layers: dict[str, str] | None = None) -> list[str]:
    """One token item's full condition list: conjunctive tests plus,
    when the item carries a cross-attr ``|`` disjunction, one
    parenthesized OR-of-conjunctions (the SQL twin of
    ``plans.cql._item_predicate``)."""
    conds = [_cql_test_sql(t, alias, layers) for t in item.tests]
    if item.alts:
        branches = [
            "(" + " AND ".join(_cql_test_sql(t, alias, layers)
                               for t in group) + ")"
            for group in item.alts]
        conds.append("(" + " OR ".join(branches) + ")")
    return conds


def _cql_joins(pattern, table: str = "tokens",
               layers: dict[str, str] | None = None) -> tuple[list, str, str]:
    """Shared FROM/WHERE fragments for a parsed pattern: returns
    (steps, from_sql, where_sql) over aliases t0..tN of ``table``.
    Trailing inter-slot constraints (``& 1.tag = 2.tag`` /
    ``:: a.lemma = b.lemma``) become cross-alias equality conds in the
    WHERE fragment — every oracle built on this helper accepts them.
    Token repetition quantifiers are a hard error here — each concrete
    variant is its own join shape; use :func:`_cql_join_variants`."""
    q = _oracle_query(pattern)
    if q.has_repetitions:
        raise ValueError("pattern has token repetition quantifiers — "
                         "use _cql_join_variants (one join shape per "
                         "concrete-length variant)")
    return _cql_joins_items(q.items, q.constraints, table, layers)


def _cql_join_variants(pattern, table: str = "tokens",
                       layers: dict[str, str] | None = None
                       ) -> list[tuple[list, str, str]]:
    """Every concrete-length variant's ``(steps, from_sql, where_sql)``
    — token repetition quantifiers expand exactly like
    ``plans.cql.expand_repetitions``; callers UNION the per-variant
    selects (span identity dedups across variants)."""
    q = _oracle_query(pattern)
    return [_cql_joins_items(v.items, q.constraints, table, layers)
            for v in q.variants]


def _oracle_query(pattern):
    """The parsed pattern (a string or ``plans.cql.Query``); these
    joins model no sentence bound and no span filter, so a ``within
    <s/>`` or ``containing`` clause is refused rather than ignored."""
    from .plans.cql import parse_query

    q = parse_query(pattern)
    if q.within_sentence:
        raise ValueError("the SQL oracles take no `within <s/>` clause")
    if q.containing:
        raise ValueError("a `containing` query has its own oracle: "
                         "sql_sentence_containing")
    return q


def _cql_joins_items(items, cons, table: str = "tokens",
                     layers: dict[str, str] | None = None
                     ) -> tuple[list, str, str]:
    from .plans.cql import _steps

    steps = _steps(items)
    frm = [f"{table} t0"]
    for i, st in enumerate(steps[1:], start=1):
        if st.lo == st.hi:
            gap = f"t{i}.pos = t{i - 1}.pos + {st.lo}"
        else:
            gap = (f"t{i}.pos BETWEEN t{i - 1}.pos + {st.lo} "
                   f"AND t{i - 1}.pos + {st.hi}")
        conds = [f"t{i}.doc_id = t0.doc_id", gap]
        conds += _cql_item_sql(st.item, f"t{i}", layers)
        frm.append(f"JOIN {table} t{i} ON {' AND '.join(conds)}")
    conds0 = _cql_item_sql(steps[0].item, "t0", layers)
    if cons:
        label_ix = {st.item.label: i for i, st in enumerate(steps)
                    if st.item.label is not None}

        def _ccol(lab: str, attr: str) -> str:
            alias = f"t{label_ix[lab]}"
            if layers is not None:
                return f"{alias}.{layers[attr]}"
            if attr == "class":
                return _wclass_case(f"{alias}.term")
            return f"{alias}.term"

        for c in cons:
            op = "<>" if c.negated else "="
            conds0.append(f"{_ccol(c.label_a, c.attr_a)} {op} "
                          f"{_ccol(c.label_b, c.attr_b)}")
    where = " AND ".join(conds0)
    return steps, "\n  ".join(frm), where or "TRUE"


def sql_pattern_hits(pattern: str, spans_only: bool = False,
                     doc_filter: str | None = None) -> str:
    """Oracle for ``plans.cql.compile_cql`` (and, with ``spans_only``,
    for ``IndexSearcher.pattern_hits``): distinct match assignments
    with capture columns, or bare ``(doc_id, start, end)`` spans.
    ``doc_filter`` restricts to documents passing a metadata predicate
    (the ``pattern_spans_df(doc_filter=…)`` twin)."""
    selects = []
    label_cols = None
    for steps, frm, where in _cql_join_variants(pattern):
        last = len(steps) - 1
        sel = [f"t0.doc_id AS doc_id", f"t0.pos AS start",
               f"t{last}.pos AS \"end\""]
        labels = []
        if not spans_only:
            for i, st in enumerate(steps):
                if st.item.label is not None:
                    labels.append(st.item.label)
                    sel.append(f"t{i}.pos AS pos_{st.item.label}")
                    sel.append(f"t{i}.term AS term_{st.item.label}")
        if label_cols is None:
            label_cols = labels
        elif labels != label_cols:
            raise ValueError("labeled position inside a quantifier — "
                             "variants disagree on capture columns")
        if doc_filter:
            where = (f"({where}) AND t0.doc_id IN "
                     f"(SELECT doc_id FROM documents WHERE {doc_filter})")
        selects.append(f"SELECT DISTINCT {', '.join(sel)}\n"
                       f"FROM {frm}\nWHERE {where}")
    union = "\nUNION\n".join(selects)
    return f"""
WITH {TOKENS_CTE}
{union}
""".strip()


def sql_group_pattern_hits(pattern: str, k: int = 20) -> str:
    """Oracle for ``plans.cql.group_pattern_hits`` /
    ``IndexSearcher.group_pattern_hits``: distinct spans of the
    pattern, each span's inclusive token sequence gathered in position
    order, grouped by text with hit/doc counts, deterministic top-k."""
    steps, frm, where = _cql_joins(pattern)
    last = len(steps) - 1
    return f"""
WITH {TOKENS_CTE},
spans AS (
  SELECT DISTINCT t0.doc_id AS doc_id, t0.pos AS start,
         t{last}.pos AS "end"
  FROM {frm}
  WHERE {where}),
gathered AS (
  SELECT s.doc_id, s.start, s."end",
         string_agg(t.term, ' ' ORDER BY t.pos) AS hit_text
  FROM spans s
  JOIN tokens t ON t.doc_id = s.doc_id
              AND t.pos BETWEEN s.start AND s."end"
  GROUP BY 1, 2, 3)
SELECT hit_text, COUNT(*) AS n_hits, COUNT(DISTINCT doc_id) AS n_docs
FROM gathered GROUP BY hit_text
ORDER BY n_hits DESC, hit_text
LIMIT {k}
""".strip()


def sql_sample_pattern_hits(pattern: str, n: int, seed: int = 0) -> str:
    """Oracle for ``query.docs.sample_spans`` /
    ``IndexSearcher.sample_pattern_hits``: the seeded deterministic hit
    sample — distinct pattern spans keyed by the md5 hex of
    ``seed:doc_id:start:end`` (hex-string collation matches Spark's
    binary string order), rank over the key, first ``n``."""
    steps, frm, where = _cql_joins(pattern)
    last = len(steps) - 1
    return f"""
WITH {TOKENS_CTE},
spans AS (
  SELECT DISTINCT t0.doc_id AS doc_id, t0.pos AS start,
         t{last}.pos AS "end"
  FROM {frm}
  WHERE {where}),
keyed AS (
  SELECT doc_id, start, "end",
         md5(concat_ws(':', '{int(seed)}', doc_id, start, "end")) AS sk
  FROM spans)
SELECT row_number() OVER (ORDER BY sk) AS sample_rank,
       doc_id, start, "end"
FROM keyed
ORDER BY sk
LIMIT {n}
""".strip()


def sql_docs_facets(pattern: str,
                    facet_cols: tuple[str, ...] = ("lang",)) -> str:
    """Oracle for ``query.docs.docs_facets`` /
    ``IndexSearcher.docs_group_by``: the DOCS view — per-document
    distinct-span hit counts joined to document metadata, grouped by
    the facet columns."""
    steps, frm, where = _cql_joins(pattern)
    last = len(steps) - 1
    facet = ", ".join(facet_cols)
    return f"""
WITH {TOKENS_CTE},
spans AS (
  SELECT DISTINCT t0.doc_id AS doc_id, t0.pos AS start,
         t{last}.pos AS "end"
  FROM {frm}
  WHERE {where}),
per_doc AS (
  SELECT doc_id, count(*) AS doc_hits FROM spans GROUP BY doc_id)
SELECT {facet}, count(*) AS n_docs,
       CAST(sum(doc_hits) AS BIGINT) AS hits
FROM per_doc JOIN documents USING (doc_id)
GROUP BY {facet}
ORDER BY hits DESC, {facet}
""".strip()


def sql_subcorpus_keywords(predicate: str, k: int = 20) -> str:
    """Oracle for ``operators.keywords.subcorpus_keywords`` /
    ``IndexSearcher.subcorpus_keywords``: per-term (fa, fb) contingency
    via the flag join, Dunning G² with zero-cells contributing 0, the
    exact-integer direction filter, rounded-score top-k."""
    g2 = ("2.0 * ("
          "CASE WHEN fa > 0 THEN fa * ln(fa / "
          "(na * (fa + fb) * 1.0 / (na + nb))) ELSE 0 END + "
          "CASE WHEN fb > 0 THEN fb * ln(fb / "
          "(nb * (fa + fb) * 1.0 / (na + nb))) ELSE 0 END)")
    return f"""
WITH {TOKENS_CTE},
flag AS (
  SELECT doc_id, CASE WHEN {predicate} THEN 1 ELSE 0 END AS in_a
  FROM documents),
tf AS (
  SELECT t.term,
         CAST(SUM(f.in_a) AS BIGINT) AS fa,
         CAST(SUM(1 - f.in_a) AS BIGINT) AS fb
  FROM tokens t JOIN flag f USING (doc_id) GROUP BY t.term),
tot AS (
  SELECT CAST(SUM(fa) AS BIGINT) AS na, CAST(SUM(fb) AS BIGINT) AS nb
  FROM tf)
SELECT term, fa, fb, round({g2}, 4) AS g2
FROM tf, tot
WHERE fa * nb > fb * na
ORDER BY g2 DESC, term
LIMIT {k}
""".strip()


def sql_pattern_spans_conllu(pattern: str) -> str:
    """Oracle for index-side multi-LAYER patterns
    (``IndexSearcher.pattern_hits`` over ``build_layer_postings``
    postings): the same first-principles span join over the CoNLL-U
    layer CTE — ``(doc_id, start, end)``."""
    steps, frm, where = _cql_joins(pattern, table="ann",
                                   layers=CONLLU_SQL_LAYERS)
    last = len(steps) - 1
    return f"""
WITH {TOKENS_CTE},
{_conllu_layer_cte()}
SELECT DISTINCT t0.doc_id AS doc_id, t0.pos AS start,
       t{last}.pos AS "end"
FROM {frm}
WHERE {where}
""".strip()


def sql_sentence_containing(pattern: str, negated: bool = False,
                            sent_len: int = 10) -> str:
    """Oracle for ``<s/> [!]containing PATTERN``
    (``plans.cql.sentence_spans_containing`` and
    ``IndexSearcher.sentence_spans_containing``): sentence extents
    [anti-]semi-joined with the distinct sentences holding a full
    within-sentence match — ``(doc_id, sent_no, start, end)``."""
    from dataclasses import replace

    from .plans.cql import parse_query

    q = parse_query(pattern)
    negated = negated or q.containing == "not_containing"
    steps, frm, where = _cql_joins(replace(q, containing=None), table="ann",
                                   layers=CONLLU_SQL_LAYERS)
    sent_conds = " AND ".join(
        f"t{i}.pos // {sent_len} = t0.pos // {sent_len}"
        for i in range(1, len(steps)))
    if sent_conds:
        where = f"({where}) AND {sent_conds}"
    return f"""
WITH {TOKENS_CTE},
{_conllu_layer_cte(sent_len)},
sents AS (
  SELECT doc_id, CAST(pos // {sent_len} AS BIGINT) AS sent_no,
         min(pos) AS start, max(pos) AS "end"
  FROM ann GROUP BY doc_id, pos // {sent_len}),
hits AS (
  SELECT DISTINCT t0.doc_id AS doc_id,
         CAST(t0.pos // {sent_len} AS BIGINT) AS sent_no
  FROM {frm}
  WHERE {where})
SELECT s.doc_id AS doc_id, s.sent_no AS sent_no,
       s.start AS start, s."end" AS "end"
FROM sents s
WHERE {"NOT " if negated else ""}EXISTS (
  SELECT 1 FROM hits h
  WHERE h.doc_id = s.doc_id AND h.sent_no = s.sent_no)
""".strip()


def sql_pattern_collocates(pattern: str, head: str,
                           head_label: str = "1", colloc_label: str = "2",
                           k: int = 20, relation_id: str | None = None) -> str:
    """Oracle for ``plans.cql.pattern_collocates`` (head substituted at
    the 1: label, distinct match-pair counting, logDice rank)."""
    from .plans.cql import parse_query

    q = parse_query(pattern)
    if head_label not in q.labels:
        # mirror plans.cql.pattern_collocates: fail fast at SQL-generation
        # time instead of emitting invalid SQL (tNone.pos)
        raise ValueError(f"no {head_label}: label in pattern")
    steps = q.substitute(head, q.labels[head_label]).steps
    hi = ci = None
    for i, st in enumerate(steps):
        if st.item.label == head_label:
            hi = i
        if st.item.label == colloc_label:
            ci = i
    if hi is None or ci is None:
        raise ValueError(
            f"pattern lacks {head_label}:/{colloc_label}: labeled positions")
    frm = ["tokens t0"]
    for i, st in enumerate(steps[1:], start=1):
        if st.lo == st.hi:
            gap = f"t{i}.pos = t{i - 1}.pos + {st.lo}"
        else:
            gap = (f"t{i}.pos BETWEEN t{i - 1}.pos + {st.lo} "
                   f"AND t{i - 1}.pos + {st.hi}")
        conds = [f"t{i}.doc_id = t0.doc_id", gap]
        conds += [_cql_test_sql(t, f"t{i}") for t in st.item.tests]
        frm.append(f"JOIN tokens t{i} ON {' AND '.join(conds)}")
    where = " AND ".join(_cql_test_sql(t, "t0") for t in steps[0].item.tests)
    frm_sql = "\n  ".join(frm)
    return f"""
WITH {TOKENS_CTE},
cf AS (SELECT term, count(*) AS cf FROM tokens GROUP BY term),
pairs AS (
  SELECT DISTINCT t0.doc_id, t{hi}.pos AS hp, t{ci}.pos AS cp,
         t{ci}.term AS colloc_term
  FROM {frm_sql}
  WHERE {where or 'TRUE'}),
grouped AS (
  SELECT colloc_term, count(*) AS pair_freq FROM pairs GROUP BY colloc_term)
SELECT {f"'{relation_id}' AS relation, " if relation_id else ""}colloc_term, pair_freq,
       round({_LOGDICE.format(fab="pair_freq", fa="head_cf", fb="c.cf")}, 4)
         AS logdice,
       round(pair_freq / CAST(head_cf AS DOUBLE), 4) AS rel_freq
FROM grouped g JOIN cf c ON g.colloc_term = c.term
CROSS JOIN (SELECT cf AS head_cf FROM cf WHERE term = '{head}') h
ORDER BY logdice DESC, colloc_term ASC LIMIT {k}
""".strip()


def sql_bm25_topk(terms: list[str], k: int = 10,
                  k1: float = K1, b: float = B,
                  doc_filter: str | None = None) -> str:
    """``doc_filter`` (SQL predicate over the ``documents`` metadata
    columns) restricts the CANDIDATE set only; collection statistics
    (N, avgdl, df) stay corpus-level — Lucene filter-query semantics,
    mirrored by both engine paths."""
    tl = _sql_terms_list(terms)
    cand = (f",\nallowed AS (SELECT doc_id FROM documents "
            f"WHERE {doc_filter})" if doc_filter else "")
    cand_join = ("JOIN allowed a ON h.doc_id = a.doc_id\n  "
                 if doc_filter else "")
    return f"""
WITH {TOKENS_CTE},
dl AS (SELECT doc_id, count(*) AS dl FROM tokens GROUP BY doc_id),
cs AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tstats AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tokens
  WHERE term IN {tl} GROUP BY term),
hits AS (
  SELECT term, doc_id, count(*) AS tf FROM tokens
  WHERE term IN {tl} GROUP BY term, doc_id){cand},
scored AS (
  SELECT h.doc_id,
         ln(1 + (cs.n_docs - s.df + 0.5) / (s.df + 0.5))
           * (h.tf * ({k1} + 1.0))
           / (h.tf + {k1} * (1.0 - {b} + {b} * d.dl / cs.avgdl)) AS contrib
  FROM hits h
  {cand_join}JOIN tstats s ON h.term = s.term
  JOIN dl d ON h.doc_id = d.doc_id
  CROSS JOIN cs)
SELECT doc_id, round(sum(contrib), 4) AS score
FROM scored GROUP BY doc_id
ORDER BY round(sum(contrib), 4) DESC, doc_id ASC LIMIT {k}
""".strip()


# ------------------------------------------------------------ media meta
_SM_ADD = 11400714819323198485   # 0x9E3779B97F4A7C15
_SM_M1 = 13787848793156543929    # 0xBF58476D1CE4E5B9
_SM_M2 = 10723151780598845931    # 0x94D049BB133111EB


def _sql_wrapmul64(x_expr: str, c: int) -> str:
    """``(x * c) mod 2⁶⁴`` for HUGEINT ``x`` and a 64-bit constant,
    via the 32-bit split (a full 64×64 product overflows INT128 —
    same trick as the minhash permutation oracle)."""
    b = 1 << 32
    lo, hi = c % b, c >> 32
    x = f"({x_expr})"
    return (f"(({x} % {b}) * {lo}::HUGEINT"
            f" + ((({x} % {b}) * {hi}::HUGEINT"
            f"      + ({x} // {b}) * {lo}::HUGEINT) % {b}) * {b})"
            f" % {_U64}::HUGEINT")


def _sql_splitmix64(x_expr: str) -> str:
    """splitmix64 from FIRST PRINCIPLES in ANSI-ish DuckDB SQL: adds and
    multiplies wrap mod 2⁶⁴ via split HUGEINT arithmetic, xor/shift on
    UBIGINT (no overflow there) — the same public-constant mixer the
    generators use (``sources.pages._splitmix64``)."""
    u64 = f"{_U64}::HUGEINT"
    z0 = f"((({x_expr})::HUGEINT + {_SM_ADD}::HUGEINT) % {u64})"
    z1 = f"xor(({z0})::UBIGINT, ({z0})::UBIGINT >> 30)"
    z2 = f"({_sql_wrapmul64(f'({z1})::HUGEINT', _SM_M1)})"
    z3 = f"xor(({z2})::UBIGINT, ({z2})::UBIGINT >> 27)"
    z4 = f"({_sql_wrapmul64(f'({z3})::HUGEINT', _SM_M2)})"
    return f"xor(({z4})::UBIGINT, ({z4})::UBIGINT >> 31)"


def sql_media_meta(n: int = 200, seed: int = 3) -> str:
    """Expected metadata of the synthetic media table, derived
    INDEPENDENTLY in SQL: the Spark side generates binary payloads
    (``operators.multimodal.generate_media``: header = magic +
    width/height/channels little-endian + body) and PARSES the headers
    back with the Arrow kernel; this oracle computes the closed-form
    field values from the same seeded splitmix64 streams — the parse
    round-trip is what the comparison proves. bytes = 17-byte header +
    body_len; every generated payload is valid."""
    sm1 = _sql_splitmix64("xor(b, 1::UBIGINT)")
    sm2 = _sql_splitmix64("xor(b, 2::UBIGINT)")
    sm3 = _sql_splitmix64("xor(b, 3::UBIGINT)")
    return f"""
WITH ids AS (SELECT i::UBIGINT AS i FROM range(0, {n}) t(i)),
base AS (SELECT i, xor(({seed}::UBIGINT << 32), i) AS b FROM ids)
SELECT i::BIGINT AS media_id,
       (({sm1}) % 512 + 16)::INTEGER AS width,
       (({sm2}) % 512 + 16)::INTEGER AS height,
       3::INTEGER AS channels,
       (17 + ({sm3}) % 256)::BIGINT AS bytes,
       TRUE AS valid
FROM base ORDER BY media_id
""".strip()


def sql_relation_concordance(lemma: str, deprel: str, sent_len: int = 10,
                             page_size: int = 10, context: int = 3) -> str:
    """Oracle for ``query.concordance.index_relation_concordance``:
    dependency matches (the window-rule attachment twin of
    ``sql_dep_sketch_conllu``) → distinct (doc, span-start, span-width)
    hits → deterministic global rank (doc, pos, kw_len) → token-sliced
    KWIC contexts (the ``sql_concordance`` technique)."""
    wc = _wclass_case("term")
    return f"""
WITH {TOKENS_CTE},
base AS (
  SELECT doc_id, pos,
         CAST(pos // {sent_len} AS INT) AS sent_id,
         CAST(pos % {sent_len} + 1 AS INT) AS token_id,
         CASE WHEN length(term) > 4 AND term LIKE '%s'
              THEN substr(term, 1, length(term) - 1) ELSE term END AS lemma,
         {wc} AS upos
  FROM tokens),
win AS (
  SELECT *,
         min(CASE WHEN upos = 'NOUN' THEN token_id END) OVER (
           PARTITION BY doc_id, sent_id ORDER BY token_id
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_noun,
         max(CASE WHEN upos = 'VERB' THEN token_id END) OVER (
           PARTITION BY doc_id, sent_id ORDER BY token_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_verb,
         min(CASE WHEN upos = 'VERB' THEN token_id END) OVER (
           PARTITION BY doc_id, sent_id ORDER BY token_id
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_verb
  FROM base),
ann AS (
  SELECT doc_id, pos, sent_id, token_id, lemma, upos,
         COALESCE(CASE WHEN upos IN ('DET', 'ADJ') THEN next_noun
                       WHEN upos = 'NOUN' THEN COALESCE(prev_verb, next_verb)
                       ELSE token_id - 1 END, 0) AS head,
         CASE WHEN upos = 'DET' THEN 'det'
              WHEN upos = 'ADJ' THEN 'amod'
              WHEN upos = 'NOUN' THEN
                   CASE WHEN prev_verb IS NOT NULL THEN 'obj'
                        WHEN next_verb IS NOT NULL THEN 'nsubj'
                        ELSE 'dep' END
              WHEN upos = 'VERB' THEN 'conj'
              ELSE 'dep' END AS deprel
  FROM win),
matches AS (
  SELECT DISTINCT d.doc_id,
         least(h.pos, d.pos) AS pos,
         greatest(h.pos, d.pos) - least(h.pos, d.pos) + 1 AS kw_len
  FROM ann d JOIN ann h
    ON d.doc_id = h.doc_id AND d.sent_id = h.sent_id
   AND d.head = h.token_id
  WHERE d.head > 0 AND d.deprel = '{deprel}' AND h.lemma = '{lemma}'),
hits AS (
  SELECT *, row_number() OVER (ORDER BY doc_id, pos, kw_len) AS rank
  FROM matches),
dt AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents)
SELECT rank, h.doc_id, pos,
       array_to_string(toks[greatest(1, pos + 1 - {context}): pos], ' ')
         AS left_ctx,
       array_to_string(toks[pos + 1: pos + kw_len], ' ') AS kw,
       array_to_string(
         toks[pos + kw_len + 1: least(len(toks), pos + kw_len + {context})],
         ' ') AS right_ctx
FROM hits h JOIN dt ON h.doc_id = dt.doc_id
WHERE rank <= {page_size}
ORDER BY rank
""".strip()
