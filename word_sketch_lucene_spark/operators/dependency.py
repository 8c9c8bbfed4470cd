"""Dependency-relation joins over annotated tokens.

Reference parity (J3, SURVEY §3.2): BCQL relation queries
``"lemma" -deprel-> _`` match governor→dependent pairs on the deprel
annotation layer (``BlackLabQueryExecutor.java:211-229``; dep patterns
``grammars/relations.json:330-553``). The annotation layers (head,
deprel per token) come from the CoNLL-U columns produced upstream by
the Stanza tagger (``tag_with_stanza.py``, ``conllu-sentences.blf.yaml:41-62``).

This container has no NLP stack, so :func:`annotate_tokens` is the
documented STUB for that tagger: a deterministic, SQL-reproducible
annotation (fixed-length pseudo-sentences, head = previous token,
deprel from the dependent's word class). The *join machinery* — which
is the engine's part of the contract — is real and tested: an
equi-join on ``(doc_id, sent_id, head_id) = (doc_id, sent_id,
token_id)``, i.e. one shuffle co-keyed on the sentence, exactly how a
real parse table would be queried.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scoring import score_ranked_collocates
from ..plans.relations import word_class_expr

SENT_LEN = 20  # pseudo-sentence length of the stub annotator


def annotate_tokens(tokens: DataFrame) -> DataFrame:
    """Exploded tokens → CoNLL-U-shaped annotation columns.

    ``(doc_id, sent_id, token_id, term, wclass, head_id, deprel)``;
    1-based token ids, ``head_id = token_id - 1`` (0 = sentence root),
    deprel = f(word class of the dependent). STUB for a real parser —
    replace this function with the tagger output at deployment; every
    downstream operator is annotation-source-agnostic.
    """
    wc = word_class_expr("term")
    return tokens.select(
        "doc_id",
        (F.col("pos") / SENT_LEN).cast("int").alias("sent_id"),
        (F.col("pos") % SENT_LEN + 1).cast("int").alias("token_id"),
        "term",
        wc.alias("wclass"),
        (F.col("pos") % SENT_LEN).cast("int").alias("head_id"),
        F.when(wc == "DET", F.lit("det"))
        .when(wc == "ADJ", F.lit("amod"))
        .when(wc == "NOUN", F.lit("nsubj"))
        .when(wc == "VERB", F.lit("conj"))
        .otherwise(F.lit("dep")).alias("deprel"),
    )


def annotated_from_conllu(parsed: DataFrame, use_lemma: bool = True
                          ) -> DataFrame:
    """CoNLL-U token table (``sources/conllu.py`` schema: word, lemma,
    upos, xpos, head, deprel) → the annotated shape
    ``(doc_id, sent_id, token_id, term, wclass, head_id, deprel)``
    consumed by :func:`dependency_pairs` — the REAL parsed layers
    routed into the sketch operators (retires :func:`annotate_tokens`
    for CoNLL-U-sourced corpora; the stub remains only for corpora with
    no annotations at all)."""
    term = F.lower(F.col("lemma" if use_lemma else "word"))
    return parsed.select(
        "doc_id", "sent_id", "token_id", term.alias("term"),
        F.col("upos").alias("wclass"),
        F.col("head").alias("head_id"), "deprel")


def rule_annotate(tokens: DataFrame, sent_len: int = 10) -> DataFrame:
    """Deterministic rule 'parser': syntax-ish head attachment computed
    with window functions (SQL-reproducible, hence oracle-checkable) —
    the upgrade over :func:`annotate_tokens`'s flat previous-token
    chain, standing in for a real UD parser in this container.

    Rules per word class (pseudo-sentences of ``sent_len`` tokens):
    DET/ADJ attach to the NEXT noun in the sentence (det/amod); NOUN
    attaches to the LAST verb before it as ``obj``, else to the NEXT
    verb as ``nsubj`` (the UD subject-precedes-verb heuristic); VERB
    and X attach to the previous token (conj/dep). Unresolved → 0
    (root).

    Output: ``(doc_id, sent_id, token_id, word, lemma, upos, xpos,
    head, deprel)`` — the CoNLL-U column set, ready for
    :func:`..sources.conllu.to_conllu_text`. Lemma is a deterministic
    suffix rule (strip final 's' from 5+-char words); xpos is the
    Penn-ish tag the reference's SURFACE patterns constrain on
    (``[xpos="NN.*"]`` etc.): NOUN → NN / NNS (plural-s rule),
    VERB → VB, ADJ → JJ, DET → DT, else XX.
    """
    from pyspark.sql import Window

    wc = word_class_expr("term")
    base = tokens.select(
        "doc_id",
        (F.col("pos") / sent_len).cast("int").alias("sent_id"),
        (F.col("pos") % sent_len + 1).cast("int").alias("token_id"),
        F.col("term").alias("word"),
        F.when((F.length("term") > 4) & F.col("term").endswith("s"),
               F.expr("substring(term, 1, length(term) - 1)"))
        .otherwise(F.col("term")).alias("lemma"),
        wc.alias("upos"),
        F.when(wc == "NOUN",
               F.when((F.length("term") > 4) & F.col("term").endswith("s"),
                      F.lit("NNS")).otherwise(F.lit("NN")))
        .when(wc == "VERB", F.lit("VB"))
        .when(wc == "ADJ", F.lit("JJ"))
        .when(wc == "DET", F.lit("DT"))
        .otherwise(F.lit("XX")).alias("xpos"),
    )
    w = Window.partitionBy("doc_id", "sent_id").orderBy("token_id")
    next_noun = F.min(
        F.when(F.col("upos") == "NOUN", F.col("token_id"))
    ).over(w.rowsBetween(1, Window.unboundedFollowing))
    prev_verb = F.max(
        F.when(F.col("upos") == "VERB", F.col("token_id"))
    ).over(w.rowsBetween(Window.unboundedPreceding, -1))
    next_verb = F.min(
        F.when(F.col("upos") == "VERB", F.col("token_id"))
    ).over(w.rowsBetween(1, Window.unboundedFollowing))
    head = (
        F.when(F.col("upos").isin("DET", "ADJ"), next_noun)
        .when(F.col("upos") == "NOUN", F.coalesce(prev_verb, next_verb))
        .otherwise(F.col("token_id") - 1)
    )
    deprel = (
        F.when(F.col("upos") == "DET", F.lit("det"))
        .when(F.col("upos") == "ADJ", F.lit("amod"))
        .when(F.col("upos") == "NOUN",
              F.when(prev_verb.isNotNull(), F.lit("obj"))
              .when(next_verb.isNotNull(), F.lit("nsubj"))
              .otherwise(F.lit("dep")))
        .when(F.col("upos") == "VERB", F.lit("conj"))
        .otherwise(F.lit("dep"))
    )
    # deterministic FEATS from the xpos tag (UD-style key=value pairs;
    # "_" = no features, the CoNLL-U empty) — gives the feats layer a
    # real searchable inventory end to end (index → BCQL [feats=...])
    feats = (
        F.when(F.col("xpos") == "NNS", F.lit("Number=Plur"))
        .when(F.col("xpos") == "NN", F.lit("Number=Sing"))
        .when(F.col("xpos") == "VB", F.lit("VerbForm=Fin"))
        .when(F.col("xpos") == "JJ", F.lit("Degree=Pos"))
        .when(F.col("xpos") == "DT", F.lit("PronType=Art"))
        .otherwise(F.lit("_"))
    )
    return base.select(
        "doc_id", "sent_id", "token_id", "word", "lemma", "upos", "xpos",
        F.coalesce(head, F.lit(0)).cast("int").alias("head"),
        deprel.alias("deprel"), feats.alias("feats"))


def dependency_pairs(annotated: DataFrame) -> DataFrame:
    """Governor→dependent pairs: equi-join on (doc, sentence, head id).

    ``(doc_id, sent_id, head_term, dep_term, deprel)`` — the Spark form
    of the reference's relation-query span match (SURVEY §3.2 trace:
    self-join on ``(doc, sent, head_id)=(doc, sent, id)``).
    """
    deps = annotated.filter(F.col("head_id") > 0).select(
        "doc_id", "sent_id",
        F.col("head_id").alias("join_id"),
        F.col("term").alias("dep_term"),
        F.col("wclass").alias("dep_wclass"),
        "deprel",
    )
    heads = annotated.select(
        F.col("doc_id").alias("doc_id_h"),
        F.col("sent_id").alias("sent_id_h"),
        F.col("token_id").alias("join_id_h"),
        F.col("term").alias("head_term"),
        F.col("wclass").alias("head_wclass"),
    )
    return deps.join(
        heads,
        (deps["doc_id"] == heads["doc_id_h"])
        & (deps["sent_id"] == heads["sent_id_h"])
        & (deps["join_id"] == heads["join_id_h"]),
    ).select("doc_id", "sent_id", "head_term", "head_wclass",
             "dep_term", "dep_wclass", "deprel")


def _parsed_layer_col(attr: str) -> Column:
    """Attribute → column over the PARSED CoNLL-U schema
    (``sources/conllu.py``), mirroring ``sources.conllu.layer_tokens``'s
    layer normalization (word/lemma lowercased; ``*_cs`` preserved)."""
    exprs = {
        "word": F.lower(F.col("word")), "term": F.lower(F.col("word")),
        "lemma": F.lower(F.col("lemma")),
        "word_cs": F.col("word"), "lemma_cs": F.col("lemma"),
        "upos": F.col("upos"), "pos": F.col("upos"),
        "xpos": F.col("xpos"), "tag": F.col("xpos"),
        "deprel": F.col("deprel"), "feats": F.col("feats"),
    }
    if attr not in exprs:
        raise ValueError(f"relation-query attribute {attr!r} not in the "
                         f"CoNLL-U schema (available: {sorted(exprs)})")
    return exprs[attr]


def _item_pred_parsed(item) -> Column:
    """Conjunction of one relation operand's tests over the parsed
    schema (sensitivity flags routed like ``plans.cql``)."""
    from ..plans.cql import _test_col, effective_test

    pred = F.lit(True)
    for t in item.tests:
        t = effective_test(t)
        pred = pred & _test_col(t, _parsed_layer_col(t.attr))
    return pred


def relation_query_pairs(parsed: DataFrame, query) -> DataFrame:
    """Governor→dependent matches of a BCQL relation query
    (``plans.cql.RelationQuery`` or its string form) over the parsed
    CoNLL-U table — the reference's ``"lemma" -nsubj-> _``
    (``BlackLabQueryExecutor.java:211-229``) as the SAME sentence-co-
    keyed equi-join as :func:`dependency_pairs`, with the operand
    constraints pushed below the join.

    Returns ``(doc_id, sent_id, gov_id, dep_id, head_term, dep_term,
    deprel)`` — terms are lemma-layer (lowercased), the grouping
    identity the reference extracts from hit groups.
    """
    from ..plans.cql import parse_relation_query

    rq = parse_relation_query(query) if isinstance(query, str) else query
    if rq is None:
        raise ValueError(f"not a relation query: {query!r}")
    gov = parsed.filter(_item_pred_parsed(rq.source)).select(
        F.col("doc_id").alias("doc_id_h"),
        F.col("sent_id").alias("sent_id_h"),
        F.col("token_id").alias("gov_id"),
        F.lower(F.col("lemma")).alias("head_term"))
    dep = parsed.filter(
        (F.col("head") > 0) & (F.col("deprel") == rq.deprel)
        & _item_pred_parsed(rq.target)
    ).select("doc_id", "sent_id", F.col("head").alias("gov_join"),
             F.col("token_id").alias("dep_id"),
             F.lower(F.col("lemma")).alias("dep_term"), "deprel")
    return dep.join(
        gov,
        (dep["doc_id"] == gov["doc_id_h"])
        & (dep["sent_id"] == gov["sent_id_h"])
        & (dep["gov_join"] == gov["gov_id"]),
    ).select("doc_id", "sent_id", "gov_id", "dep_id",
             "head_term", "dep_term", "deprel")


def relation_query_collocates(
    parsed: DataFrame,
    term_stats: DataFrame,
    query,
    min_logdice: float = 0.0,
    limit: int = 20,
    round_dp: int | None = None,
) -> DataFrame:
    """V9 relation-operator queries end to end: parse
    ``"lemma" -deprel-> _``, match governor→dependent pairs, rank the
    dependents by logDice — output-identical to
    :func:`dependency_sketch` for the same (lemma, deprel)
    (``queryAndRankDepCollocates``). The head lemma for f(A) comes from
    the source operand's positive lemma/word literal."""
    from ..plans.cql import parse_relation_query

    rq = parse_relation_query(query) if isinstance(query, str) else query
    if rq is None:
        raise ValueError(f"not a relation query: {query!r}")
    head = next((t.value.replace("\\", "") for t in rq.source.tests
                 if t.attr in ("lemma", "word", "term") and not t.negated
                 and t.is_literal), None)
    if head is None:
        raise ValueError("relation-query collocates need a literal "
                         "lemma/word test on the source operand "
                         "(the reference always substitutes one)")
    grouped = relation_query_pairs(parsed, rq).groupBy(
        F.col("dep_term").alias("colloc_term")).agg(
        F.count("*").alias("pair_freq"))
    return score_ranked_collocates(
        grouped, term_stats, head, limit_per_relation=limit,
        min_logdice=min_logdice, round_dp=round_dp,
    ).select(F.col("colloc_term").alias("dep_term"), "pair_freq", "logdice")


def dependency_sketch_catalog(
    annotated: DataFrame,
    term_stats: DataFrame,
    lemma: str,
    rel,
    **kw,
) -> DataFrame:
    """Catalog-driven DEP sketch: the reference's DEP relations carry
    word-class constraints on BOTH ends (e.g. ``dep_amod: 1:[xpos=
    "NN.*"] 2:[xpos="JJ.*" & deprel="amod"]``,
    ``grammars/relations.json:330-553``) — forwarded here as wclass
    filters on the governor/dependent join sides."""
    return dependency_sketch(annotated, term_stats, lemma, rel.deprel,
                             head_class=rel.head_class,
                             colloc_class=rel.colloc_class, **kw)


def dependency_sketch(
    annotated: DataFrame,
    term_stats: DataFrame,
    lemma: str,
    deprel: str,
    min_logdice: float = 0.0,
    limit: int = 20,
    round_dp: int | None = None,
    head_class: str | None = None,
    colloc_class: str | None = None,
) -> DataFrame:
    """CLI ``blacklab-query --lemma W --deprel R`` equivalent
    (``Main.java:156-198`` → ``executeDependencyPattern``): dependents
    of ``lemma`` via ``deprel``, logDice-ranked top-k.

    Returns ``(dep_term, pair_freq, logdice)``.
    """
    pairs = dependency_pairs(annotated).filter(
        (F.col("head_term") == lemma) & (F.col("deprel") == deprel))
    if head_class:
        pairs = pairs.filter(F.col("head_wclass") == head_class)
    if colloc_class:
        pairs = pairs.filter(F.col("dep_wclass") == colloc_class)
    # the shared ranking tail, renamed to dep_term at this module's edge
    grouped = pairs.groupBy(F.col("dep_term").alias("colloc_term")).agg(
        F.count("*").alias("pair_freq"))
    return score_ranked_collocates(
        grouped, term_stats, lemma, limit_per_relation=limit,
        min_logdice=min_logdice, round_dp=round_dp,
    ).select(F.col("colloc_term").alias("dep_term"), "pair_freq", "logdice")
