"""Concordances / KWIC: hit pagination + forward-index context windows.

Reference parity (SURVEY §3.3 — the ``POST /api/bcql`` trace):
- hits → total count + page window ``hits.window(offset, offset+n)``
  (W2, ``CollocateQueryHelper.java:305-362``)
- context from the FORWARD INDEX, ±60 tokens default / ±5 for the CQL
  endpoint (W6, ``CollocateQueryHelper.java:328-329``,
  ``BlackLabQueryExecutor.java:159``)
- doc-store join restricted by the hit set first (J5 broadcast
  semi-join, ``CollocateQueryHelper.java:327-357``)
- sentence dedup for example sets (SO3,
  ``SemanticFieldExplorer.java:185-195``)

Spark mapping: the page is a ``row_number`` window over the global hit
order ``(doc_id, pos)``; the docstore join uses the paged hits (≤ page
size rows → broadcast), then ``slice`` on the token array builds
left/kw/right — no XML reparse because tokens stay structured end to
end (obviating the reference's snippet parser, F3/F4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def find_hits(tokens: DataFrame, term: str) -> DataFrame:
    """Single-term hit list ``(doc_id, pos)`` in global (doc, pos) order."""
    return tokens.filter(F.col("term") == term).select("doc_id", "pos")


def find_phrase_hits(tokens: DataFrame, phrase: list[str]) -> DataFrame:
    """Phrase hits via chained adjacency joins (J1 compositions):
    ``(doc_id, pos)`` of the first token of each exact-sequence match."""
    if not phrase:
        raise ValueError("empty phrase")
    hits = tokens.filter(F.col("term") == phrase[0]).select("doc_id", "pos")
    for i, t in enumerate(phrase[1:], start=1):
        nxt = tokens.filter(F.col("term") == t).select(
            F.col("doc_id").alias("d2"), F.col("pos").alias("p2"))
        hits = hits.join(
            nxt, (hits["doc_id"] == nxt["d2"]) & (nxt["p2"] == hits["pos"] + i)
        ).select("doc_id", "pos")
    return hits


def _index_tokens(searcher) -> DataFrame:
    """``(doc_id, tokens)`` off the index's forward store (stored text
    or CoNLL-U forward layers, via ``IndexSearcher.forward_arrays``)."""
    fw = searcher.forward_arrays({"term"})
    if fw is None:
        raise NotImplementedError(
            "index has no forward store — build with store_docstore=True")
    return fw.select("doc_id", F.col("term").alias("tokens"))


def index_pattern_concordance(
    searcher,
    pattern: str,
    offset: int = 0,
    page_size: int = 20,
    context: int = 5,
    within_sentence: bool = False,
    df_budget: int = 500_000,
) -> DataFrame:
    """INDEX-side BCQL → KWIC page, end to end off the index artifacts:
    spans from :meth:`IndexSearcher.pattern_spans_df` (budgeted — hot
    patterns run distributed AS A PLAN), keyword width from each span's
    extent, context from the index's own forward store. The
    ``POST /api/bcql`` trace (SURVEY §3.3) without touching the corpus.
    ``within_sentence=True`` excludes matches whose gap crosses a
    sentence boundary (the reference's ``<s>``-span semantics).

    The page window pushes INTO the span plan before anything reaches
    the driver (``concordance_page``'s orderBy().limit() fuses to
    TakeOrderedAndProject): a routed-hot pattern with 10⁸ matches
    collects ≤ ``offset+page_size`` rows — the reference windows hits
    before its forward-index fetch the same way
    (``CollocateQueryHelper.java:305-329``).
    """
    spans_df = searcher.pattern_spans_df(pattern, df_budget=df_budget,
                                         within_sentence=within_sentence)
    hits = spans_df.select(
        "doc_id", F.col("start").alias("pos"),
        (F.col("end") - F.col("start") + 1).cast("int").alias("kw_len"))
    docstore = _index_tokens(searcher)
    # per-span keyword width: reuse the page machinery with kw_len as a
    # column (slice accepts column lengths); kw_len tie-breaks the rank
    # (two spans may share a start with different ends)
    page = concordance_page(hits, docstore, offset=offset,
                            page_size=page_size, context=context,
                            kw_len=F.col("kw_len"),
                            order_extra=("kw_len",))
    return page


def index_relation_concordance(
    searcher,
    query,
    offset: int = 0,
    page_size: int = 20,
    context: int = 5,
    df_budget: int = 500_000,
    doc_id_map: DataFrame | None = None,
) -> DataFrame:
    """BCQL relation query (``SOURCE -deprel-> TARGET``) → KWIC page
    off the index artifacts — the dependency twin of
    :func:`index_pattern_concordance` (the reference displays relation
    matches as concordance lines too). The keyword span covers
    governor→dependent (either order); match resolution routes
    through ``IndexSearcher._relation_route``, and on the
    distributed route the page window pushes into the join plan
    before anything reaches the driver.

    ``doc_id_map``: optional ``(doc_id, ext_id)`` dimension (e.g. the
    index's ``doc_names`` table) — ranks and output use the EXTERNAL
    ids (a broadcast dimension join before paging; the index's dense
    ids are partition-order-dependent, so a stable public page must
    rank in the caller's id space)."""
    matches = searcher._relation_route(query, df_budget=df_budget)
    if isinstance(matches, list):
        from .engine import bounded_rows_df

        matches = bounded_rows_df(
            searcher.spark, matches, "doc_id long, gp long, dp long",
            ["doc_id", "gp", "dp"])
    hits = matches.select(
        "doc_id",
        F.least("gp", "dp").alias("pos"),
        (F.greatest("gp", "dp") - F.least("gp", "dp") + 1)
        .cast("int").alias("kw_len")).distinct()
    docstore = _index_tokens(searcher)
    if doc_id_map is not None:
        m = F.broadcast(doc_id_map.select(
            F.col("doc_id").alias("_did"), F.col("ext_id")))
        hits = hits.join(m, hits["doc_id"] == m["_did"]) \
            .select(F.col("ext_id").alias("doc_id"), "pos", "kw_len")
        docstore = docstore.join(m, docstore["doc_id"] == m["_did"]) \
            .select(F.col("ext_id").alias("doc_id"), "tokens")
    return concordance_page(hits, docstore, offset=offset,
                            page_size=page_size, context=context,
                            kw_len=F.col("kw_len"),
                            order_extra=("kw_len",))


def concordance_page(
    hits: DataFrame,
    docstore: DataFrame,
    offset: int = 0,
    page_size: int = 20,
    context: int = 5,
    kw_len=1,
    order_extra: tuple[str, ...] = (),
    sort: str = "position",
) -> DataFrame:
    """One KWIC page: ``(rank, doc_id, pos, left, kw, right)``.

    ``rank`` is the 1-based global hit rank (deterministic order
    ``doc_id, pos``); the caller gets the total separately via
    ``hits.count()`` — two actions, same as the reference's
    ``hits.size()`` + window fetch.

    ``order_extra``: additional rank tie-break columns — span-shaped
    hit sets can contain two DISTINCT hits at the same ``(doc_id,
    pos)`` with different keyword widths, and ``row_number`` over a
    tied order is nondeterministic between runs/engines; callers with
    such hits pass ``("kw_len",)``.

    ``sort``: ``"position"`` (default, corpus order — the page limit
    applies BEFORE the docstore join, so only ≤ offset+page_size rows
    ever fetch context) or BlackLab's context sorts ``"right"`` /
    ``"left"`` (hits ordered by the context text; ``"left"`` compares
    nearest-token-first, i.e. the reversed left window). Context sorts
    must compute every hit's context BEFORE ranking — the docstore
    join runs over ALL hits (a co-partitioned equi-join; the page
    bound still applies via ``orderBy().limit()`` →
    TakeOrderedAndProject, so driver rows stay ≤ offset+page_size).
    Ties break ``(doc_id, pos, *order_extra)``; token strings are
    ASCII-lowercase, so Spark and SQL binary collations agree.
    """
    if sort in ("left", "right"):
        return _context_sorted_page(hits, docstore, offset, page_size,
                                    context, kw_len, order_extra, sort)
    if sort != "position":
        raise ValueError(f"unknown sort mode {sort!r}")
    # Two-phase ranking: a global orderBy().limit() first (fuses into
    # TakeOrderedAndProject — per-partition bounded heaps, no single-
    # partition shuffle of the full hit list), THEN row_number over the
    # ≤ offset+page_size survivors. A bare Window.orderBy would drag
    # every hit of a frequent term into one partition.
    okeys = ["doc_id", "pos", *order_extra]
    top = hits.orderBy(*okeys).limit(offset + page_size)
    # constant partition key: the input is already bounded to
    # offset+page_size rows by the limit above, so a single-partition
    # window is by construction small. pmod(doc_id, 1) == 0 for every
    # row but is NOT foldable — a bare F.lit(0) gets constant-folded to
    # an empty partition spec, which WindowExec mistakes for the
    # unbounded global-window hazard and warns about
    w = Window.partitionBy(F.pmod(F.col("doc_id"), F.lit(1))) \
        .orderBy(*okeys)
    page = (
        top.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") > offset)
    )
    ds = docstore.select("doc_id", "tokens")
    joined = page.join(ds, "doc_id")
    left_start = F.greatest(F.lit(1), F.col("pos") + 1 - context)
    return joined.select(
        "rank", "doc_id", "pos",
        F.concat_ws(" ", F.slice(
            "tokens", left_start, F.greatest(F.lit(0), F.col("pos") + 1 - left_start)
        )).alias("left"),
        F.concat_ws(" ", F.slice("tokens", F.col("pos") + 1, kw_len)).alias("kw"),
        F.concat_ws(" ", F.slice("tokens", F.col("pos") + 1 + kw_len, context)
                    ).alias("right"),
    ).orderBy("rank")


def _context_sorted_page(hits: DataFrame, docstore: DataFrame, offset: int,
                         page_size: int, context: int, kw_len,
                         order_extra: tuple[str, ...],
                         sort: str) -> DataFrame:
    """Context-ordered KWIC (the ``sort="left"/"right"`` modes): KWIC
    columns materialize for every hit, the sort key is the context
    text itself, and the bounded top-k happens on that key."""
    joined = hits.join(docstore.select("doc_id", "tokens"), "doc_id")
    left_start = F.greatest(F.lit(1), F.col("pos") + 1 - context)
    left_arr = F.slice(
        "tokens", left_start,
        F.greatest(F.lit(0), F.col("pos") + 1 - left_start))
    enriched = joined.select(
        "doc_id", "pos", *order_extra,
        F.concat_ws(" ", left_arr).alias("left"),
        F.concat_ws(" ", F.slice("tokens", F.col("pos") + 1, kw_len))
        .alias("kw"),
        F.concat_ws(" ", F.slice("tokens", F.col("pos") + 1 + kw_len,
                                 context)).alias("right"),
        (F.concat_ws(" ", F.reverse(left_arr)) if sort == "left"
         else F.concat_ws(" ", F.slice("tokens",
                                       F.col("pos") + 1 + kw_len,
                                       context))).alias("_sortkey"),
    )
    okeys = ["_sortkey", "doc_id", "pos", *order_extra]
    top = enriched.orderBy(*okeys).limit(offset + page_size)
    w = Window.partitionBy(F.pmod(F.col("doc_id"), F.lit(1))) \
        .orderBy(*okeys)
    return (top.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") > offset)
            .select("rank", "doc_id", "pos", "left", "kw", "right")
            .orderBy("rank"))


def dedup_examples(examples: DataFrame, text_col: str = "kw_context",
                   max_examples: int = 10) -> DataFrame:
    """SO3 sentence dedup: first occurrence per exact text, capped
    (``SemanticFieldExplorer.java:185-195``)."""
    return examples.dropDuplicates([text_col]).limit(max_examples)
