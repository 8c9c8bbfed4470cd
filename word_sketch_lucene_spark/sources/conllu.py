"""CoNLL-U source: annotated-corpus scan → token table.

Reference parity (S1/S2/S6, SURVEY §2.1): the reference streams
CoNLL-U, skipping ``#`` comments, treating blank lines as sentence
boundaries, and dropping multi-word-token (``1-2``) and empty-node
(``1.1``) lines (``indexer/blacklab/ConlluConverter.java:47-124``;
``scripts/conllu_to_wpl.py:42-92``); chunk rotation every 10k
sentences bounds memory (``ConlluConverter.java:132-143``,
``Main.java:133``).

Spark mapping: ``spark.read.text`` → Arrow-batched line parser
(``mapInPandas``) carrying sentence state per *file partition* (CoNLL-U
is line-oriented; we read one file per task via ``wholetext`` to keep
sentence boundaries intact — at crawl scale, files are the natural
split unit exactly like the reference's chunk files). The "chunk sink"
is ``repartition(n).write.parquet`` — Spark files are the chunks.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CONLLU_SCHEMA = ("doc_id string, sent_id long, token_id int, word string, "
                 "lemma string, upos string, xpos string, head int, "
                 "deprel string, feats string, misc string")


def parse_conllu_text(doc_id: str, text: str, sent_offset: int = 0):
    """Pure parser: one CoNLL-U document → token tuples.

    Skips comments/MWT/empty-nodes exactly like the reference
    (``ConlluConverter.java:74-96``): blank line = sentence boundary.
    """
    rows = []
    sent_id = sent_offset
    in_sentence = False
    for line in text.splitlines():
        line = line.strip("\r")
        if not line.strip():
            if in_sentence:
                sent_id += 1
                in_sentence = False
            continue
        if line.startswith("#"):
            continue
        cols = line.split("\t")
        if len(cols) < 8:
            continue
        tid = cols[0]
        if "-" in tid or "." in tid:  # MWT range / empty node
            continue
        try:
            token_id = int(tid)
            head = int(cols[6]) if cols[6] not in ("_", "") else 0
        except ValueError:
            continue
        in_sentence = True
        rows.append((doc_id, sent_id, token_id, cols[1], cols[2],
                     cols[3], cols[4], head, cols[7],
                     cols[5], cols[9] if len(cols) > 9 else "_"))
    return rows


def parse_conllu_files_df(files: DataFrame) -> DataFrame:
    """``(file, value)`` whole-file rows → annotated token DataFrame
    (Arrow-batched parser) — the shared kernel of :func:`read_conllu`
    and the streaming ingestion (``streaming.ingest``)."""
    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["doc_id", "sent_id", "token_id", "word", "lemma",
                "upos", "xpos", "head", "deprel", "feats", "misc"]
        for pdf in batches:
            out = []
            for file, value in zip(pdf["file"], pdf["value"]):
                out.extend(parse_conllu_text(file.rsplit("/", 1)[-1], value))
            yield pd.DataFrame(out, columns=cols)

    return files.select("file", "value").mapInPandas(parse, CONLLU_SCHEMA)


def read_conllu(spark: SparkSession, path: str) -> DataFrame:
    """Directory/glob of ``.conllu`` files → annotated token DataFrame.

    One file per row via ``wholetext`` (sentence state never crosses a
    task boundary), parsed in Arrow batches.
    """
    files = spark.read.text(path, wholetext=True).withColumn(
        "file", F.input_file_name())
    return parse_conllu_files_df(files)


def parse_conllu_docs(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "conllu") -> DataFrame:
    """Parse CoNLL-U text carried in a DataFrame column — the same
    Arrow-batched parser as :func:`read_conllu`, for corpora whose
    annotated text lives in a table instead of files."""
    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["doc_id", "sent_id", "token_id", "word", "lemma",
                "upos", "xpos", "head", "deprel", "feats", "misc"]
        for pdf in batches:
            out = []
            for did, value in zip(pdf[id_col], pdf[text_col]):
                out.extend(parse_conllu_text(str(did), value))
            yield pd.DataFrame(out, columns=cols)

    return docs.select(id_col, text_col).mapInPandas(parse, CONLLU_SCHEMA)


def to_conllu_text(ann: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Annotated token table → one CoNLL-U document per row
    ``(doc_id, conllu)`` — the inverse of the parser (8-column lines,
    blank line between sentences), built with pure Catalyst string ops.

    Input columns: ``doc_id, sent_id, token_id, word, lemma, upos,
    head, deprel`` (+ optional ``xpos``/``feats``/``misc``, rendered
    into their CoNLL-U columns so layer-constrained patterns survive
    the round trip).
    """
    xpos = F.col("xpos") if "xpos" in ann.columns else F.lit("_")
    feats = F.col("feats") if "feats" in ann.columns else F.lit("_")
    parts = [F.col("token_id").cast("string"), F.col("word"),
             F.col("lemma"), F.col("upos"), xpos, feats,
             F.col("head").cast("string"), F.col("deprel")]
    if "misc" in ann.columns:
        parts += [F.lit("_"), F.col("misc")]  # DEPS placeholder + MISC
    line = F.concat_ws("\t", *parts)
    per_sent = (
        ann.withColumn("line", line)
        .groupBy(id_col, "sent_id")
        .agg(F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("token_id", "line"))),
                lambda s: s["line"]),
            "\n").alias("sent_text"))
    )
    return (
        per_sent.groupBy(id_col)
        .agg(F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sent_id", "sent_text"))),
                lambda s: s["sent_text"]),
            "\n\n").alias("conllu"))
    )


def to_wpl_text(ann: DataFrame, id_col: str = "doc_id",
                columns: tuple[str, ...] = ("word", "lemma", "upos", "xpos")
                ) -> DataFrame:
    """Annotated token table → word-per-line tabular text with explicit
    ``<s>``/``</s>`` sentence markers, one document per row
    ``(doc_id, wpl)`` — the reference's ``scripts/conllu_to_wpl.py``
    (BlackLab needs inline tags to index sentence spans; here the
    markers are for EXPORT interop — the engine itself keeps sentence
    boundaries as the structured ``sent_id`` column). Pure Catalyst
    string ops, same aggregation shape as :func:`to_conllu_text`.
    """
    cols = [c for c in columns if c in ann.columns]
    line = F.concat_ws("\t", *cols)
    per_sent = (
        ann.withColumn("line", line)
        .groupBy(id_col, "sent_id")
        .agg(F.concat(
            F.lit("<s>\n"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("token_id", "line"))),
                    lambda s: s["line"]),
                "\n"),
            F.lit("\n</s>")).alias("sent_text"))
    )
    return (
        per_sent.groupBy(id_col)
        .agg(F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sent_id", "sent_text"))),
                lambda s: s["sent_text"]),
            "\n").alias("wpl"))
    )


# case-folded layer → the case-preserved layer it lowers. Layer tokens
# carry both; the forward index keeps only the ``*_cs`` columns (in the
# ``lexicon`` its ``type_id`` arrays point into) and its readers derive
# the folded ones with the same ``lower`` (``IndexSearcher.
# forward_token_table``, and once per lexicon entry in the driver) —
# each datum stored once
FOLDED_LAYERS = {"term": "word_cs", "lemma": "lemma_cs"}


def layer_tokens(parsed: DataFrame, sent_len: int | None = None) -> DataFrame:
    """Parsed CoNLL-U table → flat multi-layer token table for the CQL
    compiler: ``(doc_id, pos, term, lemma, upos, xpos, deprel)`` with a
    corpus-flat 0-based ``pos`` per document (sentence order preserved,
    so surface patterns span sentence boundaries exactly like the
    reference's flat Lucene token stream).

    ``sent_len`` (fixed pseudo-sentence length) computes pos
    arithmetically; otherwise a per-document window numbers tokens —
    partitioned by doc_id, so at 100 TB it is a per-doc sort, never a
    global shuffle to one partition.

    The arithmetic path is GUARDED at runtime: a real sentence longer
    than ``sent_len`` would silently collide with the next sentence's
    positions (corrupt adjacency joins) — ``assert_true`` fails the job
    instead, naming the windowed path as the fix. Zero extra actions:
    the check rides the rows already being computed.

    Besides the annotation layers the output carries ``sent_no``
    (per-doc sentence ordinal) — the structural column sentence-bounded
    span matching keys on (the reference indexes ``<s>`` spans,
    ``conllu-sentences.blf.yaml:16``) — and ``token_id``/``head``
    (1-based intra-sentence ids) for dependency-relation queries.
    """
    if sent_len is not None:
        guard = F.assert_true(
            F.col("token_id") <= F.lit(sent_len),
            F.lit(f"layer_tokens(sent_len={sent_len}): sentence longer "
                  f"than sent_len would collide positions — use the "
                  f"windowed path (sent_len=None)"))
        pos = F.when(
            guard.isNull(),
            (F.col("sent_id") * sent_len + F.col("token_id") - 1)
        ).cast("long")
    else:
        from pyspark.sql import Window

        w = Window.partitionBy("doc_id").orderBy("sent_id", "token_id")
        pos = (F.row_number().over(w) - 1).cast("long")
    sel = [
        "doc_id", pos.alias("pos"),
        F.col("sent_id").cast("int").alias("sent_no"),
        "token_id", "head",
        F.lower(F.col("word")).alias("term"),
        F.lower(F.col("lemma")).alias("lemma"),
        # case-PRESERVED variants: the reference indexes word/lemma as
        # sensitive_insensitive fields (conllu-sentences.blf.yaml:24,29);
        # CQL routes "(?-i)"-flagged tests here (plans.cql.effective_test)
        F.col("word").alias("word_cs"),
        F.col("lemma").alias("lemma_cs"),
        "upos", "xpos", "deprel",
    ]
    # morphological features (reference conllu-sentences.blf.yaml:33
    # indexes feats as a searchable annotation); older parsed tables
    # may predate the column
    if "feats" in parsed.columns:
        sel.append("feats")
    return parsed.select(*sel)


def conllu_boilerplate_filter(tokens: DataFrame, prefixes: tuple[str, ...],
                              text_col: str = "word") -> DataFrame:
    """S6 record-level filter: drop whole *sentences* whose first word
    starts a boilerplate prefix (``filter_conllu_boilerplate.py:70-150``
    drops sentences by their ``# text =`` prefix; structurally we key on
    the sentence's first token)."""
    first = tokens.filter(F.col("token_id") == 1)
    cond = None
    for p in prefixes:
        c = F.col(text_col).startswith(p)
        cond = c if cond is None else (cond | c)
    bad = first.filter(cond).select("doc_id", "sent_id").distinct()
    return tokens.join(bad, ["doc_id", "sent_id"], "left_anti")


def write_chunks(tokens: DataFrame, out_dir: str, n_chunks: int) -> None:
    """S2 chunk sink: the reference rotates files every 10k sentences
    (``ConlluConverter.java:132-143``); Spark's output files ARE the
    chunks — one per partition."""
    tokens.repartition(n_chunks).write.mode("overwrite").parquet(out_dir)
