"""On-disk layout: every datum is stored once, and each array a reader
derives (doc tokens from stored text, case-folded CoNLL-U layers from
the case-preserved ones) equals the stored copy it replaced. Posting
stores write only what their readers read: the layer postings carry no
impacts, and payload columns carry no parquet statistics. The root
keeps only what readers read: the tokens stage's files are released
once every stage has committed, and only its manifest stays."""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import pyarrow.parquet as pq
import pytest

from word_sketch_lucene_spark.functions.tokenize import tokens_expr
from word_sketch_lucene_spark.index import build
from word_sketch_lucene_spark.index.build import (
    INDEX_FORMAT,
    STATS_FILE,
    build_conllu_index,
    build_index,
)
from word_sketch_lucene_spark.index.merge import (
    add_conllu_documents,
    decode_segments_to_tokens,
    merge_indexes,
)
from word_sketch_lucene_spark.query.concordance import (
    index_pattern_concordance,
    index_relation_concordance,
)
from word_sketch_lucene_spark.query.engine import IndexSearcher
from word_sketch_lucene_spark.sources.conllu import layer_tokens, read_conllu

# mixed-case words and lemmas, so the derived lower() is exercised
CONLLU = {
    "a.conllu": (
        "1\tThe\tthe\tDET\tDT\t_\t2\tdet\n"
        "2\tCat\tcat\tNOUN\tNN\t_\t3\tnsubj\n"
        "3\tsleeps\tsleep\tVERB\tVBZ\t_\t0\troot\n"
        "4\tin\tin\tADP\tIN\t_\t5\tcase\n"
        "5\tParis\tParis\tPROPN\tNNP\t_\t3\tobl\n"
        "\n"
        "1\tDogs\tdog\tNOUN\tNNS\t_\t2\tnsubj\n"
        "2\tBARK\tBark\tVERB\tVBP\t_\t0\troot\n"),
    "b.conllu": (
        "1\tA\ta\tDET\tDT\t_\t2\tdet\n"
        "2\tcat\tcat\tNOUN\tNN\t_\t3\tnsubj\n"
        "3\tbarks\tbark\tVERB\tVBZ\t_\t0\troot\n"
        "4\tat\tat\tADP\tIN\t_\t6\tcase\n"
        "5\tthe\tthe\tDET\tDT\t_\t6\tdet\n"
        "6\tCat\tcat\tNOUN\tNN\t_\t3\tobl\n"),
}


@pytest.fixture(scope="module")
def conllu_root(spark, tmp_path_factory):
    corpus = tmp_path_factory.mktemp("layout_corpus")
    for name, text in CONLLU.items():
        (corpus / name).write_text(text)
    parsed = read_conllu(spark, str(corpus)).localCheckpoint()
    root = tmp_path_factory.mktemp("layout_cidx")
    build_conllu_index(spark, parsed, root, doc_salt=1, n_partitions=2)
    return root, parsed


def _stored_conllu_arrays(spark, root, parsed) -> dict:
    """doc_id → (term, lemma) arrays as the previous layout stored them
    (``forward_layers.term``/``.lemma``; the docstore's ``tokens`` were
    the same term array): ``layer_tokens`` over the dense-id table."""
    names = spark.read.parquet(str(root / "doc_names"))
    lt = layer_tokens(parsed.withColumnRenamed("doc_id", "doc_name")
                      .join(names, "doc_name").drop("doc_name"))
    out: dict = {}
    for r in lt.orderBy("doc_id", "pos").collect():
        t, lm = out.setdefault(r["doc_id"], ([], []))
        t.append(r["term"])
        lm.append(r["lemma"])
    return out


def _kwic(tokens: dict, spans, context: int, page_size: int) -> list:
    """Reference KWIC page from doc → token list: rank by (doc, start,
    width), keyword = the span, ``context`` tokens each side."""
    rows = []
    for rank, (d, a, b) in enumerate(sorted(set(spans)), start=1):
        toks = tokens[d]
        rows.append((rank, d, a, " ".join(toks[max(0, a - context):a]),
                     " ".join(toks[a:b + 1]),
                     " ".join(toks[b + 1:b + 1 + context])))
    return rows[:page_size]


def test_pages_layout_and_token_identity(spark, index_small, docs_small):
    """The pages docstore holds (doc_id, text) only; the accessor's
    tokens equal the ``tokens_expr(text)`` column it used to store, on
    every read path (arrays, per-doc forward layer, token table)."""
    assert set(spark.read.parquet(str(index_small / "docstore")).columns) \
        == {"doc_id", "text"}
    s = IndexSearcher(spark, index_small)
    assert s.stats["format"] == INDEX_FORMAT
    want = {r["doc_id"]: r["t"] for r in docs_small.select(
        "doc_id", tokens_expr("text").alias("t")).collect()}
    fw = s.forward_arrays()
    assert fw.columns == ["doc_id", "term"]
    assert {r["doc_id"]: r["term"] for r in fw.collect()} == want
    ids = sorted(want)[::20]
    assert s.forward_layer(ids, "term") == {d: want[d] for d in ids}
    got = sorted(tuple(r) for r in s.forward_token_table({"term"}).collect())
    assert got == sorted((d, p, t) for d, ts in want.items()
                         for p, t in enumerate(ts or []))
    with pytest.raises(NotImplementedError, match="forward_layers"):
        s.forward_layer(ids, "lemma")


def test_conllu_layout_and_derived_layers(spark, conllu_root):
    """A CoNLL-U root has no docstore and no term/lemma forward arrays;
    the accessor derives both from word_cs/lemma_cs and they equal
    what the previous layout stored."""
    root, parsed = conllu_root
    assert not (root / "docstore").exists()
    stored = set(spark.read.parquet(str(root / "lexicon")).columns)
    assert not stored & {"term", "lemma"}
    assert {"word_cs", "lemma_cs"} <= stored
    s = IndexSearcher(spark, root)
    want = _stored_conllu_arrays(spark, root, parsed)
    fw = s.forward_arrays({"term", "lemma", "word_cs"})
    assert fw.columns == ["doc_id", "term", "lemma", "word_cs"]
    rows = fw.collect()
    assert {r["doc_id"]: (r["term"], r["lemma"]) for r in rows} == want
    # the case fold really ran (the corpus has upper-case words)
    assert any(r["term"] != r["word_cs"] for r in rows)
    ids = sorted(want)
    assert s.forward_layer(ids, "term") == {d: want[d][0] for d in ids}
    assert s.forward_layer(ids, "lemma") == {d: want[d][1] for d in ids}
    tok = s.forward_token_table({"term", "lemma", "upos"})
    assert sorted((r["doc_id"], r["pos"], r["term"], r["lemma"])
                  for r in tok.collect()) == sorted(
        (d, p, t, lm) for d, (ts, lms) in want.items()
        for p, (t, lm) in enumerate(zip(ts, lms)))
    with pytest.raises(ValueError, match="not stored"):
        s.forward_layer(ids, "nope")


def test_forward_read_rows_equal_spark_read(spark, index_small,
                                           conllu_index):
    """The driver's forward read returns what the Spark read of
    ``forward_arrays`` returns, on a candidate set past the 64 ids a
    Spark filter inlines: every layer decoded from the lexicon, the
    case-folded ones, the structural arrays and a pages root's tokens
    alike, and ``[]`` for a doc with no row."""
    from pyspark.sql import functions as F

    for root, layers in ((index_small, ("term",)),
                         (conllu_index[0], ("term", "lemma", "word_cs",
                                            "lemma_cs", "upos", "xpos",
                                            "deprel", "feats", "sent_no",
                                            "token_id", "head"))):
        s = IndexSearcher(spark, root)
        ids = sorted(r["doc_id"] for r in spark.read.parquet(
            str(root / "doc_lens")).collect())[::3]
        ids.append(ids[-1] + 10**6)
        assert len(ids) > 64
        for layer in layers:
            want = {d: [] for d in ids}
            want.update((r["doc_id"], list(r[layer])) for r in
                        s.forward_arrays({layer})
                        .filter(F.col("doc_id").isin(ids)).collect())
            assert s.forward_layer(ids, layer) == want, (root, layer)


def test_cold_closed_class_pattern_reads_forward_without_jobs(
        spark, conllu_index, monkeypatch):
    """A fresh searcher's undriven closed-class pattern reads every
    doc's forward arrays, and that read submits no Spark job."""
    import time

    sc = spark.sparkContext
    calls = []
    read = IndexSearcher._read_forward

    def grouped(self, doc_ids, layer):
        group = f"forward-read-{len(calls)}"
        sc.setJobGroup(group, "forward read")
        try:
            return read(self, doc_ids, layer)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            calls.append((group, len(doc_ids)))

    monkeypatch.setattr(IndexSearcher, "_read_forward", grouped)
    hits = IndexSearcher(spark, conllu_index[0]).pattern_hits(
        '[xpos="JJ"] [xpos="NN.*"]')
    time.sleep(1.0)  # let the listener bus register any job
    assert hits and max(n for _, n in calls) > 64
    assert not [g for g, _ in calls
                if sc.statusTracker().getJobIdsForGroup(g)]


def test_concordance_pages_unchanged(spark, index_small, docs_small,
                                     conllu_root):
    """KWIC pages read their context through the accessor and equal a
    page cut from the tokens the previous layout stored, on a pages
    index (pattern concordance) and a CoNLL-U index (both entry
    points)."""
    s = IndexSearcher(spark, index_small)
    toks = {r["doc_id"]: r["t"] for r in docs_small.select(
        "doc_id", tokens_expr("text").alias("t")).collect()}
    pat = '[word="spark"] []{0,1} [word="join"]'
    spans = [tuple(r) for r in s.pattern_spans_df(pat).collect()]
    got = [tuple(r) for r in index_pattern_concordance(
        s, pat, page_size=8, context=3).collect()]
    assert got == _kwic(toks, spans, 3, 8) and got

    root, parsed = conllu_root
    c = IndexSearcher(spark, root)
    ctoks = {d: t for d, (t, _) in
             _stored_conllu_arrays(spark, root, parsed).items()}
    pat = '[lemma="cat"] []{0,1} [lemma="bark"]'
    spans = [tuple(r) for r in c.pattern_spans_df(pat).collect()]
    got = [tuple(r) for r in index_pattern_concordance(
        c, pat, page_size=5, context=2).collect()]
    assert got == _kwic(ctoks, spans, 2, 5) and len(got) == 1
    q = '[lemma="bark"] -nsubj-> _'
    spans = [(d, min(g, p), max(g, p)) for d, g, p in c.relation_matches(q)]
    got = [tuple(r) for r in index_relation_concordance(
        c, q, page_size=5, context=2).collect()]
    assert got == _kwic(ctoks, spans, 2, 5) and len(got) == 2



def test_relation_concordance_routes_agree(spark, conllu_root):
    """The relation KWIC page is the same on the distributed route
    (``df_budget=0``: the dependency join plan) as on the in-driver
    resolver."""
    root, _ = conllu_root
    c = IndexSearcher(spark, root)
    q = '[lemma="bark"] -nsubj-> _'
    want = [tuple(r) for r in index_relation_concordance(
        c, q, page_size=5, context=2, df_budget=10**12).collect()]
    got = [tuple(r) for r in index_relation_concordance(
        c, q, page_size=5, context=2, df_budget=0).collect()]
    assert got == want and len(got) == 2

def test_old_format_rejected(spark, index_small, tmp_path):
    """An index written in the previous layout (no ``format`` in
    stats.json) is refused with a rebuild message by the searcher and
    by merge_indexes — there is no second read path."""
    old = tmp_path / "old"
    old.mkdir()
    stats = json.loads((index_small / STATS_FILE).read_text())
    stats.pop("format")
    (old / STATS_FILE).write_text(json.dumps(stats))
    with pytest.raises(ValueError, match="format 1.*rebuild"):
        IndexSearcher(spark, old)
    with pytest.raises(ValueError, match="format 1.*rebuild"):
        merge_indexes(spark, [index_small, old], tmp_path / "merged")
    assert not (tmp_path / "merged" / "segments").exists()


def test_forward_arrays_absent_without_forward_store(spark, docs_small,
                                                     tmp_path):
    from word_sketch_lucene_spark.index.build import build_index

    root = tmp_path / "nods"
    build_index(spark, docs_small.select("doc_id", "text").limit(20), root,
                doc_salt=1, n_partitions=2, store_docstore=False)
    s = IndexSearcher(spark, root)
    assert s.forward_arrays() is None
    assert s.forward_token_table() is None


def test_format_2_root_rejected(spark, index_small, tmp_path):
    """A format-2 root (tf repeated in ``pos_vb``, impacts on layer
    postings) cannot be decoded by this library: searcher and merge
    refuse it with a rebuild message."""
    old = tmp_path / "v2"
    old.mkdir()
    stats = json.loads((index_small / STATS_FILE).read_text())
    stats["format"] = 2
    (old / STATS_FILE).write_text(json.dumps(stats))
    with pytest.raises(ValueError, match="format 2.*rebuild"):
        IndexSearcher(spark, old)
    with pytest.raises(ValueError, match="format 2.*rebuild"):
        merge_indexes(spark, [index_small, old], tmp_path / "merged")


def test_format_3_root_rejected(spark, index_small, tmp_path):
    """A format-3 root (closed-class layers posted in ``layers``) is
    refused by the searcher and by merge with a rebuild message: its
    ``layers`` manifest does not say which layers are posted."""
    old = tmp_path / "v3"
    old.mkdir()
    stats = json.loads((index_small / STATS_FILE).read_text())
    stats["format"] = 3
    (old / STATS_FILE).write_text(json.dumps(stats))
    with pytest.raises(ValueError, match="format 3.*rebuild"):
        IndexSearcher(spark, old)
    with pytest.raises(ValueError, match="format 3.*rebuild"):
        merge_indexes(spark, [index_small, old], tmp_path / "merged")


def test_format_4_root_rejected(spark, index_small, tmp_path):
    """A format-4 root (each posting's doc length repeated in the term
    segments) is refused by the searcher and by merge with a rebuild
    message: its segments hold a stream this library does not read."""
    old = tmp_path / "v4"
    old.mkdir()
    stats = json.loads((index_small / STATS_FILE).read_text())
    stats["format"] = 4
    (old / STATS_FILE).write_text(json.dumps(stats))
    with pytest.raises(ValueError, match="format 4.*rebuild"):
        IndexSearcher(spark, old)
    with pytest.raises(ValueError, match="format 4.*rebuild"):
        merge_indexes(spark, [index_small, old], tmp_path / "merged")


def test_format_5_root_rejected(spark, index_small, tmp_path):
    """A format-5 root (one string array per annotation layer in the
    CoNLL-U forward store, no lexicon) is refused by the searcher and
    by merge with a rebuild message: its forward store holds no type
    ids to decode."""
    old = tmp_path / "v5"
    old.mkdir()
    stats = json.loads((index_small / STATS_FILE).read_text())
    stats["format"] = 5
    (old / STATS_FILE).write_text(json.dumps(stats))
    with pytest.raises(ValueError, match="format 5.*rebuild"):
        IndexSearcher(spark, old)
    with pytest.raises(ValueError, match="format 5.*rebuild"):
        merge_indexes(spark, [index_small, old], tmp_path / "merged")


def test_closed_class_layers_have_dictionary_rows_but_no_postings(
        spark, conllu_root):
    """A CoNLL-U root posts only the open-class layers; its
    ``layer_stats`` still holds every built layer's dictionary, equal to
    a brute-force count over the forward token table (``"_"``
    excluded)."""
    from word_sketch_lucene_spark.index.build import (
        CLOSED_CLASS_LAYERS,
        posted_layers,
    )

    root, _ = conllu_root
    keys = {r["term"] for r in
            spark.read.parquet(str(root / "layers")).select("term")
            .distinct().collect()}
    assert keys and all(k.startswith("lemma:") for k in keys)
    assert not {k.split(":")[0] for k in keys} & set(CLOSED_CLASS_LAYERS)
    assert posted_layers(root) == ["lemma"]
    s = IndexSearcher(spark, root)
    table = s.forward_token_table({"lemma", "upos", "xpos", "deprel",
                                   "feats"})
    built = table.columns[2:]
    want: dict = {}
    for r in table.collect():
        for layer in built:
            if r[layer] != "_":
                docs, cf = want.get((layer, r[layer]), (set(), 0))
                want[(layer, r[layer])] = (docs | {r["doc_id"]}, cf + 1)
    got = {(r["layer"], r["value"], r["df"], r["cf"]) for r in
           spark.read.parquet(str(root / "layer_stats")).collect()}
    assert got == {(layer, v, len(d), cf)
                   for (layer, v), (d, cf) in want.items()}
    assert {"lemma", "upos", "xpos", "deprel"} <= {g[0] for g in got}


def _stats_set(store: Path) -> dict[str, set[bool]]:
    """column → the ``is_stats_set`` values of its chunks, over every
    row group of every file of one store (pyarrow footers)."""
    out: dict[str, set[bool]] = {}
    for f in sorted(store.glob("part-*.parquet")):
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for i in range(rg.num_columns):
                c = rg.column(i)
                out.setdefault(c.path_in_schema, set()).add(c.is_stats_set)
    return out


def test_posting_layouts_and_payload_statistics(spark, index_small,
                                                conllu_root):
    """The scored term field keeps its BM25 block impacts but no
    per-posting doc lengths (those live once per doc in ``doc_lens``);
    layer postings are positions-only. Payload blobs and stored text
    have no footer statistics; the pushdown keys keep theirs."""
    root, _ = conllu_root
    seg = set(spark.read.parquet(str(index_small / "segments")).columns)
    assert {"tfs_vb", "max_tf", "min_dl", "pos_vb"} <= seg
    lay = set(spark.read.parquet(str(root / "layers")).columns)
    assert {"tfs_vb", "pos_vb", "sum_tf"} <= lay
    assert not lay & {"max_tf", "min_dl"}
    assert "dls_vb" not in seg | lay

    for store, payload in (
            (index_small / "segments", ("docs_vb", "tfs_vb", "pos_vb")),
            (root / "segments", ("docs_vb", "tfs_vb", "pos_vb")),
            (root / "layers", ("docs_vb", "tfs_vb", "pos_vb"))):
        st = _stats_set(store)
        for c in payload:
            assert st[c] == {False}, (store, c)
        for c in ("term", "first_doc", "last_doc"):
            assert st[c] == {True}, (store, c)
    st = _stats_set(index_small / "docstore")
    assert st["text"] == {False} and st["doc_id"] == {True}
    # forward layers: every array's leaf column drops its statistics
    st = _stats_set(root / "forward_layers")
    arrays = {c for c in st if c.endswith(".list.element")}
    assert {"type_id.list.element", "sent_no.list.element",
            "token_id.list.element", "head.list.element"} == arrays
    for c in arrays:
        assert st[c] == {False}, c
    assert st["doc_id"] == {True}


def _layer_positions(spark, root: Path) -> set:
    """(layer term, doc name, position) of every layer posting."""
    names = {r["doc_id"]: r["doc_name"] for r in
             spark.read.parquet(str(root / "doc_names")).collect()}
    toks = decode_segments_to_tokens(
        spark.read.parquet(str(root / "layers")))
    assert toks.columns == ["term", "doc_id", "pos"]
    return {(r["term"], names[r["doc_id"]], r["pos"])
            for r in toks.collect()}


def test_add_conllu_documents_layers_equal_rebuild(spark, tmp_path):
    """Merging positions-only layer postings (decode without ``dl``,
    re-encode without impacts) gives the same layer positions as a
    rebuild of the whole corpus, and the merged store keeps the lean
    layout."""
    dirs = {n: tmp_path / n for n in ("base", "delta", "full")}
    for d in dirs.values():
        d.mkdir()
    for name, text in CONLLU.items():
        (dirs["full"] / name).write_text(text)
        (dirs["base" if name == "a.conllu" else "delta"] / name
         ).write_text(text)
    base = tmp_path / "base_idx"
    build_conllu_index(spark, read_conllu(spark, str(dirs["base"])), base,
                       doc_salt=1, n_partitions=2)
    merged = add_conllu_documents(
        spark, base, read_conllu(spark, str(dirs["delta"])),
        tmp_path / "staging", doc_salt=1, n_partitions=2)
    full = tmp_path / "full_idx"
    build_conllu_index(spark, read_conllu(spark, str(dirs["full"])), full,
                       doc_salt=1, n_partitions=2)
    got, want = (_layer_positions(spark, merged),
                 _layer_positions(spark, full))
    # closed-class layers are checked against the forward store: only
    # the lemma layer is posted (one posting per token of the 13), in
    # the merged root as in the rebuild
    assert got == want and len(want) == 13
    assert "lemma:cat" in {t for t, _, _ in want}
    assert {t.split(":")[0] for t, _, _ in got} == {"lemma"}
    assert not set(spark.read.parquet(str(merged / "layers")).columns) \
        & {"dls_vb", "max_tf", "min_dl"}
    assert _stats_set(merged / "layers")["pos_vb"] == {False}
    # layer_stats summed over the merged inputs equals the rebuild's,
    # the closed-class dictionaries included
    ls = {(r["layer"], r["value"], r["df"], r["cf"]) for r in
          spark.read.parquet(str(merged / "layer_stats")).collect()}
    assert ls == {(r["layer"], r["value"], r["df"], r["cf"]) for r in
                  spark.read.parquet(str(full / "layer_stats")).collect()}
    assert {("xpos", "NN"), ("deprel", "nsubj"), ("upos", "NOUN")} <= {
        (layer, v) for layer, v, _, _ in ls}
    m, f = IndexSearcher(spark, merged), IndexSearcher(spark, full)
    assert m.posted_layers == f.posted_layers == {"term", "lemma"}

    def named(s, root, pattern):
        names = {r["doc_id"]: r["doc_name"] for r in
                 spark.read.parquet(str(root / "doc_names")).collect()}
        return {(names[d], a, b) for d, a, b in s.pattern_hits(pattern)}

    for pattern in ('[xpos="NN.*"] [xpos="VB.*"]',
                    '[lemma="cat"] [deprel!="obl"]'):
        got = named(m, merged, pattern)
        assert got == named(f, full, pattern) and got, pattern


def _files(root: Path) -> dict[str, int]:
    """Relative path → mtime_ns of every file under ``root``."""
    return {str(f.relative_to(root)): f.stat().st_mtime_ns
            for f in sorted(root.rglob("*")) if f.is_file()}


def _tokens_left(root: Path) -> list[str]:
    return sorted(f.name for f in (root / "tokens").iterdir())


def _manifest(root: Path, stage: str) -> dict:
    return json.loads((root / stage / "_manifest.json").read_text())


def _decoded(spark, root: Path) -> tuple:
    """What a built root serves: its term postings as token rows, its
    doc lengths and its stats."""
    toks = decode_segments_to_tokens(
        spark.read.parquet(str(root / "segments")))
    return (sorted(tuple(r) for r in toks.collect()),
            sorted(tuple(r) for r in
                   spark.read.parquet(str(root / "doc_lens")).collect()),
            json.loads((root / STATS_FILE).read_text()))


def test_tokens_released_after_build(index_small, conllu_root):
    """After build_index and build_conllu_index, the tokens stage
    holds only its manifest, still marked complete."""
    root, _ = conllu_root
    for r in (index_small, root):
        assert _tokens_left(r) == ["_manifest.json"], r
        assert _manifest(r, "tokens")["status"] == "complete"


def test_conllu_rerun_is_a_no_op(spark, conllu_root):
    """A second build_conllu_index over a complete root rewrites
    nothing: doc_names and forward_layers have manifests too."""
    root, parsed = conllu_root
    before = _files(root)
    stamps = {s: _manifest(root, s)["committed_at"]
              for s in ("doc_names", "lexicon", "forward_layers", "tokens")}
    build_conllu_index(spark, parsed, root, doc_salt=1, n_partitions=2)
    assert _files(root) == before
    assert {s: _manifest(root, s)["committed_at"] for s in stamps} == stamps


def test_interrupted_build_resumes_from_committed_tokens(
        spark, docs_small, tmp_path, monkeypatch):
    """A build whose segments stage fails keeps its tokens files; the
    re-run reuses them (the tokens manifest is not re-committed),
    releases them at the end and serves what a clean build serves."""
    pages = docs_small.filter("doc_id < 120").select("doc_id", "text")
    kw = dict(doc_salt=2, n_partitions=4)
    clean = tmp_path / "clean"
    build_index(spark, pages, clean, **kw)

    def fail(*a, **k):
        raise RuntimeError("segments interrupted")

    root = tmp_path / "resumed"
    with monkeypatch.context() as m:
        m.setattr(build, "encode_postings", fail)
        with pytest.raises(RuntimeError, match="segments interrupted"):
            build_index(spark, pages, root, **kw)
    assert any((root / "tokens").glob("part-*"))
    assert not (root / "segments" / "_manifest.json").exists()
    stamp = _manifest(root, "tokens")["committed_at"]
    build_index(spark, pages, root, **kw)
    assert _manifest(root, "tokens")["committed_at"] == stamp
    assert _tokens_left(root) == ["_manifest.json"]
    assert _decoded(spark, root) == _decoded(spark, clean)


def test_removed_segments_regenerate_tokens(spark, docs_small, tmp_path):
    """Removing segments from a complete root and re-running re-runs
    the tokens stage, rebuilds segments and serves the same results."""
    pages = docs_small.filter("doc_id < 120").select("doc_id", "text")
    root = tmp_path / "idx"
    build_index(spark, pages, root, doc_salt=2, n_partitions=4)
    queries = (["spark", "join"], ["data"], ["table", "scan", "query"])
    want = [IndexSearcher(spark, root).search(q, k=10)[0] for q in queries]
    assert all(want)
    served = _decoded(spark, root)
    stamp = _manifest(root, "tokens")["committed_at"]
    shutil.rmtree(root / "segments")
    build_index(spark, pages, root, doc_salt=2, n_partitions=4)
    assert _manifest(root, "tokens")["committed_at"] > stamp
    assert _tokens_left(root) == ["_manifest.json"]
    assert _decoded(spark, root) == served
    assert [IndexSearcher(spark, root).search(q, k=10)[0]
            for q in queries] == want
