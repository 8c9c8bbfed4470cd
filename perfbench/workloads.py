"""The benchmark's workloads.  Each drives the library from one closed-loop
client (one request in flight, k = 10) and checks sampled results
against an independent path after the timer stops.

A workload function takes a `Ctx`, does its set-up through
`Ctx.setup_input` / `Ctx.setup_build` (timed as set-up), runs its timed
loop through `Ctx.op`, then calls `Ctx.check` on sampled results.
"""

from __future__ import annotations

import gc
import math
import random
import statistics
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

import corpus
from spans import Tracer, dir_bytes

K = 10
SETUP_REPS = 2  # set-up runs per process; setup_s takes their median
WARM_PROBES = 40  # untimed ingest probes that warm the JVM's query path
INGEST_LOG_OPS = 3000  # more than any run gets through: each op runs once


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    scale: float
    work: Path
    tracer: Tracer | None
    # every timed latency, in seconds, by op kind
    lat: dict = field(default_factory=lambda: defaultdict(list))
    loop_s: float = 0.0  # wall time of the timed loop
    attempted: int = 0
    failed: int = 0
    input_gen_s: list = field(default_factory=list)
    base_build_s: list = field(default_factory=list)
    index_docs_per_s: list = field(default_factory=list)
    index_bytes_per_text_byte: float = 0.0
    detail: dict = field(default_factory=dict)
    last_loop: tuple | None = None  # (log, do, n_ops) for the replay
    phase_s: dict = field(default_factory=dict)
    _phase: str = "setup"
    _phase_t0: float = field(default_factory=time.perf_counter)
    _seq: int = 0

    def n(self, full: int) -> int:
        return max(50, int(full * self.scale))

    def fresh_dir(self, stem: str) -> Path:
        self._seq += 1
        return self.work / f"{stem}{self._seq}"

    def phase(self, name: str) -> None:
        """Tag what follows (setup/warm/timed/check) and time each phase."""
        now = time.perf_counter()
        self.phase_s[self._phase] = (self.phase_s.get(self._phase, 0.0)
                                     + now - self._phase_t0)
        self._phase, self._phase_t0 = name, now
        if self.tracer:
            self.tracer.phase = name

    def note(self, name: str, info: dict) -> None:
        if self.tracer:
            self.tracer.record(name, time.time(), 0.0, info)

    # -- set-up ----------------------------------------------------------
    def setup_input(self, fn):
        t = time.perf_counter()
        out = fn()
        self.input_gen_s.append(time.perf_counter() - t)
        return out

    def setup_build(self, fn, n_docs: int):
        t = time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t
        self.base_build_s.append(dt)
        self.index_docs_per_s.append(n_docs / dt)
        return out

    # -- closed-loop client ----------------------------------------------
    def op(self, kind: str, fn, *args):
        """One request; the next starts only after this one returns."""
        w0, t0 = time.time(), time.perf_counter()
        try:
            out, ok = fn(*args), True
        except Exception:
            traceback.print_exc(file=sys.stderr)
            out, ok = None, False
        dt = time.perf_counter() - t0
        self.attempted += 1
        if ok:
            self.lat[kind].append(dt)
        else:
            self.failed += 1
        if self.tracer:
            self.tracer.record("op:" + kind, w0, dt)
        return out

    def run_log(self, log, do, seconds: float, one_pass: bool = False
                ) -> dict:
        """Without ``one_pass``: cycle through ``log`` in whole passes
        until ``seconds`` have gone, so every run times the same op mix.
        With it: run the log's ops in order until ``seconds`` have gone
        (at least one op), and at most once each.  Returns the last
        result per log index."""
        results: dict[int, object] = {}
        i = 0
        t0 = time.perf_counter()
        t_end = t0 + seconds
        while True:
            kind, q = log[i % len(log)]
            results[i % len(log)] = self.op(kind, *do(kind, q))
            i += 1
            if (one_pass or i % len(log) == 0) and time.perf_counter() >= t_end:
                break
            if one_pass and i == len(log):
                print(f"WARNING: all {i} ops of the log ran in "
                      f"{time.perf_counter() - t0:.2f} s of {seconds} s; "
                      "lengthen the log", file=sys.stderr)
                break
        self.loop_s = time.perf_counter() - t0
        self.last_loop = (log, do, i)
        return results

    def latencies(self, kinds=None) -> list[float]:
        return [x for kind, xs in self.lat.items()
                if kinds is None or kind in kinds for x in xs]

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED: {what}", file=sys.stderr)


# ------------------------------------------------------------- shared
def _gen_pages(ctx: Ctx, n_total: int, first_id: int = 0) -> Path:
    from pyspark.sql import functions as F

    from word_sketch_lucene_spark.sources.pages import generate_pages

    path = ctx.fresh_dir("pages")
    (generate_pages(ctx.spark, n_total, seed=ctx.seed)
     .filter(F.col("doc_id") >= first_id)
     .select("doc_id", "text", "lang")
     .write.parquet(str(path)))
    return path


def _texts(ctx: Ctx, paths: list[Path]) -> dict[int, str]:
    df = ctx.spark.read.parquet(*[str(p) for p in paths])
    return dict(df.select("doc_id", "text").toPandas().itertuples(index=False))


def _build_pages(ctx: Ctx, pages_path: Path) -> Path:
    from word_sketch_lucene_spark.index.build import build_index

    root = ctx.fresh_dir("index")
    build_index(ctx.spark, ctx.spark.read.parquet(str(pages_path)), root)
    return root


def _check_build(ctx: Ctx, stats: dict, doc_tokens: dict) -> None:
    ctx.check(stats["n_docs"] == len(doc_tokens),
              f"n_docs {stats['n_docs']} != {len(doc_tokens)}")
    want = sum(len(t) for t in doc_tokens.values())
    ctx.check(stats["total_tokens"] == want,
              f"total_tokens {stats['total_tokens']} != {want}")


def _check_bm25(ctx: Ctx, pages_df, terms, got) -> None:
    """Rank- and score-identical at 4 dp to the DataFrame BM25 path; docs
    whose scores tie at 4 dp may come in either order."""
    from word_sketch_lucene_spark.query.engine import bm25_topk_df

    want = [(r["doc_id"], round(r["score"], 4)) for r in
            bm25_topk_df(pages_df, terms, k=K + 50).collect()]
    by_doc = dict(want)
    hits = [(d, round(s, 4)) for d, s in (got or ([], {}))[0]]
    ok = ([s for _, s in hits] == [s for _, s in want[:K]]
          and all(by_doc.get(d) == s for d, s in hits))
    ctx.check(ok, f"bm25 {terms}: {hits[:3]} != {want[:3]}")


def _check_phrase(ctx: Ctx, doc_tokens, terms, got) -> None:
    want = corpus.phrase_scan(doc_tokens, terms)
    ctx.check([(d, list(p)) for d, p in (got or [])] == want,
              f"phrase {terms}")


def _same_sketch(got, want) -> bool:
    """Row-identical sketches: relation, collocate and pair count exact,
    4-dp scores within one unit in the last place, since the in-memory
    path rounds exact halves to even and Spark's ``round`` rounds them
    up (0.03125 -> 0.0312 vs 0.0313)."""
    return len(got) == len(want) and all(
        tuple(g[:3]) == tuple(w[:3])
        and all(abs(a - b) < 1.5e-4 for a, b in zip(g[3:], w[3:]))
        for g, w in zip(got, want))


def _sample(rng: random.Random, items, k: int):
    items = list(items)
    return rng.sample(items, min(k, len(items)))


def _call(do, kind, q):
    fn, arg = do(kind, q)
    return fn(arg)


def _term_ops(searcher):
    def do(kind, q):
        if kind == "phrase":
            return searcher.phrase_hits, q
        return (lambda t: searcher.search(t, k=K)), q
    return do


def _collect_garbage(ctx: Ctx) -> None:
    """Full GC in Python and the JVM before a timed loop, so garbage from
    the builds before it is not collected inside the loop."""
    gc.collect()
    ctx.spark._jvm.System.gc()


def pct(xs: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def _finish_detail(ctx: Ctx, kinds) -> None:
    for kind in kinds:
        xs = ctx.latencies([kind])
        if xs:
            ctx.detail[f"{kind}_p50_ms"] = (1e3 * statistics.median(xs), "ms")
            ctx.detail[f"{kind}_p95_ms"] = (1e3 * pct(xs, 0.95), "ms")
            ctx.detail[f"{kind}_ops"] = (len(xs), "count")


# --------------------------------------------------------------- ingest
def ingest(ctx: Ctx) -> None:
    """Base index, then one add_documents cycle; then probes on a fresh
    searcher over the merged root: the new docs' rare<id> terms, and a
    Zipf tail over the whole dictionary with zero-hit terms."""
    from pyspark.sql import functions as F

    from word_sketch_lucene_spark.index.merge import add_documents
    from word_sketch_lucene_spark.query.engine import IndexSearcher

    n_base, n_delta = ctx.n(600), ctx.n(150)
    roots = []
    for _ in range(SETUP_REPS):
        base = ctx.setup_input(lambda: _gen_pages(ctx, n_base))
        roots.append(ctx.setup_build(lambda: _build_pages(ctx, base), n_base))
    root = roots[-1]
    delta = _gen_pages(ctx, n_base + n_delta, first_id=n_base)
    ctx.phase("check")
    texts = _texts(ctx, [base, delta])
    doc_tokens = {d: corpus.scan_tokens(t) for d, t in texts.items()}
    terms = [r["term"] for r in ctx.spark.read.parquet(str(root / "term_stats"))
             .orderBy(F.desc("cf"), "term").select("term").collect()]
    # one pass over the timed log, then the warm-up ops after it
    log = corpus.term_query_log(terms, INGEST_LOG_OPS + WARM_PROBES,
                                phrase_share=0.25, zero_hit_share=0.05)
    log, warm_log = log[:INGEST_LOG_OPS], log[INGEST_LOG_OPS:]
    new_ids = range(n_base, n_base + n_delta)
    ctx.note("delta_text", {"bytes": sum(
        len(texts[d].encode()) for d in new_ids)})

    ctx.phase("timed")
    t0 = time.perf_counter()
    root = add_documents(ctx.spark, root, ctx.spark.read.parquet(str(delta)),
                         ctx.fresh_dir("stage"))
    s = IndexSearcher(ctx.spark, root)
    s.prefetch([f"rare{d}" for d in new_ids])
    rare_hits = [(d, s.search([f"rare{d}"], k=K)) for d in new_ids]
    # delta docs made searchable per second, until the probes find them
    ctx.index_docs_per_s = [n_delta / (time.perf_counter() - t0)]

    # JIT-warm the cold-probe path on the other base copy, with ops the
    # timed loop never runs (the timed searcher's caches stay cold), then
    # collect the merge's garbage: neither lands in the probe loop
    ctx.phase("warm")
    do = _term_ops(IndexSearcher(ctx.spark, roots[0]))
    for kind, q in warm_log:
        _call(do, kind, q)
    _collect_garbage(ctx)

    ctx.phase("timed")
    results = ctx.run_log(log, _term_ops(s), ctx.seconds, one_pass=True)

    ctx.phase("check")
    ctx.index_bytes_per_text_byte = dir_bytes(root) / sum(
        len(t.encode()) for t in texts.values())
    _check_build(ctx, s.stats, doc_tokens)
    for d, (hits, _) in rare_hits:
        ctx.check(bool(hits) and hits[0][0] == d, f"rare{d} not at rank 1")
    pages_df = ctx.spark.read.parquet(str(base), str(delta))
    prng = random.Random(ctx.seed)
    for j in _sample(prng, [j for j in results if log[j][0] == "bm25"], 4):
        _check_bm25(ctx, pages_df, log[j][1], results[j])
    for j in _sample(prng, [j for j in results if log[j][0] == "phrase"], 6):
        _check_phrase(ctx, doc_tokens, log[j][1], results[j])
    _finish_detail(ctx, ["bm25", "phrase"])
    ctx.detail.update(
        ingest_docs_per_s=(ctx.index_docs_per_s[0], "docs/s"),
        n_docs=(n_base + n_delta, "docs"), delta_docs=(n_delta, "docs"),
        query_log_ops=(len(log), "ops"))


# --------------------------------------------------------------- sketch
CQL_TEMPLATES = [
    '[word="the"] [lemma="{n}"]',
    '[lemma="{a}"] [lemma="{n}"]',
    '[xpos="JJ"] [lemma="{n}"]',
    '[lemma="{v}"] []{{0,3}} [lemma="{n}"]',
    '[lemma="{n}"] [xpos="VB"] []{{0,1}} [lemma="{n2}"]',
    '[lemma="{v}"] [deprel="obj"]',
]
HEAD_POS = {"noun": "NOUN", "verb": "VERB", "adj": "ADJ"}
SKETCH_LOG_OPS = 30
SKETCH_LAYERS = ("lemma", "xpos", "deprel")  # what the catalog and CQL query


def sketch(ctx: Ctx) -> None:
    """Word sketches (EN catalog) and index-side CQL on a CoNLL-U index
    built by the library's own annotate → CoNLL-U → parse pipeline."""
    from pyspark.sql import functions as F

    from word_sketch_lucene_spark.functions.tokenize import explode_tokens
    from word_sketch_lucene_spark.index.build import build_conllu_index
    from word_sketch_lucene_spark.operators.dependency import rule_annotate
    from word_sketch_lucene_spark.plans.relations import (
        EN_CATALOG,
        WORD_CLASSES,
        GrammarCatalog,
    )
    from word_sketch_lucene_spark.query import sketch as sk
    from word_sketch_lucene_spark.query.engine import IndexSearcher
    from word_sketch_lucene_spark.sources.conllu import (
        parse_conllu_docs,
        to_conllu_text,
    )

    n = ctx.n(600)

    def make_input():
        import pandas as pd

        texts = corpus.documents(ctx.seed, n, list(WORD_CLASSES))
        docs = ctx.spark.createDataFrame(
            pd.DataFrame({"doc_id": range(n), "text": texts}))
        parsed = parse_conllu_docs(to_conllu_text(
            rule_annotate(explode_tokens(docs)))).localCheckpoint()
        return texts, parsed

    def build(parsed):
        root = ctx.fresh_dir("conllu")
        build_conllu_index(ctx.spark, parsed, root, layers=SKETCH_LAYERS)
        return root

    for _ in range(SETUP_REPS):
        texts, parsed = ctx.setup_input(make_input)
        root = ctx.setup_build(lambda: build(parsed), n)
    ctx.phase("check")
    ctx.index_bytes_per_text_byte = dir_bytes(root) / sum(
        len(t.encode()) for t in texts)

    ctx.phase("warm")
    s = IndexSearcher(ctx.spark, root)
    _check_build(ctx, s.stats,
                 {i: corpus.scan_tokens(t) for i, t in enumerate(texts)})
    cat = GrammarCatalog.load(EN_CATALOG)
    lemmas: dict[str, list[str]] = {c: [] for c in HEAD_POS}
    for r in (s.layer_stats.filter(F.col("layer") == "lemma")
              .orderBy(F.desc("cf"), "value").collect()):
        cls = WORD_CLASSES.get(r["value"], "X").lower()
        if cls in lemmas:
            lemmas[cls].append(r["value"])
    # 6 sketches + 24 CQL: a working set inside the searcher caches
    log = corpus.sketch_query_log(np.random.default_rng([ctx.seed, 3]),
                                  SKETCH_LOG_OPS, lemmas, CQL_TEMPLATES)

    def do(kind, q):
        if kind == "sketch":
            return (lambda h: sk.index_word_sketch(
                s, h[0], cat, head_pos=HEAD_POS[h[1]], limit_per_relation=10,
                round_dp=4)), q
        return s.pattern_hits, q

    for kind, q in log:
        _call(do, kind, q)
    _collect_garbage(ctx)

    ctx.phase("timed")
    results = ctx.run_log(log, do, ctx.seconds)

    ctx.phase("check")
    prng = random.Random(ctx.seed)
    idx = list(results)
    for i in _sample(prng, [i for i in idx if log[i][0] == "sketch"], 1):
        head, cls = log[i][1]
        want = sorted(
            (r["relation"], r["colloc_term"], r["pair_freq"], r["logdice"],
             r["rel_freq"])
            for r in sk.index_word_sketch_distributed(
                s, head, cat, head_pos=HEAD_POS[cls], limit_per_relation=10,
                round_dp=4).collect())
        ctx.check(_same_sketch(sorted(results[i] or []), want),
                  f"sketch {head}/{cls}")
    for i in _sample(prng, [i for i in idx if log[i][0] == "cql"], 2):
        want = sorted(tuple(r) for r in
                      s.pattern_spans_df(log[i][1], df_budget=-1).collect())
        ctx.check(sorted(map(tuple, results[i] or [])) == want,
                  f"cql {log[i][1]}")
    _finish_detail(ctx, ["sketch", "cql"])
    ctx.detail.update(n_docs=(n, "docs"), query_log_ops=(len(log), "ops"),
                      relations=(len(cat.relations), "count"))


WORKLOADS = {"ingest": ingest, "sketch": sketch}
