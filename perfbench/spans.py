"""Traced runs: spans around the library's public functions, Spark counters.

Spans are recorded from outside the library: `Tracer.install` swaps each
traced public function (and `IndexSearcher` method) for a timing
wrapper in every loaded module that holds it, and `uninstall` restores
them.  Spans stay in memory until the run ends.  Spark counters come
from the driver's status REST API (``SPARK_UI=true``) and are attributed
to a layer by the span whose interval contains the job or stage
submission time (one closed-loop client, so intervals do not overlap
across requests).
"""

from __future__ import annotations

import functools
import importlib
import json
import statistics
import sys
import time
import urllib.request
from datetime import datetime, timezone
from pathlib import Path

PKG = "word_sketch_lucene_spark"
# (module, function) pairs traced by identity wherever they are imported
FUNCTIONS = [
    ("index.build", "build_index"),
    ("index.merge", "merge_indexes"),
    ("index.merge", "add_documents"),
    ("query.wand", "block_max_wand"),
    ("query.wand", "topk_from_arrays"),
    ("query.sketch", "index_word_sketch"),
    ("plans.cql", "parse_cql"),
    ("plans.cql", "compile_cql"),
]
SEARCHER_METHODS = ["search", "prefetch", "term_dfs", "phrase_hits",
                    "pattern_hits", "pattern_matches"]
BUILD_STAGES = ["tokens", "segments", "doc_lens", "term_stats", "docstore",
                "doc_meta"]
POSITION_SPANS = ("phrase_hits", "pattern_hits", "pattern_matches")

# every per-layer metric a traced run reports, with its unit
LAYER_UNITS = {
    # end-to-end timings, unbounded: see README.md
    "op_p50_ms": "ms",
    "op_p90_ms": "ms",
    "ops_per_s": "1/s",
    "index_docs_per_s": "docs/s",
    **{f"index.build.{s}_s": "s" for s in BUILD_STAGES},
    "index.build.tokens_bytes": "bytes",
    "index.build.shuffle_write_bytes": "bytes",
    "index.build.spill_bytes": "bytes",
    "index.segments.postings": "count",
    "index.segments.blocks": "count",
    "index.segments.bytes_per_posting": "bytes",
    "index.segments.partition_skew": "ratio",
    "index.merge.delta_build_s": "s",
    "index.merge.merge_s": "s",
    "index.merge.write_amp": "ratio",
    "query.engine.prefetch_s": "s",
    "query.engine.prefetch_calls": "count",
    "query.engine.term_dfs_s": "s",
    "query.engine.block_rows_fetched": "count",
    "query.engine.spark_jobs_per_query": "count",
    "query.engine.positions_fetch_jobs": "count",
    "query.engine.phrase_ms": "ms",
    "query.engine.pattern_matches_ms": "ms",
    "query.engine.pattern_hits_ms": "ms",
    "query.wand.kernel_ms": "ms",
    "query.wand.bmw_share": "ratio",
    "query.wand.block_decode_ratio": "ratio",
    "query.sketch.relations_per_sketch": "count",
    "plans.cql.compile_ms": "ms",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "driver.python_rss_mb": "MB",
    "driver.jvm_rss_mb": "MB",
    "session.start_s": "s",
    "setup.input_gen_s": "s",
    "setup.base_build_s": "s",
    "trace.overhead_ratio": "ratio",
    "failed_ratio": "ratio",
}


def dir_bytes(path: str | Path) -> int:
    p = Path(path)
    return sum(f.stat().st_size for f in p.rglob("*") if f.is_file()) \
        if p.exists() else 0


def _info_for(name: str, args, kwargs, result, pre):
    """Per-call facts the metrics need, taken from arguments/results."""
    if name in ("build_index", "merge_indexes"):
        root = kwargs.get("out_dir", kwargs.get("out_root"))
        return {"root": str(root if root is not None else args[2])}
    if name == "add_documents":
        staging = kwargs.get("staging_root", args[3] if len(args) > 3 else None)
        return {"staging": str(staging)}
    if name == "search" and isinstance(result, tuple) and len(result) == 2:
        return result[1]
    if name == "prefetch" and pre is not None:
        searcher, missing = pre
        cache = getattr(searcher, "_block_cache", {})
        return {"fetched_terms": len(missing),
                "rows": sum(len(cache.get(t, ())) for t in missing)}
    if name == "index_word_sketch" and result is not None:
        return {"relations": len({r[0] for r in result})}
    return None


def _pre_for(name: str, args):
    if name == "prefetch" and len(args) >= 2:
        searcher, terms = args[0], args[1]
        cache = getattr(searcher, "_block_cache", None)
        if cache is not None:
            return searcher, {t for t in terms if t not in cache}
    return None


class Tracer:
    """In-memory span recorder; `phase` tags spans (setup/timed/check)."""

    def __init__(self):
        self.spans: list[tuple[str, float, float, str, dict | None]] = []
        self.phase = "setup"
        self._undo: list[tuple[object, str, object]] = []

    def record(self, name: str, t0: float, dur: float,
               info: dict | None = None) -> None:
        self.spans.append((name, t0, dur, self.phase, info))

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            pre = _pre_for(name, args)
            t0, p0 = time.time(), time.perf_counter()
            result = None
            try:
                result = fn(*args, **kwargs)
                return result
            finally:
                tracer.spans.append(
                    (name, t0, time.perf_counter() - p0, tracer.phase,
                     _info_for(name, args, kwargs, result, pre)))
        return traced

    def install(self) -> None:
        from word_sketch_lucene_spark.query.engine import IndexSearcher

        targets = [(importlib.import_module(f"{PKG}.{m}"), f)
                   for m, f in FUNCTIONS]
        mods = [m for n, m in list(sys.modules.items())
                if m is not None and (n == PKG or n.startswith(PKG + "."))]
        for mod, fname in targets:
            orig = getattr(mod, fname)
            wrapped = self._wrap(fname, orig)
            for m in mods:
                for attr, val in list(vars(m).items()):
                    if val is orig:
                        self._undo.append((m, attr, orig))
                        setattr(m, attr, wrapped)
        for meth in SEARCHER_METHODS:
            orig = IndexSearcher.__dict__[meth]
            self._undo.append((IndexSearcher, meth, orig))
            setattr(IndexSearcher, meth, self._wrap(meth, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -- span queries ----------------------------------------------------
    def of(self, name: str, phase: str | None = None):
        return [s for s in self.spans
                if s[0] == name and (phase is None or s[3] == phase)]

    def dump(self, path: Path) -> None:
        with path.open("w") as f:
            for name, t0, dur, phase, info in self.spans:
                f.write(json.dumps({"name": name, "t0": t0, "dur": dur,
                                    "phase": phase, "info": info}) + "\n")


# ------------------------------------------------------------ Spark REST
def _epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    return datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f") \
        .replace(tzinfo=timezone.utc).timestamp()


def spark_status(spark, settle_s: float = 1.0) -> dict:
    """Jobs, stages and executors from the status REST API (trace runs
    start the UI on 127.0.0.1).  Waits for running jobs to drain and the
    listener bus to settle first."""
    sc = spark.sparkContext
    deadline = time.time() + 30
    while sc.statusTracker().getActiveJobsIds() and time.time() < deadline:
        time.sleep(0.1)
    time.sleep(settle_s)
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(path: str):
        with urllib.request.urlopen(base + path, timeout=30) as r:
            return json.loads(r.read())

    jobs = [{"id": j["jobId"], "t": _epoch(j.get("submissionTime"))}
            for j in get("/jobs")]
    stages = [{**s, "t": _epoch(s.get("submissionTime"))}
              for s in get("/stages")]
    return {"jobs": jobs, "stages": stages,
            "executors": get("/allexecutors")}


def _within(t: float | None, spans) -> bool:
    return t is not None and any(s[1] <= t <= s[1] + s[2] for s in spans)


def _mean(xs) -> float:
    return statistics.fmean(xs) if xs else 0.0


def _manifest(root: str, stage: str) -> dict | None:
    p = Path(root) / stage / "_manifest.json"
    return json.loads(p.read_text()) if p.exists() else None


def layer_metrics(tr: Tracer, status: dict | None, n_ops: int) -> dict:
    """Per-layer numbers of one traced run (see README.md for the map
    from each to the end-to-end metric it should move)."""
    m: dict[str, float] = {}
    adds = tr.of("add_documents")
    builds = tr.of("build_index")
    delta_builds = [b for b in builds if _within(b[1], adds)]

    # build stages: manifest commit times of every build_index call
    stage_s = {s: 0.0 for s in BUILD_STAGES}
    postings = blocks = seg_bytes = tok_bytes = 0
    skew = 0.0
    for name, t0, dur, phase, info in builds:
        root = info["root"]
        man = {s: _manifest(root, s) for s in BUILD_STAGES}
        c = {s: man[s]["committed_at"] for s in BUILD_STAGES if man[s]}
        if "tokens" not in c:
            continue
        stage_s["tokens"] += c["tokens"] - t0
        for s, after in (("segments", "tokens"), ("doc_lens", "tokens"),
                         ("term_stats", "segments"),
                         ("docstore", "tokens"), ("doc_meta", "tokens")):
            if s in c and after in c:
                stage_s[s] += c[s] - c[after]
        sm = (man["segments"] or {}).get("metrics", {})
        postings += sm.get("n_postings", 0)
        blocks += sm.get("n_blocks", 0)
        if sm.get("median_partition_postings"):
            skew = max(skew, sm["max_partition_postings"]
                       / sm["median_partition_postings"])
        seg_bytes += dir_bytes(Path(root) / "segments")
        tok_bytes += dir_bytes(Path(root) / "tokens")
    for s in BUILD_STAGES:
        m[f"index.build.{s}_s"] = stage_s[s]
    m["index.build.tokens_bytes"] = tok_bytes
    m["index.segments.postings"] = postings
    m["index.segments.blocks"] = blocks
    m["index.segments.bytes_per_posting"] = seg_bytes / postings if postings else 0.0
    m["index.segments.partition_skew"] = skew

    # merge: delta builds inside add_documents, merge wall, bytes written
    m["index.merge.delta_build_s"] = sum(b[2] for b in delta_builds)
    m["index.merge.merge_s"] = sum(s[2] for s in tr.of("merge_indexes"))
    written = sum(dir_bytes(Path(a[4]["staging"]) / d)
                  for a in adds for d in ("delta", "merged"))
    delta_text = sum(s[4]["bytes"] for s in tr.of("delta_text"))
    m["index.merge.write_amp"] = written / delta_text if delta_text else 0.0

    # query layers, timed window only
    searches = tr.of("search", "timed")
    pref = tr.of("prefetch", "timed")
    m["query.engine.prefetch_s"] = sum(s[2] for s in pref)
    m["query.engine.prefetch_calls"] = sum(
        1 for s in pref if s[4] and s[4]["fetched_terms"])
    m["query.engine.block_rows_fetched"] = sum(
        s[4]["rows"] for s in pref if s[4])
    m["query.engine.term_dfs_s"] = sum(s[2] for s in tr.of("term_dfs", "timed"))
    kernel = tr.of("block_max_wand", "timed") + tr.of("topk_from_arrays", "timed")
    m["query.wand.kernel_ms"] = (1e3 * sum(s[2] for s in kernel) / len(searches)
                                 if searches else 0.0)
    m["query.wand.bmw_share"] = (len(tr.of("block_max_wand", "timed"))
                                 / len(searches) if searches else 0.0)
    dec = sum(s[4].get("decoded_blocks", 0) for s in searches if s[4])
    tot = sum(s[4].get("total_blocks", 0) for s in searches if s[4])
    m["query.wand.block_decode_ratio"] = dec / tot if tot else 0.0
    m["query.engine.phrase_ms"] = 1e3 * _mean(
        [s[2] for s in tr.of("phrase_hits", "timed")])
    m["query.sketch.relations_per_sketch"] = _mean(
        [s[4]["relations"] for s in tr.of("index_word_sketch", "timed") if s[4]])
    m["query.engine.pattern_matches_ms"] = 1e3 * _mean(
        [s[2] for s in tr.of("pattern_matches", "timed")])
    m["query.engine.pattern_hits_ms"] = 1e3 * _mean(
        [s[2] for s in tr.of("pattern_hits", "timed")])
    m["plans.cql.compile_ms"] = 1e3 * _mean(
        [s[2] for s in tr.of("parse_cql", "timed") + tr.of("compile_cql", "timed")])

    # Spark counters (REST)
    jobs = status["jobs"] if status else []
    stages = status["stages"] if status else []
    ops = [s for s in tr.spans if s[0].startswith("op:") and s[3] == "timed"]
    m["query.engine.spark_jobs_per_query"] = (
        sum(1 for j in jobs if _within(j["t"], ops)) / n_ops if n_ops else 0.0)
    pos_spans = [s for n in POSITION_SPANS for s in tr.of(n, "timed")]
    m["query.engine.positions_fetch_jobs"] = sum(
        1 for j in jobs if _within(j["t"], pos_spans))
    in_build = [s for s in stages if _within(s["t"], builds)]
    m["index.build.shuffle_write_bytes"] = sum(
        s.get("shuffleWriteBytes", 0) for s in in_build)
    m["index.build.spill_bytes"] = sum(
        s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
        for s in in_build)
    m["spark.tasks"] = sum(s.get("numTasks", 0) for s in stages)
    m["spark.failed_tasks"] = sum(s.get("numFailedTasks", 0) for s in stages)
    m["spark.executor_cpu_s"] = sum(
        s.get("executorCpuTime", 0) for s in stages) / 1e9
    m["spark.jvm_gc_s"] = sum(
        e.get("totalGCTime", 0) for e in (status or {}).get("executors", [])) / 1e3
    return m
