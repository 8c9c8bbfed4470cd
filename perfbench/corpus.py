"""Seeded benchmark inputs and the independent checks they are judged by.

Everything here is a pure function of the ``--seed`` argument: the same
seed gives byte-identical pages, documents and op logs.  The oracles
(`scan_tokens`, `phrase_scan`) re-tokenize stored text with their own
rule instead of calling the library's tokenizer, so they stay an
independent path.
"""

from __future__ import annotations

import re

import numpy as np

_TOKEN_RE = re.compile(r"[a-z0-9]+")


def scan_tokens(text: str) -> list[str]:
    """Lower-case alphanumeric runs: the index's documented token rule."""
    return _TOKEN_RE.findall(text.lower())


def phrase_scan(doc_tokens: dict[int, list[str]], phrase: list[str]
                ) -> list[tuple[int, list[int]]]:
    """Exact-sequence matches by a linear scan of every stored document."""
    n = len(phrase)
    out = []
    for d in sorted(doc_tokens):
        toks = doc_tokens[d]
        starts = [i for i in range(len(toks) - n + 1)
                  if toks[i:i + n] == phrase]
        if starts:
            out.append((d, starts))
    return out


def zipf_ranks(rng: np.random.Generator, n_items: int, size: int,
               s: float = 1.0, replace: bool = True) -> np.ndarray:
    """``size`` draws of 0-based ranks from a Zipf(s) law over ``n_items``."""
    w = 1.0 / np.power(np.arange(1, n_items + 1, dtype=np.float64), s)
    return rng.choice(n_items, size=size, p=w / w.sum(), replace=replace)


# Op shapes (kind, term ranks, zero-hit slots, log order) come from this
# fixed seed, so every --seed runs the same mix of work and only the
# corpus behind the ranks changes with the seed.
SHAPE_SEED = 0x5EED


def term_query_log(terms: list[str], n_ops: int, phrase_share: float,
                   zero_hit_share: float) -> list[tuple[str, list[str]]]:
    """``(op, terms)`` pairs: ``("bm25", 1-3 terms)`` or ``("phrase", 2
    terms)``, terms Zipf-drawn by rank from ``terms`` (ordered by cf).
    ``phrase_share`` of the ops are phrases, spread evenly through the
    log, so any prefix of it has the same mix."""
    shape = np.random.default_rng(SHAPE_SEED)
    every = round(1 / phrase_share)
    log = []
    for i in range(n_ops):
        kind = "phrase" if i % every == 0 else "bm25"
        k = 2 if kind == "phrase" else int(shape.integers(1, 4))
        q = [terms[j] for j in zipf_ranks(shape, len(terms), k)]
        if kind == "bm25" and shape.random() < zero_hit_share:
            q[-1] = f"zerohit{i}"
        log.append((kind, q))
    return log


# ----------------------------------------------------------- documents
def documents(seed: int, n_docs: int, vocab: list[str],
              n_tokens: tuple[int, int] = (8, 100)) -> list[str]:
    """Seeded texts in the shape of the repository's test documents: each
    a run of words drawn uniformly from ``vocab``.  Every word has about
    the same frequency, so a sketch head or pattern lemma costs about the
    same whichever word a seed ranks first."""
    rng = np.random.default_rng([seed, 0xD0C])
    words = np.array(sorted(vocab), dtype=object)
    return [" ".join(words[rng.integers(0, len(words), int(n))])
            for n in rng.integers(*n_tokens, size=n_docs)]


SKETCH_TOP = 40  # sketch heads and CQL lemmas: a class's 40 commonest lemmas


def sketch_query_log(order_rng: np.random.Generator, n_ops: int,
                     lemmas: dict[str, list[str]], templates: list[str],
                     sketch_every: int = 5) -> list[tuple[str, object]]:
    """``("sketch", (head, class))`` and ``("cql", pattern)`` ops, one in
    ``sketch_every`` a sketch.  ``lemmas`` maps ``noun``/``verb``/``adj``
    to the index's lemmas of that class, commonest first; heads (distinct
    per class) and pattern lemmas are Zipf-drawn by rank from them, and
    ``order_rng`` orders the log."""
    shape = np.random.default_rng(SHAPE_SEED)
    classes = list(lemmas)
    head_cls = [classes[j % len(classes)]
                for j in range(len(range(0, n_ops, sketch_every)))]
    heads = {c: iter([lemmas[c][r] for r in zipf_ranks(
        shape, min(SKETCH_TOP, len(lemmas[c])), head_cls.count(c),
        replace=False)]) for c in classes}

    def zipf(c: str) -> str:
        top = min(SKETCH_TOP, len(lemmas[c]))
        return lemmas[c][int(zipf_ranks(shape, top, 1)[0])]

    log: list[tuple[str, object]] = []
    for j in range(n_ops):
        if j % sketch_every == 0:
            c = head_cls[j // sketch_every]
            log.append(("sketch", (next(heads[c]), c)))
        else:
            tpl = templates[j % len(templates)]
            log.append(("cql", tpl.format(n=zipf("noun"), n2=zipf("noun"),
                                          v=zipf("verb"), a=zipf("adj"))))
    order_rng.shuffle(log)
    return log
