"""Sketch-Engine grammar (``.wsdef``) loader → relation catalog.

The reference ships its grammars in TWO formats: the JSON catalog its
Java engine loads (``/root/reference/grammars/relations.json``) and
the original Sketch-Engine word-sketch-definition files it was ported
from (``/root/reference/grammars/penn_3.1_en.txt``,
``IPI_PAN_1.1_pl.txt``, ``freeling_1.6_fr.txt`` — the public SkE
grammar format). This module parses the wsdef dialect those files use
and compiles it into the same :class:`~.relations.GrammarCatalog` the
JSON loader produces, so a user's existing grammar files run on this
engine unchanged.

Supported constructs (everything the shipped English grammar uses):

- ``*DEFAULTATTR tag`` — bare quoted tokens (``"N.*[^Z]"``) test this
  attribute (regex), translated to ``[tag="N.*[^Z]"]``.
- ``*STRUCTLIMIT s`` — matches may not cross sentence boundaries;
  surfaced as ``catalog_structlimit`` (callers pass
  ``within_sentence=True``).
- ``=display name`` — relation section; ``*DUAL`` sections carry
  ``nameA/nameB`` and yield TWO directed relations (direction B swaps
  the ``1:``/``2:`` labels, including in constraints).
- ``*SYMMETRIC`` — both directions under the same display name; the
  mirrored direction gets an ``__sym`` id suffix.
- ``*UNIMAP id[/id_b]`` — stable relation ids.
- ``*UNARY`` — single-slot relations (no collocate); skipped by
  default (``skip_unary=False`` keeps them, flagged
  ``extra={'unary': True}``, for count-style consumers).
- ``*TRINARY`` — patterns with a ``3:`` slot; loaded as-is (the extra
  label is captured, head/collocate stay 1/2).
- Pattern lines (indented): labels, bracketed tests with ``&``/``!=``
  and top-level ``|`` (cross-attr disjunction), quantifiers
  ``{m,n}``/``?`` (→ ``{0,1}``), and trailing inter-slot constraints
  ``& 1.tag = 2.tag`` — all constructs the :mod:`.cql` compiler
  executes natively.
- Multiple pattern lines per relation share one relation id — the
  sketch fan-out's single count-distinct aggregate unions them, the
  Sketch-Engine gramrel semantics.
- Display directives (``*FIXORDER``, ``*WSPOSLIST``,
  ``*SEPARATEPAGE``, ``*COLLOC``) are recognized and ignored.
"""

from __future__ import annotations

import re
from pathlib import Path

from .relations import GrammarCatalog, RelationConfig

_WTOKEN = re.compile(
    r"""\s*(?:
      (?P<cons>(?:&|::)\s*\w+\s*\.\s*\w+\s*!?=\s*\w+\s*\.\s*\w+)
    | (?P<label>\w+):\s*
      (?:"(?P<lbare>(?:[^"\\]|\\.)*)"|\[(?P<lbody>(?:[^\]"]|"(?:[^"\\]|\\.)*")*)\])
    | "(?P<bare>(?:[^"\\]|\\.)*)"|\[(?P<body>(?:[^\]"]|"(?:[^"\\]|\\.)*")*)\]
    )(?:\{(?P<qmin>\d+),(?P<qmax>\d+)\}|(?P<qopt>\?))?\s*""",
    re.VERBOSE)

_SWAP12 = {"1": "2", "2": "1"}


def _translate_line(line: str, default_attr: str,
                    swap_labels: bool = False) -> str:
    """One wsdef pattern line → the engine's BCQL dialect. With
    ``swap_labels`` the ``1:``/``2:`` roles exchange (the DUAL mirror
    direction), constraints included."""
    out: list[str] = []
    pos = 0
    while pos < len(line):
        if line[pos:].strip() == "":
            break
        m = _WTOKEN.match(line, pos)
        if not m:
            raise ValueError(f"cannot parse wsdef pattern at: "
                             f"{line[pos:]!r}")
        pos = m.end()
        if m.group("cons") is not None:
            cons = m.group("cons")
            if swap_labels:
                cons = re.sub(
                    r"\b([12])\s*\.",
                    lambda g: _SWAP12[g.group(1)] + ".", cons)
            out.append(cons)
            continue
        label = m.group("label")
        bare = m.group("lbare") if label else m.group("bare")
        body = m.group("lbody") if label else m.group("body")
        if label and swap_labels:
            label = _SWAP12.get(label, label)
        tok = (f'[{default_attr}="{bare}"]' if bare is not None
               else f"[{body}]")
        quant = ""
        if m.group("qopt"):
            quant = "{0,1}"
        elif m.group("qmin") is not None:
            quant = f"{{{m.group('qmin')},{m.group('qmax')}}}"
        if label and quant:
            raise ValueError(
                f"quantifier on the labeled slot {label}: in {line!r} — "
                "head/collocate positions must be single tokens")
        out.append((f"{label}:{tok}" if label else tok) + quant)
    if not out:
        raise ValueError("empty wsdef pattern line")
    return " ".join(out)


def _slug(name: str) -> str:
    s = re.sub(r"[^a-z0-9]+", "_", name.lower()).strip("_")
    return s or "relation"


def parse_wsdef(text: str, skip_unary: bool = True) -> GrammarCatalog:
    """Parse wsdef grammar text into a :class:`GrammarCatalog`.

    The returned catalog carries ``catalog_structlimit`` (True when the
    grammar declared ``*STRUCTLIMIT s``). Relations keep Sketch-Engine
    union semantics: one entry per pattern line, sharing the relation
    id — the fan-out's count-distinct aggregate merges them.
    """
    default_attr = "tag"
    structlimit = False
    rels: list[RelationConfig] = []
    skipped_unary: list[str] = []
    # flags precede the `=name` line in wsdef (*DUAL / *UNARY / … then
    # =section); `pend_*` collects them, the `=` line promotes them to
    # the active section
    pend_dual = pend_symmetric = pend_unary = False
    dual = symmetric = unary = False
    emitted_in_section = False
    names: list[str] = []
    ids: list[str] = []

    def _emit(line: str) -> None:
        rid = ids[0] if ids else _slug(names[0] if names else "relation")
        name = names[0] if names else rid
        pattern = _translate_line(line, default_attr)
        if unary:
            # built (and so checked) even when skipped
            rel = RelationConfig(id=rid, name=name, type="SURFACE",
                                 pattern=pattern, extra={"unary": True})
            if skip_unary:
                skipped_unary.append(rid)
            else:
                rels.append(rel)
            return
        rels.append(RelationConfig(
            id=rid, name=name, type="SURFACE", pattern=pattern,
            dual=False, extra={"wsdef": True}))
        if dual or symmetric:
            mirrored = _translate_line(line, default_attr,
                                       swap_labels=True)
            if dual and len(ids) > 1:
                rid2 = ids[1]
            elif dual and len(names) > 1 and not ids:
                rid2 = _slug(names[1])
            else:
                rid2 = f"{rid}__sym"
            name2 = (names[1] if len(names) > 1 else f"{name} (of)")
            rels.append(RelationConfig(
                id=rid2, name=name2, type="SURFACE", pattern=mirrored,
                dual=False, extra={"wsdef": True, "mirror_of": rid}))

    for raw in text.splitlines():
        if not raw.strip() or raw.lstrip().startswith("#"):
            continue
        if raw[0] in " \t":  # pattern line (indented)
            if not names and not ids:
                raise ValueError(f"pattern line outside a relation "
                                 f"section: {raw.strip()!r}")
            _emit(raw.strip())
            emitted_in_section = True
            continue
        line = raw.strip()
        if line.startswith("*DEFAULTATTR"):
            default_attr = line.split(None, 1)[1].strip()
        elif line.startswith("*STRUCTLIMIT"):
            structlimit = True
        elif line.startswith("*DUAL"):
            # flags may precede the `=` line (usual) or follow it
            # inside a not-yet-emitting section (the shipped grammar
            # puts *SYMMETRIC after *UNIMAP)
            if names and not emitted_in_section:
                dual = True
            else:
                pend_dual = True
        elif line.startswith("*SYMMETRIC"):
            if names and not emitted_in_section:
                symmetric = True
            else:
                pend_symmetric = True
        elif line.startswith("*UNARY"):
            if names and not emitted_in_section:
                unary = True
            else:
                pend_unary = True
        elif line.startswith("*UNIMAP"):
            arg = line.split(None, 1)[1].strip()
            ids = ([_slug(p) for p in arg.split("/", 1)] if dual
                   else [_slug(arg)])
        elif line.startswith("*"):
            # display/informational directives: TRINARY (3: loads
            # as-is), FIXORDER, WSPOSLIST, SEPARATEPAGE, COLLOC, …
            pass
        elif line.startswith("="):
            # `=` promotes the pending flags to the new section
            dual, symmetric, unary = pend_dual, pend_symmetric, pend_unary
            pend_dual = pend_symmetric = pend_unary = False
            emitted_in_section = False
            ids = []
            body = line[1:]
            names = [p.strip() for p in body.split("/")] if "/" in body \
                else [body.strip()]
        else:
            raise ValueError(f"unrecognized wsdef line: {line!r}")
    cat = GrammarCatalog(rels)
    cat.catalog_structlimit = structlimit
    cat.skipped_unary = skipped_unary
    return cat


def load_wsdef(path: str | Path, skip_unary: bool = True
               ) -> GrammarCatalog:
    """Load a Sketch-Engine ``.wsdef`` grammar file."""
    return parse_wsdef(Path(path).read_text(encoding="utf-8"),
                       skip_unary=skip_unary)
