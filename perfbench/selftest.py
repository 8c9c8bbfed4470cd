#!/usr/bin/env python3
"""Self-test of the benchmark at tiny size (scale 0.125, 75 documents a base index).

    python3 perfbench/selftest.py

For every workload it checks, with tracing off and on, that the run
exits 0, reports ``correct`` with no failures, and prints every metric
named in ``BENCHMARK.json`` (both as a ``name: value unit`` line and in
the final JSON, with the unit declared there).  It then injects a wrong
result - ``IndexSearcher.search`` dropping its top hit - and checks
that the run reports failures.  Takes a few minutes.
"""

from __future__ import annotations

import json
import math
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
TINY = ["--seed", "1", "--seconds", "2", "--scale", "0.125"]


def run(args: list[str]) -> tuple[list[str], dict]:
    p = subprocess.run([sys.executable, *args], cwd=ROOT, text=True,
                       capture_output=True, timeout=600)
    if p.returncode != 0:
        raise RuntimeError(f"{args} exited {p.returncode}:\n{p.stderr[-2000:]}")
    lines = p.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


def check_metrics(lines, result, spec_metrics, label) -> list[str]:
    errs = []
    got = result["metrics"]
    for m in spec_metrics:
        name, unit = m["name"], m["unit"]
        if name not in got:
            errs.append(f"{label}: {name} missing from JSON")
            continue
        if got[name]["unit"] != unit:
            errs.append(f"{label}: {name} unit {got[name]['unit']} != {unit}")
        if not math.isfinite(got[name]["value"]):
            errs.append(f"{label}: {name} is not finite")
        if not any(ln.startswith(f"{name}: ") and ln.endswith(f" {unit}")
                   for ln in lines):
            errs.append(f"{label}: no '{name}: <value> {unit}' line")
    extra = set(got) - {m["name"] for m in spec_metrics}
    if extra:
        errs.append(f"{label}: unexpected metrics {sorted(extra)}")
    if not result["correct"] or result["failed"]:
        errs.append(f"{label}: correct={result['correct']} "
                    f"failed={result['failed']}")
    return errs


def faulty_child(argv: list[str]) -> int:
    """Run one workload with a search that drops its top hit."""
    sys.path.insert(0, str(ROOT))
    from word_sketch_lucene_spark.query.engine import IndexSearcher

    import run as bench

    search = IndexSearcher.search

    def drop_top_hit(self, *args, **kwargs):
        hits, stats = search(self, *args, **kwargs)
        return hits[1:], stats

    IndexSearcher.search = drop_top_hit
    return bench.main(argv)


def main() -> int:
    errs = []
    for w in SPEC["workloads"]:
        name = w["name"]
        for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
            label = f"{name} trace={trace}"
            lines, res = run(["perfbench/run.py", "--workload", name,
                              *TINY, "--trace", trace])
            errs += check_metrics(lines, res, SPEC[key], label)
            print(f"{label}: {len(res['metrics'])} metrics, "
                  f"attempted={res['attempted']} failed={res['failed']}",
                  flush=True)
    _, res = run(["perfbench/selftest.py", "--fault", "--workload", "ingest",
                  *TINY, "--trace", "0"])
    ratio = res["failed"] / res["attempted"]
    print(f"injected fault: failed_ratio={ratio:.4f} correct={res['correct']}")
    if not ratio > 0 or res["correct"]:
        errs.append("a search dropping its top hit was not detected")
    for e in errs:
        print("FAIL:", e)
    print("self-test", "FAILED" if errs else "passed")
    return 1 if errs else 0


if __name__ == "__main__":
    if sys.argv[1:2] == ["--fault"]:
        sys.exit(faulty_child(sys.argv[2:]))
    sys.exit(main())
