"""Reachability guard: every top-level def/class in pdfwf_spark/ has a
caller in product code — the package itself, jobs/, tools/,
__spark_entry__.py and the bench scripts. Tests do not count as
callers.

A name counts as referenced when it appears as a code token (comments
and strings stripped) outside its own definition. Names that fail
this on purpose sit in ALLOWED, each with a one-line reason; an
allowlisted name that gains a caller or is deleted must leave the
list.
"""

from __future__ import annotations

import ast
import io
import tokenize
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

ALLOWED = {
    "pdfwf_spark/operators/dedup.py:exact_surrogate_ids":
        "called by users: _cc_on_surrogates' collision error names it; test_ops.py pins it",
    "pdfwf_spark/operators/sketch.py:hll_estimate":
        "test_sketch.py uses it to read hll_register_state's output",
    "pdfwf_spark/core/normalize.py:fix_mojibake":
        "test_ops.py uses it as the reference fix_mojibake_col must match",
    "pdfwf_spark/fixtures/golden.py:golden_records":
        "test_spark_pipeline.py and e2ebench/passes.py use it as the golden reference",
    "pdfwf_spark/streaming/ingest.py:start_ingest":
        "called by users to run ingest continuously; test_streaming.py pins it",
}


def _code_files() -> list[Path]:
    files = sorted(ROOT.glob("pdfwf_spark/**/*.py"))
    files += sorted(ROOT.glob("jobs/*.py")) + sorted(ROOT.glob("tools/*.py"))
    files += [
        ROOT / f
        for f in ("__spark_entry__.py", "bench.py", "bench_extra.py", "scaling_bench.py")
    ]
    return files


def _name_tokens(path: Path) -> list[tuple[str, int]]:
    """(identifier, line) for every NAME token: comments and string
    literals are separate token types, so they never match."""
    src = path.read_text()
    return [
        (t.string, t.start[0])
        for t in tokenize.generate_tokens(io.StringIO(src).readline)
        if t.type == tokenize.NAME
    ]


def _unreferenced() -> set[str]:
    by_name: dict[str, list[tuple[Path, int]]] = {}
    for f in _code_files():
        for name, line in _name_tokens(f):
            by_name.setdefault(name, []).append((f, line))
    dead = set()
    for f in sorted(ROOT.glob("pdfwf_spark/**/*.py")):
        for node in ast.parse(f.read_text()).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            first = min([node.lineno] + [d.lineno for d in node.decorator_list])
            outside = [
                (g, line)
                for g, line in by_name.get(node.name, [])
                if not (g == f and first <= line <= node.end_lineno)
            ]
            if not outside:
                dead.add(f"{f.relative_to(ROOT).as_posix()}:{node.name}")
    return dead


def test_every_definition_has_a_caller():
    unexplained = sorted(_unreferenced() - set(ALLOWED))
    assert not unexplained, (
        "no caller outside tests; delete these or add them to ALLOWED "
        f"with a reason: {unexplained}"
    )


def test_allowlist_has_no_stale_entries():
    # the list may only shrink: a new name needs a caller, not an entry
    assert len(ALLOWED) <= 5, f"ALLOWED grew to {len(ALLOWED)} entries"
    stale = sorted(set(ALLOWED) - _unreferenced())
    assert not stale, f"now referenced or deleted; drop from ALLOWED: {stale}"


def test_operators_never_split_their_input():
    """The scan-split rule runs where a table is read (pipeline._stage,
    curation.curate, the query reader, the job readers), never inside an
    operator: there its `df.rdd` probe runs any exchange upstream."""
    offenders = []
    for f in sorted(ROOT.glob("pdfwf_spark/operators/**/*.py")):
        for node in ast.walk(ast.parse(f.read_text())):
            called = isinstance(node, ast.Call) and (
                getattr(node.func, "id", None) == "repartition_for_scan"
                or getattr(node.func, "attr", None) == "repartition_for_scan"
            )
            imported = isinstance(node, ast.ImportFrom) and any(
                a.name == "repartition_for_scan" for a in node.names
            )
            if called or imported:
                offenders.append(f"{f.relative_to(ROOT).as_posix()}:{node.lineno}")
    assert not offenders, f"repartition_for_scan used inside operators: {offenders}"
