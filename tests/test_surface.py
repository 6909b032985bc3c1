"""Public-surface guard (no Spark): every public function, class and method
of the package must be reached from shipped code — the package itself, the
entry queries, the CLI, `bench*.py`, `scripts/` or `perfbench/` — not only
from tests. Code that only tests call is deleted, or listed in KEPT with the
reason it stays."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "deduplipy_spark"

KEPT = {
    "stream_exact_dedup": "streaming API listed in the README",
    "stateful_exact_dedup": "streaming API listed in the README",
    "skew_summary": "ROADMAP item 1 reads the band-skew report from it",
    "load_data": "the reference's deduplipy.datasets.load_data",
    "top_word_ratio": "the form the with_top_word_ratio tests compare against",
    "wrap_metric": "the documented way to pass custom metric callables",
}


def _public_defs(tree: ast.Module) -> set:
    names = set()
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            names.add(node.name)
        if isinstance(node, ast.ClassDef):
            names.update(n.name for n in node.body
                         if isinstance(n, (ast.FunctionDef,
                                           ast.AsyncFunctionDef)))
    return {n for n in names if not n.startswith("_")}


def _references(tree: ast.Module) -> set:
    refs = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            refs.add(node.id)
        elif isinstance(node, ast.Attribute):
            refs.add(node.attr)
        elif isinstance(node, ast.alias):
            refs.add(node.name.rsplit(".", 1)[-1])
            if node.asname:
                refs.add(node.asname)
    return refs


def _shipped_files():
    for p in ROOT.rglob("*.py"):
        rel = p.relative_to(ROOT).parts
        if rel[0] != "tests" and not any(s.startswith(".") for s in rel):
            yield p


def test_every_public_name_has_a_shipped_caller():
    defined = set()
    for p in PACKAGE.rglob("*.py"):
        defined |= _public_defs(ast.parse(p.read_text(), str(p)))
    referenced = set()
    for p in _shipped_files():
        referenced |= _references(ast.parse(p.read_text(), str(p)))
    assert sorted(defined - referenced - KEPT.keys()) == []
    # a KEPT entry that gained a caller, or lost its definition, goes
    assert sorted(KEPT.keys() & referenced) == []
    assert sorted(KEPT.keys() - defined) == []
