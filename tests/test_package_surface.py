"""Dead-surface guard: every module-level def, class or assignment in
the package is used by code that runs, or is named in ``ALLOWED``.

Code that runs is the package itself, ``bench.py``,
``__spark_entry__.py``, ``perfbench/*.py`` and ``scripts/*.py``;
``test_*.py`` files do not count, so a symbol that only its own tests
call is flagged. A use is a Name, Attribute or import-alias reference
outside the symbol's own definition; a re-export in an ``__init__.py``
is not a use. A function registered with ``@query(...)`` is used by
the catalog. Dunder names and ``__init__.py`` definitions are exempt.

Each ``ALLOWED`` entry must still exist and still be unused, so the
list cannot outlive the reason it gives. No Spark session needed.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "aws_dla_kinesis_delivery_stream_example_spark"

# (module path under the package, name) -> why it stays unused.
ALLOWED = {
    ("admin.py", "truncate"): "reference admin surface, PARITY Q3",
    ("admin.py", "create_sink_table"): "reference admin surface, PARITY Q4",
    ("admin.py", "drop_sink_table"): "reference admin surface, PARITY Q4",
    ("admin.py", "upsert_by_id"): "reference admin surface, PARITY Q4",
    ("admin.py", "health_check"): "reference admin surface, PARITY Q5",
    ("streaming/envelope.py", "handle_event"): "the reference's Lambda handler, PARITY T1",
    ("streaming/doc_sink.py", "OpenSearchDocumentSink"): "K4 deployment seam",
    ("streaming/doc_sink.py", "opensearch_client_factory"): "K4 deployment seam",
    ("sources/jsonlines.py", "kinesis_reader"): "Kinesis cluster binding, PARITY S3",
    ("sources/kinesis_testing.py", "register"): "local source for kinesis_reader, PARITY S3",
    ("streaming/pipeline.py", "build_dual_delivery"): "the reference's two-stream topology",
    ("operators/jpeg.py", "encode_jpeg"): "the JPEG source for the decoder's tests",
    ("operators/multimodal.py", "MEDIA_SCHEMA"): "the media frame schema tests build on",
    ("plans/curation16.py", "ATTRITION_REASONS"): "q149's reason vocabulary, read by tests",
}


def _runtime_files() -> list[Path]:
    files = sorted(PKG.rglob("*.py"))
    files += [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    files += sorted((ROOT / "perfbench").glob("*.py"))
    files += sorted((ROOT / "scripts").glob("*.py"))
    return [p for p in files if not p.name.startswith("test_")]


def _is_catalog_query(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
        for d in getattr(node, "decorator_list", ())
    )


def _definitions(tree: ast.Module):
    """(name, defining statement) for each module-level symbol."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if not _is_catalog_query(node):
                yield node.name, node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name):
                        yield n.id, node


def _uses(node: ast.AST) -> Counter:
    c: Counter = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            c[n.id] += 1
        elif isinstance(n, ast.Attribute):
            c[n.attr] += 1
        elif isinstance(n, ast.alias):
            c[n.name.rsplit(".", 1)[-1]] += 1
    return c


def _scan() -> tuple[set[tuple[str, str]], set[tuple[str, str]]]:
    """(every defined symbol, the unused ones), keyed like ALLOWED."""
    uses: Counter = Counter()
    defs = []
    for path in _runtime_files():
        tree = ast.parse(path.read_text(), filename=str(path))
        if path.name != "__init__.py":
            uses += _uses(tree)
        if path.is_relative_to(PKG) and path.name != "__init__.py":
            rel = path.relative_to(PKG).as_posix()
            for name, node in _definitions(tree):
                if not (name.startswith("__") and name.endswith("__")):
                    defs.append((rel, name, _uses(node)[name]))
    defined = {(rel, name) for rel, name, _ in defs}
    unused = {(rel, name) for rel, name, own in defs if uses[name] - own <= 0}
    return defined, unused


def test_every_package_symbol_has_a_runtime_caller():
    _, unused = _scan()
    flagged = sorted(unused - set(ALLOWED))
    assert not flagged, (
        "module-level symbols with no caller outside tests (delete them, "
        f"or add an ALLOWED entry with its reason): {flagged}"
    )


def test_allowlist_names_exist_and_are_still_unused():
    defined, unused = _scan()
    missing = sorted(set(ALLOWED) - defined)
    assert not missing, f"ALLOWED names that no longer exist: {missing}"
    now_used = sorted(set(ALLOWED) - unused)
    assert not now_used, f"ALLOWED names that now have a caller: {now_used}"
