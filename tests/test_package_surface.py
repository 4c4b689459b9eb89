"""Dead-surface guards, no Spark session needed.

Every module-level def, class or assignment in the package is used by
code that runs, or is named in ``ALLOWED``.

Code that runs is the package itself, ``bench.py``,
``__spark_entry__.py``, ``perfbench/*.py`` and ``scripts/*.py``;
``test_*.py`` files do not count, so a symbol that only its own tests
call is flagged. A use is a Name, Attribute or import-alias reference
outside the symbol's own definition; an import counts only when the
importing file reads the name it binds, and a re-export in an
``__init__.py`` is not a use. A function registered with
``@query(...)`` is used by the catalog. Dunder names and
``__init__.py`` definitions are exempt.

Each ``ALLOWED`` entry must still exist and still be unused, so the
list cannot outlive the reason it gives.

Every option (a defaulted parameter of a uniquely named module-level
package function) that has a runtime caller takes at least two values
across its runtime call sites, or is named in ``ONE_VALUE_ALLOWED``:
with one value in use it is a constant. Runtime call sites are the
same files as above; a test is not a caller that justifies an option,
so a value only a test passes does not count. A call site that omits
the option passes its default; an argument that is not a literal or
an ALL_CAPS constant counts as a second value. A constant counts by
its value (followed through imports), so ``n=_K`` with ``_K = 8`` and
``n=8`` are one value. A function with no runtime caller is not
scanned.
"""

from __future__ import annotations

import ast
import operator
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

# (module path under the package, function, parameter) -> why the
# option stays settable with one value in use.
ONE_VALUE_ALLOWED = {
    ("sources/jsonlines.py", "generate_bank_accounts", "partitions"): (
        "deployment setting: the stream's provisioned shard count"
    ),
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


def _loaded(tree: ast.Module) -> set[str]:
    """Names a file reads."""
    return {n.id for n in ast.walk(tree) if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)}


def _uses(node: ast.AST, loaded: set[str]) -> Counter:
    """References per name under ``node``; an import alias counts only
    when its local name is in ``loaded``, the names its file reads."""
    c: Counter = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            c[n.id] += 1
        elif isinstance(n, ast.Attribute):
            c[n.attr] += 1
        elif isinstance(n, ast.alias) and (n.asname or n.name.split(".")[0]) in loaded:
            c[n.name.rsplit(".", 1)[-1]] += 1
    return c


def _scan() -> tuple[set[tuple[str, str]], set[tuple[str, str]]]:
    """(every defined symbol, the unused ones), keyed like ALLOWED."""
    uses: Counter = Counter()
    defs = []
    for path in _runtime_files():
        tree = ast.parse(path.read_text(), filename=str(path))
        loaded = _loaded(tree)
        if path.name != "__init__.py":
            uses += _uses(tree, loaded)
        if path.is_relative_to(PKG) and path.name != "__init__.py":
            rel = path.relative_to(PKG).as_posix()
            for name, node in _definitions(tree):
                if not (name.startswith("__") and name.endswith("__")):
                    defs.append((rel, name, _uses(node, loaded)[name]))
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


def test_unused_import_is_not_a_use():
    tree = ast.parse("from m import a, b\nimport p.q as r\nimport s.t\nprint(a)\n")
    uses = _uses(tree, _loaded(tree))
    assert uses["a"] == 2  # the read and its import
    assert uses["b"] == uses["q"] == uses["t"] == 0  # imported, never read


def test_allowlist_names_exist_and_are_still_unused():
    defined, unused = _scan()
    missing = sorted(set(ALLOWED) - defined)
    assert not missing, f"ALLOWED names that no longer exist: {missing}"
    now_used = sorted(set(ALLOWED) - unused)
    assert not now_used, f"ALLOWED names that now have a caller: {now_used}"


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imported(node: ast.ImportFrom, module: str, is_package: bool) -> str:
    """The absolute module an ``ImportFrom`` in ``module`` reads from."""
    if not node.level:
        return node.module or ""
    base = module.split(".")
    base = base[: len(base) - node.level + (1 if is_package else 0)]
    return ".".join(base + ([node.module] if node.module else []))


class _Constants:
    """Module-level ALL_CAPS names bound to a value that folds from
    literals (``N = 5``, ``M = 1 << P``, ``K = other.K``), per module,
    following imports between package modules."""

    def __init__(self) -> None:
        self._trees = {}
        for path in _runtime_files():
            self._trees[_module_name(path)] = (path, ast.parse(path.read_text(), filename=str(path)))
        self._values: dict[str, tuple[dict, dict]] = {}

    def scope(self, module: str) -> tuple[dict, dict]:
        """(constant name -> value, module alias -> module) for a module."""
        if module not in self._values:
            self._values[module] = consts, aliases = {}, {}
            path, tree = self._trees.get(module, (None, ast.Module(body=[])))
            for node in tree.body:
                if isinstance(node, ast.Import):
                    for a in node.names:
                        if a.asname:
                            aliases[a.asname] = a.name
                elif isinstance(node, ast.ImportFrom):
                    src = _imported(node, module, path is not None and path.name == "__init__.py")
                    for a in node.names:
                        local = a.asname or a.name
                        if f"{src}.{a.name}" in self._trees:
                            aliases[local] = f"{src}.{a.name}"
                        elif a.name.isupper() and a.name in self.scope(src)[0]:
                            consts[local] = self.scope(src)[0][a.name]
                elif isinstance(node, (ast.Assign, ast.AnnAssign)) and node.value is not None:
                    targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                    if len(targets) == 1 and isinstance(targets[0], ast.Name) and targets[0].id.isupper():
                        try:
                            consts[targets[0].id] = self.fold(node.value, module)
                        except ValueError:
                            pass
        return self._values[module]

    def fold(self, node: ast.AST, module: str):
        """The value of an expression built from literals and constants
        visible in ``module``; ValueError for anything computed."""
        consts, aliases = self.scope(module)
        if isinstance(node, ast.Name) and node.id.isupper() and node.id in consts:
            return consts[node.id]
        if (
            isinstance(node, ast.Attribute)
            and node.attr.isupper()
            and isinstance(node.value, ast.Name)
            and node.value.id in aliases
        ):
            other = self.scope(aliases[node.value.id])[0]
            if node.attr in other:
                return other[node.attr]
        if isinstance(node, ast.BinOp) and type(node.op) in _FOLDABLE:
            return _FOLDABLE[type(node.op)](self.fold(node.left, module), self.fold(node.right, module))
        return ast.literal_eval(node)

    def key(self, node: ast.AST, module: str):
        """A comparable key for a static value (a literal or an ALL_CAPS
        constant), None for anything computed. Equal values give equal
        keys whether spelled as a literal or through a constant."""
        try:
            value = self.fold(node, module)
        except ValueError:
            for name in (getattr(node, "id", None), getattr(node, "attr", None)):
                if name and name.isupper():
                    return ("unresolved constant", name)
            return None
        kind = "number" if isinstance(value, (int, float)) and not isinstance(value, bool) else type(value).__name__
        try:
            hash(value)
        except TypeError:
            value = repr(value)
        return (kind, value)


_FOLDABLE = {
    ast.Add: operator.add,
    ast.Sub: operator.sub,
    ast.Mult: operator.mul,
    ast.Div: operator.truediv,
    ast.FloorDiv: operator.floordiv,
    ast.Pow: operator.pow,
    ast.LShift: operator.lshift,
}


def _options() -> dict[tuple[str, str, str], tuple[int | None, ast.AST, str]]:
    """(module path, function, parameter) -> (positional index or None,
    default, defining module) for every defaulted parameter of a
    uniquely named module-level package function."""
    found: dict[str, list] = {}
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.parse(path.read_text(), filename=str(path)).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                found.setdefault(node.name, []).append((path, node))
    options = {}
    for name, defs in found.items():
        if len(defs) != 1:
            continue
        path, fn = defs[0]
        rel, module = path.relative_to(PKG).as_posix(), _module_name(path)
        positional = fn.args.posonlyargs + fn.args.args
        tail = positional[len(positional) - len(fn.args.defaults):]
        for arg, default in zip(tail, fn.args.defaults):
            options[(rel, name, arg.arg)] = (positional.index(arg), default, module)
        for arg, default in zip(fn.args.kwonlyargs, fn.args.kw_defaults):
            if default is not None:
                options[(rel, name, arg.arg)] = (None, default, module)
    return options


def _argument(call: ast.Call, index: int | None, param: str) -> ast.AST | None:
    """What a call passes for a parameter, ``_OMITTED`` when it passes
    nothing, or None when ``*args``/``**kwargs`` hide it."""
    for kw in call.keywords:
        if kw.arg == param:
            return kw.value
    starred = any(isinstance(a, ast.Starred) for a in call.args)
    if index is not None and not starred and index < len(call.args):
        return call.args[index]
    if starred or any(kw.arg is None for kw in call.keywords):
        return None
    return _OMITTED


_OMITTED = ast.Constant(None)


def _single_valued_options() -> set[tuple[str, str, str]]:
    options = _options()
    constants = _Constants()
    by_function: dict[str, list] = {}
    for key, spec in options.items():
        by_function.setdefault(key[1], []).append((key, spec))
    values: dict[tuple[str, str, str], set] = {key: set() for key in options}
    for path in _runtime_files():
        module = _module_name(path)
        for call in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if not isinstance(call, ast.Call):
                continue
            name = getattr(call.func, "id", None) or getattr(call.func, "attr", None)
            for key, (index, default, home) in by_function.get(name, ()):
                arg = _argument(call, index, key[2])
                if arg is _OMITTED:
                    value = constants.key(default, home)
                else:
                    value = constants.key(arg, module) if arg is not None else None
                values[key].add(value or ("computed", f"{path.name}:{call.lineno}"))
    return {key for key, seen in values.items() if len(seen) == 1 and next(iter(seen))[0] != "computed"}


def test_every_option_takes_two_values():
    single = _single_valued_options()
    flagged = sorted(single - set(ONE_VALUE_ALLOWED))
    assert not flagged, (
        "options that every caller sets to one value (make each a "
        f"constant, or add a ONE_VALUE_ALLOWED entry with its reason): {flagged}"
    )
    stale = sorted(set(ONE_VALUE_ALLOWED) - single)
    assert not stale, f"ONE_VALUE_ALLOWED entries that are gone or now take two values: {stale}"
