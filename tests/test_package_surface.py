"""Dead-surface guards, no Spark session needed.

Every module-level def, class or assignment in the package, and every
method of a module-level class, is used by code that runs, or is named
in ``ALLOWED``.

Code that runs is the package itself, ``bench.py``,
``__spark_entry__.py``, ``perfbench/*.py`` and ``scripts/*.py``;
``test_*.py`` files do not count, so a symbol that only its own tests
call is flagged. A use of a module-level symbol is a Name, Attribute
or import-alias reference outside the symbol's own definition; a use
of a method (``ALLOWED`` key ``Class.method``) is an Attribute
reference outside the method's own definition. An import counts only
when the importing file reads the name it binds, and a re-export in an
``__init__.py`` is not a use. A function registered with
``@query(...)`` is used by the catalog. Dunder names and
``__init__.py`` definitions are exempt.

Each ``ALLOWED`` entry must still exist and still be unused, so the
list cannot outlive the reason it gives.

Every option that has a runtime caller takes at least two values
across its runtime call sites, or is named in ``ONE_VALUE_ALLOWED``:
with one value in use it is a constant. An option is a defaulted
parameter of a uniquely named module-level package function or of a
uniquely named class's ``__init__``, or a defaulted field of a
``@dataclass`` (its positional index is its place among the fields the
constructor takes; a ``field(init=False)`` is state, not an option).
An operator — a function whose first parameter is annotated
``DataFrame`` or ``SparkSession`` — reads its input's schema by name,
so each of its required parameters after that input is an option too:
a column name every caller spells the same is part of the schema
contract, not a setting.
Runtime call sites are the same files as above; a test is not a caller
that justifies an option, so a value only a test passes does not
count. A call site that omits the option passes its default; an
argument that is not a literal or an ALL_CAPS constant counts as a
second value. A constant counts by its value (followed through
imports, including those inside function bodies), so ``n=_K`` with
``_K = 8`` and ``n=8`` are one value. A function or class with no
runtime caller is not scanned.
"""

from __future__ import annotations

import ast
import functools
import operator
import textwrap
from collections import Counter
from pathlib import Path, PurePosixPath

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "aws_dla_kinesis_delivery_stream_example_spark"

# (module path under the package, name or Class.method) -> why it
# stays unused.
ALLOWED = {
    ("admin.py", "match_all"): "reference admin surface, PARITY Q1",
    ("admin.py", "count_records"): "reference admin surface, PARITY A1",
    ("admin.py", "count_objects"): "reference admin surface, PARITY A2",
    ("admin.py", "truncate"): "reference admin surface, PARITY Q3",
    ("admin.py", "create_sink_table"): "reference admin surface, PARITY Q4",
    ("admin.py", "drop_sink_table"): "reference admin surface, PARITY Q4",
    ("admin.py", "upsert_by_id"): "reference admin surface, PARITY Q4",
    ("admin.py", "health_check"): "reference admin surface, PARITY Q5",
    ("streaming/delivery.py", "DeliveryPipeline.count_documents"): (
        "A3 document count: hides the doc sink's parquet layout"
    ),
    ("streaming/envelope.py", "handle_event"): "the reference's Lambda handler, PARITY T1",
    ("streaming/doc_sink.py", "OpenSearchDocumentSink"): "K4 deployment seam",
    ("streaming/doc_sink.py", "opensearch_client_factory"): "K4 deployment seam",
    ("sources/jsonlines.py", "kinesis_reader"): "Kinesis cluster binding, PARITY S3",
    ("sources/kinesis_testing.py", "register"): "local source for kinesis_reader, PARITY S3",
    ("sources/kinesis_testing.py", "_FakeKinesisStreamReader.initialOffset"): (
        "called by Spark's Python Data Source API"
    ),
    ("sources/kinesis_testing.py", "_FakeKinesisStreamReader.readBetweenOffsets"): (
        "called by Spark's Python Data Source API"
    ),
    ("sources/kinesis_testing.py", "FakeKinesisDataSource.simpleStreamReader"): (
        "called by Spark's Python Data Source API"
    ),
    ("streaming/pipeline.py", "build_dual_delivery"): "the reference's two-stream topology",
    ("operators/jpeg.py", "encode_jpeg"): "the JPEG source for the decoder's tests",
    ("operators/multimodal.py", "MEDIA_SCHEMA"): "the media frame schema tests build on",
    ("plans/curation16.py", "ATTRITION_REASONS"): "q149's reason vocabulary, read by tests",
}

# (module path under the package, function or class, parameter or
# field) -> why the option stays settable with one value in use.
ONE_VALUE_ALLOWED = {
    ("sources/jsonlines.py", "generate_bank_accounts", "partitions"): (
        "deployment setting: the stream's provisioned shard count"
    ),
    ("streaming/delivery.py", "DeliveryPipeline", "trigger_seconds"): (
        "deployment setting: the reference's BufferingHints interval (iac/s2_app.py:323-326)"
    ),
    ("streaming/delivery.py", "DeliveryPipeline", "max_buffer_bytes"): (
        "deployment setting: the reference's BufferingHints size (iac/s2_app.py:323-326)"
    ),
    ("operators/dedup.py", "simhash_band_candidates", "max_band_bucket"): (
        "reference path: None is the unvalved band join the valve tests compare against"
    ),
}


@functools.cache
def _sources(root: Path = ROOT) -> dict[str, ast.Module]:
    """Parsed runtime files under ``root``, keyed by their posix path
    relative to ``root``."""
    files = sorted((root / PKG.name).rglob("*.py"))
    files += [root / "bench.py", root / "__spark_entry__.py"]
    files += sorted((root / "perfbench").glob("*.py"))
    files += sorted((root / "scripts").glob("*.py"))
    return {
        p.relative_to(root).as_posix(): ast.parse(p.read_text(), filename=str(p))
        for p in files
        if p.is_file() and not p.name.startswith("test_")
    }


def _package_path(name: str) -> str | None:
    """A source's path under the package, None outside it."""
    prefix = f"{PKG.name}/"
    return name[len(prefix):] if name.startswith(prefix) else None


def _is_catalog_query(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
        for d in getattr(node, "decorator_list", ())
    )


def _definitions(tree: ast.Module):
    """(name, defining statement) for each module-level symbol, and
    (``Class.method``, def) for each method of a module-level class."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if not _is_catalog_query(node):
                yield node.name, node
            if isinstance(node, ast.ClassDef):
                for m in node.body:
                    if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        yield f"{node.name}.{m.name}", m
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
    """References under ``node``: ``name`` per read or import alias
    (an alias counts only when its local name is in ``loaded``, the
    names its file reads), ``.name`` per attribute."""
    c: Counter = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            c[n.id] += 1
        elif isinstance(n, ast.Attribute):
            c[f".{n.attr}"] += 1
        elif isinstance(n, ast.alias) and (n.asname or n.name.split(".")[0]) in loaded:
            c[n.name.rsplit(".", 1)[-1]] += 1
    return c


def _scan(sources: dict[str, ast.Module]) -> tuple[set[tuple[str, str]], set[tuple[str, str]]]:
    """(every defined symbol, the unused ones), keyed like ALLOWED."""
    uses: Counter = Counter()
    defs = []
    for name, tree in sources.items():
        loaded = _loaded(tree)
        is_init = name.endswith("__init__.py")
        if not is_init:
            uses += _uses(tree, loaded)
        rel = _package_path(name)
        if rel is None or is_init:
            continue
        for symbol, node in _definitions(tree):
            cls, _, method = symbol.rpartition(".")
            if method.startswith("__") and method.endswith("__"):
                continue
            keys = (f".{method}",) if cls else (symbol, f".{symbol}")
            own = _uses(node, loaded)
            defs.append((rel, symbol, keys, sum(own[k] for k in keys)))
    defined = {(rel, symbol) for rel, symbol, _, _ in defs}
    unused = {(rel, symbol) for rel, symbol, keys, own in defs if sum(uses[k] for k in keys) <= own}
    return defined, unused


def test_every_package_symbol_has_a_runtime_caller():
    _, unused = _scan(_sources())
    flagged = sorted(unused - set(ALLOWED))
    assert not flagged, (
        "package symbols and methods with no caller outside tests (delete "
        f"them, or add an ALLOWED entry with its reason): {flagged}"
    )


def test_unused_import_is_not_a_use():
    tree = ast.parse("from m import a, b\nimport p.q as r\nimport s.t\nprint(a)\n")
    uses = _uses(tree, _loaded(tree))
    assert uses["a"] == 2  # the read and its import
    assert uses["b"] == uses["q"] == uses["t"] == 0  # imported, never read


def test_allowlist_names_exist_and_are_still_unused():
    defined, unused = _scan(_sources())
    missing = sorted(set(ALLOWED) - defined)
    assert not missing, f"ALLOWED names that no longer exist: {missing}"
    now_used = sorted(set(ALLOWED) - unused)
    assert not now_used, f"ALLOWED names that now have a caller: {now_used}"


def _module_name(name: str) -> str:
    parts = PurePosixPath(name).with_suffix("").parts
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

    def __init__(self, sources: dict[str, ast.Module]) -> None:
        self._trees = {_module_name(name): (name, tree) for name, tree in sources.items()}
        self._values: dict[str, tuple[dict, dict]] = {}

    def scope(self, module: str) -> tuple[dict, dict]:
        """(constant name -> value, module alias -> module) for a module."""
        if module not in self._values:
            self._values[module] = consts, aliases = {}, {}
            name, tree = self._trees.get(module, ("", ast.Module(body=[])))
            is_package = name.endswith("__init__.py")
            for node in tree.body:
                if isinstance(node, (ast.Import, ast.ImportFrom)):
                    self._bind(node, module, is_package)
                elif isinstance(node, (ast.Assign, ast.AnnAssign)) and node.value is not None:
                    targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                    if len(targets) == 1 and isinstance(targets[0], ast.Name) and targets[0].id.isupper():
                        try:
                            consts[targets[0].id] = self.fold(node.value, module)
                        except ValueError:
                            pass
            # Imports inside function bodies bind after the module's own
            # constants, so an import cycle they close sees those.
            top = set(map(id, tree.body))
            for node in ast.walk(tree):
                if isinstance(node, (ast.Import, ast.ImportFrom)) and id(node) not in top:
                    self._bind(node, module, is_package)
        return self._values[module]

    def _bind(self, node: ast.Import | ast.ImportFrom, module: str, is_package: bool) -> None:
        """Record the module aliases and constants an import binds."""
        consts, aliases = self._values[module]
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:
                    aliases[a.asname] = a.name
            return
        src = _imported(node, module, is_package)
        for a in node.names:
            local = a.asname or a.name
            if f"{src}.{a.name}" in self._trees:
                aliases[local] = f"{src}.{a.name}"
            elif a.name.isupper() and a.name in self.scope(src)[0]:
                consts[local] = self.scope(src)[0][a.name]

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
        if (
            isinstance(node, ast.Call)
            and getattr(node.func, "id", None) in _CONVERSIONS
            and len(node.args) == 1
            and not node.keywords
        ):
            try:
                return _CONVERSIONS[node.func.id](self.fold(node.args[0], module))
            except TypeError as e:  # list(8)
                raise ValueError(node.func.id) from e
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

# ``list(CONST)`` is as static as ``CONST``
_CONVERSIONS = {"list": list, "tuple": tuple}


def _parameters(fn: ast.FunctionDef | ast.AsyncFunctionDef, skip: int = 0, required: bool = False):
    """(parameter, positional index or None, default) per option of
    ``fn``: each defaulted parameter and, with ``required``, each
    required parameter after its input (default None). ``skip`` leading
    parameters (``self``) are not passed by a caller."""
    positional = (fn.args.posonlyargs + fn.args.args)[skip:]
    defaults = [None] * (len(positional) - len(fn.args.defaults)) + fn.args.defaults
    for index, (arg, default) in enumerate(zip(positional, defaults)):
        if default is not None or (required and index > 0):
            yield arg.arg, index, default
    for arg, default in zip(fn.args.kwonlyargs, fn.args.kw_defaults):
        if default is not None or required:
            yield arg.arg, None, default


_INPUTS = {"DataFrame", "SparkSession"}


def _is_operator(fn: ast.FunctionDef | ast.AsyncFunctionDef) -> bool:
    """Whether ``fn``'s first parameter is annotated ``DataFrame`` or
    ``SparkSession``: the schema of that input is its contract, so a
    column name every caller passes the same belongs in ``fn``, not in
    its signature."""
    positional = fn.args.posonlyargs + fn.args.args
    if not positional or positional[0].annotation is None:
        return False
    return ast.unparse(positional[0].annotation).strip("'\"").rsplit(".", 1)[-1] in _INPUTS


def _called(node: ast.AST) -> str | None:
    """The name a call or decorator expression calls (``f`` or ``m.f``)."""
    node = node.func if isinstance(node, ast.Call) else node
    return getattr(node, "id", None) or getattr(node, "attr", None)


def _fields(cls: ast.ClassDef):
    """(field, positional index, default) per defaulted field that a
    ``@dataclass``'s constructor takes."""
    index = 0
    for stmt in cls.body:
        if not (isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name)):
            continue
        if "ClassVar" in ast.unparse(stmt.annotation):
            continue
        default = stmt.value
        if isinstance(default, ast.Call) and _called(default) == "field":
            kw = {k.arg: k.value for k in default.keywords}
            if isinstance(kw.get("init"), ast.Constant) and kw["init"].value is False:
                continue
            default = kw.get("default", kw.get("default_factory"))
        if default is not None:
            yield stmt.target.id, index, default
        index += 1


def _constructor(cls: ast.ClassDef):
    """The options of a class's constructor: its ``@dataclass`` fields,
    or the defaulted parameters of its ``__init__``."""
    if any(_called(d) == "dataclass" for d in cls.decorator_list):
        return _fields(cls)
    for stmt in cls.body:
        if isinstance(stmt, ast.FunctionDef) and stmt.name == "__init__":
            return _parameters(stmt, skip=1)
    return ()


def _options(sources: dict[str, ast.Module]) -> dict[tuple[str, str, str], tuple[int | None, ast.AST, str]]:
    """(module path, function or class, parameter) -> (positional index
    or None, default, defining module) for every option of a uniquely
    named module-level package function or class."""
    found: dict[str, list] = {}
    for name, tree in sources.items():
        if _package_path(name) is None:
            continue
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                found.setdefault(node.name, []).append((name, node))
    options = {}
    for symbol, defs in found.items():
        if len(defs) != 1:
            continue
        name, node = defs[0]
        if isinstance(node, ast.ClassDef):
            params = _constructor(node)
        else:
            params = _parameters(node, required=_is_operator(node))
        for param, index, default in params:
            options[(_package_path(name), symbol, param)] = (index, default, _module_name(name))
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


def _single_valued_options(sources: dict[str, ast.Module]) -> set[tuple[str, str, str]]:
    options = _options(sources)
    constants = _Constants(sources)
    by_callee: dict[str, list] = {}
    for key, spec in options.items():
        by_callee.setdefault(key[1], []).append((key, spec))
    values: dict[tuple[str, str, str], set] = {key: set() for key in options}
    for name, tree in sources.items():
        module = _module_name(name)
        # a call through ``from m import f as g`` is a call of ``f``
        renamed = {
            a.asname: a.name
            for node in ast.walk(tree)
            if isinstance(node, ast.ImportFrom)
            for a in node.names
            if a.asname
        }
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            callee = _called(call)
            if isinstance(call.func, ast.Name):
                callee = renamed.get(callee, callee)
            for key, (index, default, home) in by_callee.get(callee, ()):
                arg = _argument(call, index, key[2])
                if arg is _OMITTED:
                    value = constants.key(default, home) if default is not None else None
                else:
                    value = constants.key(arg, module) if arg is not None else None
                values[key].add(value or ("computed", f"{name}:{call.lineno}"))
    return {key for key, seen in values.items() if len(seen) == 1 and next(iter(seen))[0] != "computed"}


def test_every_option_takes_two_values():
    single = _single_valued_options(_sources())
    flagged = sorted(single - set(ONE_VALUE_ALLOWED))
    assert not flagged, (
        "options that every caller sets to one value (make each a "
        f"constant, or add a ONE_VALUE_ALLOWED entry with its reason): {flagged}"
    )
    stale = sorted(set(ONE_VALUE_ALLOWED) - single)
    assert not stale, f"ONE_VALUE_ALLOWED entries that are gone or now take two values: {stale}"


# A synthetic project for the rule self-tests: ``Job`` is a package
# dataclass, ``bench.py`` its one runtime caller, and a test file that
# calls ``Job.inspect``. ``ops.dedup`` is an operator (its first
# parameter is a DataFrame) that ``bench.py`` and ``plans.q1`` call
# with one id column and one width, ``q1`` through a module imported
# inside its body; only the test passes other values. ``ops.digest``
# takes a column name first, so it is not an operator.
_SYNTHETIC = {
    f"{PKG.name}/jobs.py": """
        from dataclasses import dataclass, field

        @dataclass
        class Job:
            name: str
            retries: int = 1
            n_done: int = field(default=0, init=False)
            width: int = 4

            def run(self) -> int:
                return self._step() + self.n_done

            def _step(self) -> int:
                return self.retries * self.width

            def inspect(self) -> int:
                return self.n_done
        """,
    f"{PKG.name}/ops.py": """
        from pyspark.sql import DataFrame

        WIDTH = 8
        TERMS = ("a", "b")

        def dedup(df: DataFrame, id_col: str, width: int) -> DataFrame:
            return df.select(id_col).limit(width)

        def digest(text_col: str, bits: int):
            return text_col[:bits]
        """,
    f"{PKG.name}/plans.py": """
        def q1(docs):
            from . import ops as _ops

            return _ops.dedup(docs, "doc_id", _ops.WIDTH)
        """,
    "bench.py": """
        from pkg.jobs import Job
        from pkg.ops import dedup, digest

        Job("a", 2, width=8).run()
        Job("b", 3, 8).run()
        dedup(frame, "doc_id", 8)
        digest("text", 8)
        """,
    "tests/test_jobs.py": """
        from pkg.jobs import Job
        from pkg.ops import dedup

        def test_inspect():
            assert Job("c").inspect() == 0

        def test_dedup(frame):
            dedup(frame, "other_id", 3)
        """,
}


def _synthetic(tmp_path: Path) -> dict[str, ast.Module]:
    for name, src in _SYNTHETIC.items():
        (tmp_path / name).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / name).write_text(textwrap.dedent(src))
    return _sources(tmp_path)


def test_one_valued_dataclass_field_is_flagged(tmp_path):
    """``width`` takes 8 at both call sites, once by keyword and once by
    position (index 2: ``n_done`` takes no place); ``retries`` takes two
    values."""
    single = _single_valued_options(_synthetic(tmp_path))
    assert ("jobs.py", "Job", "width") in single
    assert ("jobs.py", "Job", "retries") not in single


def test_init_false_field_is_not_flagged(tmp_path):
    sources = _synthetic(tmp_path)
    assert ("jobs.py", "Job", "n_done") not in _options(sources)
    assert ("jobs.py", "Job", "n_done") not in _single_valued_options(sources)


def test_method_only_a_test_calls_is_flagged(tmp_path):
    _, unused = _scan(_synthetic(tmp_path))
    assert ("jobs.py", "Job.inspect") in unused
    assert ("jobs.py", "Job.run") not in unused  # bench.py calls it
    assert ("jobs.py", "Job._step") not in unused  # run calls it


def test_one_valued_required_parameter_of_an_operator_is_flagged(tmp_path):
    """Both runtime call sites pass ``"doc_id"`` and width 8 (once
    through ``_ops.WIDTH``); the test's other values do not count."""
    single = _single_valued_options(_synthetic(tmp_path))
    assert ("ops.py", "dedup", "id_col") in single
    assert ("ops.py", "dedup", "width") in single


def test_only_an_operators_required_parameters_after_its_input_are_options(tmp_path):
    options = _options(_synthetic(tmp_path))
    assert ("ops.py", "dedup", "df") not in options  # the input itself
    assert not {key for key in options if key[1] == "digest"}  # not an operator


def test_call_through_an_import_alias_is_a_call_site(tmp_path):
    sources = dict(_synthetic(tmp_path))
    sources["scripts/alias.py"] = ast.parse(
        "from pkg.ops import dedup as _dedup\n_dedup(frame, 'other_id', 8)\n"
    )
    single = _single_valued_options(sources)
    assert ("ops.py", "dedup", "id_col") not in single
    assert ("ops.py", "dedup", "width") in single


def test_constant_imported_inside_a_function_folds_to_its_value(tmp_path):
    sources = _synthetic(tmp_path)
    expr = ast.parse("_ops.WIDTH", mode="eval").body
    assert _Constants(sources).key(expr, _module_name(f"{PKG.name}/plans.py")) == ("number", 8)


def test_list_of_a_constant_folds_like_the_constant(tmp_path):
    """``list(CONST)`` passes the same value at every call, so it keys
    like the literal list; any other call stays computed."""
    constants = _Constants(_synthetic(tmp_path))
    module = _module_name(f"{PKG.name}/plans.py")

    def key(src: str):
        return constants.key(ast.parse(src, mode="eval").body, module)

    assert key("list(_ops.TERMS)") == key("['a', 'b']") == ("list", "['a', 'b']")
    assert key("tuple(_ops.TERMS)") == key("('a', 'b')") == ("tuple", ("a", "b"))
    assert key("sorted(_ops.TERMS)") is None
    assert key("list(_ops.WIDTH)") is None
