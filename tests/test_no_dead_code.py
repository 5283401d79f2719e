"""Every top-level definition in the package is reached from code outside
``tests/``; every switch parameter is set to more than one value outside
``tests/``; every other constant default is changed by some caller; every
function parameter is read by its body; every module-level import is used
by its module; every cache, checkpoint and temp directory is made by its
owner.

A definition is reached when its name appears in non-test code (the
package, ``scripts/``, ``bench.py``, ``perfbench/`` and
``__spark_entry__.py``) outside any definition, or inside a definition that
is itself reached.  Names count in code, in f-string fields and in string
literals that spell an identifier or a dotted name (``perfbench`` patches
the runner by ``getattr`` with such strings, ``__all__`` lists names the
same way).  Docstrings, comments and import lines do not count.  The scan
is by name, not by module: a name used anywhere keeps every definition of
that name.  Only ``ast`` and ``tokenize``; no Spark.
"""

from __future__ import annotations

import ast
import io
import re
import tokenize
from pathlib import Path
from typing import NamedTuple

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "big_data_validator_spark"
NON_TEST_SOURCES = (
    sorted(PACKAGE.rglob("*.py"))
    + sorted((ROOT / "scripts").glob("*.py"))
    + sorted(p for p in (ROOT / "perfbench").rglob("*.py") if not p.name.startswith("test_"))
    + [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
)

# Reference implementations that tests compare a kept kernel against.
TEST_REFERENCES = {
    "winnow_py",  # operators/dedup.py: reference for the winnowing kernel
    "_word_ngrams_expr",  # operators/curation.py: reference for _word_ngram_rows
    "distribution_drift_psi",  # operators/relational.py: reference for distribution_drift_psi_split
}

_DOTTED = re.compile(r"[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)*")


def _docstring_starts(tree: ast.Module) -> set[tuple[int, int]]:
    starts = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant) \
                    and isinstance(body[0].value.value, str):
                starts.add((body[0].lineno, body[0].col_offset))
    return starts


def _string_names(token: str) -> set[str]:
    """Names a string literal refers to: the fields of an f-string, or the
    parts of a plain string that spells a dotted name."""
    node = ast.parse(token, mode="eval").body
    if isinstance(node, ast.JoinedStr):
        return {n.id if isinstance(n, ast.Name) else n.attr
                for n in ast.walk(node) if isinstance(n, (ast.Name, ast.Attribute))}
    if isinstance(node, ast.Constant) and isinstance(node.value, str) \
            and _DOTTED.fullmatch(node.value):
        return set(node.value.split("."))
    return set()


def _is_query_entry(node: ast.AST) -> bool:
    for dec in getattr(node, "decorator_list", ()):
        func = dec.func if isinstance(dec, ast.Call) else dec
        if isinstance(func, ast.Name) and func.id == "query":
            return True
    return False


def _definitions(tree: ast.Module):
    """``(name, first line, last line, binder, node)`` per top-level
    definition; ``binder`` is the position of the token that binds an
    assigned name (``None`` for ``def`` and ``class``)."""
    for node in tree.body:
        first = min([node.lineno] + [d.lineno for d in getattr(node, "decorator_list", ())])
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name, first, node.end_lineno, None, node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for target in targets:
                for n in ast.walk(target):
                    if isinstance(n, ast.Name):
                        yield n.id, first, node.end_lineno, (n.lineno, n.col_offset), node


def scan():
    """Return ``{(module, name)}`` of package definitions that nothing
    outside ``tests/`` reaches."""
    defs: dict[tuple[str, str], set[str]] = {}  # (module, name) -> names its body uses
    roots: set[str] = set(TEST_REFERENCES)
    for path in NON_TEST_SOURCES:
        source = path.read_text()
        tree = ast.parse(source)
        docstrings = _docstring_starts(tree)
        module = path.relative_to(ROOT).as_posix()
        in_package = path.is_relative_to(PACKAGE)
        spans, binders = [], set()
        for name, first, last, binder, node in _definitions(tree) if in_package else ():
            if name.startswith("__") and name.endswith("__") or _is_query_entry(node):
                roots.add(name)
            spans.append((first, last, (module, name)))
            defs.setdefault((module, name), set())
            if binder:
                binders.add(binder)
        imports = set()
        aliases: dict[str, str] = {}
        for node in ast.walk(tree):
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                imports.update(range(node.lineno, node.end_lineno + 1))
                for a in node.names:
                    if a.asname:
                        aliases[a.asname] = a.name.rsplit(".", 1)[-1]
        previous = None
        for tok in tokenize.generate_tokens(io.StringIO(source).readline):
            line = tok.start[0]
            if tok.type == tokenize.NAME:
                names = set() if previous in ("def", "class") or tok.start in binders else {tok.string}
                previous = tok.string
            elif tok.type == tokenize.STRING and tok.start not in docstrings:
                names = _string_names(tok.string)
            else:
                continue
            if line in imports or not names:
                continue
            names |= {aliases[n] for n in names if n in aliases}
            owners = [key for first, last, key in spans if first <= line <= last]
            for key in owners:
                defs[key] |= names - {key[1]}
            if not owners:
                roots |= names
    live, frontier = set(), set(roots)
    while frontier:
        live |= frontier
        frontier = {n for (_, name), uses in defs.items() if name in live for n in uses} - live
    return {key for key in defs if key[1] not in live}


def test_every_package_definition_is_reached_outside_tests():
    dead = sorted(f"{module}:{name}" for module, name in scan())
    assert dead == [], f"{len(dead)} definitions reached only from tests: {dead}"


def test_exempt_references_are_still_defined():
    defined = {
        name
        for path in PACKAGE.rglob("*.py")
        for name, *_ in _definitions(ast.parse(path.read_text()))
    }
    assert TEST_REFERENCES <= defined


# --- settable values no caller varies ---------------------------------------
# A switch is a parameter whose ``None``/``bool``/``str`` default its function
# reads in a branch test, or a ``RunnerConfig``/``StreamingRuleConfig`` field
# the package reads in one (a switch of the config's constructor).  When every
# call outside ``tests/`` binds it to the same literal, the other paths are
# reached only from tests.  A knob is any other parameter with a constant
# default; some call, tests included, must set it to another value, or it is
# a module constant.  Calls match by name, as in the definition scan.  An
# argument that names a parameter of the calling function takes every value
# that parameter receives; any other non-literal argument, ``*args`` or
# ``**kwargs`` counts as a varied value.  ``main(argv)`` takes the command
# line.  A parameter that names a column of an input frame (``*_col``,
# ``*_cols``, ``column``, or a string default that spells the parameter's
# own name, as ``src="src"``) is data, not a knob.

MODE_EXEMPT = {("big_data_validator_spark/__main__.py", "main", "argv")}
CONFIGS = {"RunnerConfig", "StreamingRuleConfig"}
TESTS = sorted((ROOT / "tests").glob("*.py"))
_COLUMN = re.compile(r"(?:\w+_)?(?:col|cols|column|columns)")


class _Signature(NamedTuple):
    """What a call binds: positional names (after ``self``/``cls``), the
    default of each parameter that has one, and every parameter name."""

    positional: list
    defaults: dict
    params: set


def _signature(fn) -> _Signature:
    args = fn.args
    positional = args.posonlyargs + args.args
    defaults = dict(zip((a.arg for a in positional[len(positional) - len(args.defaults):]), args.defaults))
    defaults.update((a.arg, d) for a, d in zip(args.kwonlyargs, args.kw_defaults) if d is not None)
    names = [a.arg for a in positional]
    if names[:1] in (["self"], ["cls"]):
        names = names[1:]
    return _Signature(names, defaults, set(names) | {a.arg for a in args.kwonlyargs})


def _functions(tree: ast.Module):
    """``(callee name, node)`` per function in ``tree``; a class's
    ``__init__`` is called by the class name."""
    for node in ast.walk(tree):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                init = isinstance(node, ast.ClassDef) and child.name == "__init__"
                yield (node.name if init else child.name), child


def _config_fields(tree: ast.Module):
    """``(class name, _Signature)`` per config dataclass in ``tree``."""
    for node in tree.body:
        if isinstance(node, ast.ClassDef) and node.name in CONFIGS:
            fields = [s for s in node.body if isinstance(s, ast.AnnAssign)]
            names = [f.target.id for f in fields]
            defaults = {f.target.id: f.value for f in fields if f.value is not None}
            yield node.name, _Signature(names, defaults, set(names))


def _branch_reads(node) -> tuple[set[str], set[str]]:
    """Names and attribute names read in the ``if``/``IfExp`` tests and the
    left operands of ``or`` under ``node``."""
    tests = []
    for n in ast.walk(node):
        if isinstance(n, (ast.If, ast.IfExp)):
            tests.append(n.test)
        elif isinstance(n, ast.BoolOp) and isinstance(n.op, ast.Or):
            tests.append(n.values[0])
    names = {n.id for t in tests for n in ast.walk(t) if isinstance(n, ast.Name)}
    attrs = {n.attr for t in tests for n in ast.walk(t) if isinstance(n, ast.Attribute)}
    return names, attrs


def _names_column(name: str, default) -> bool:
    return bool(_COLUMN.fullmatch(name)) or (
        isinstance(default, ast.Constant) and default.value == name
    )


def _is_switch(default) -> bool:
    return isinstance(default, ast.Constant) and (
        default.value is None or isinstance(default.value, (bool, str))
    )


_VARIED = object()


def _literal(node: ast.expr):
    try:
        return repr(ast.literal_eval(node))
    except ValueError:
        return _VARIED


def _bound(call: ast.Call, sig: _Signature, name: str):
    """The expression ``call`` binds to ``name``, ``None`` if it leaves the
    parameter out, or ``_VARIED`` behind ``*args``/``**kwargs``."""
    for kw in call.keywords:
        if kw.arg == name:
            return kw.value
    index = sig.positional.index(name) if name in sig.positional else len(call.args)
    for i, arg in enumerate(call.args):
        if isinstance(arg, ast.Starred):
            return _VARIED
        if i == index:
            return arg
    if any(kw.arg is None for kw in call.keywords):
        return _VARIED
    return None


class _Calls:
    """Every call in ``sources``, by callee name, with the function around
    it, so that a forwarded parameter resolves to what its own callers pass."""

    def __init__(self, sources):
        self.by_name: dict[str, list[tuple[ast.Call, object]]] = {}
        self.callee: dict[int, str] = {}
        for path in sources:
            tree = ast.parse(path.read_text())
            for callee, fn in _functions(tree):
                self.callee[id(fn)] = callee
            self._visit(tree, None)

    def _visit(self, node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.Call):
                func = child.func
                name = func.id if isinstance(func, ast.Name) else getattr(func, "attr", None)
                self.by_name.setdefault(name, []).append((child, fn))
            self._visit(child, child if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)) else fn)

    def values(self, callee: str, sig: _Signature, name: str, seen=frozenset()) -> set:
        """``repr`` of each literal the calls to ``callee`` bind to ``name``
        (its default where they leave it out); ``_VARIED`` for anything else."""
        out = set()
        for call, fn in self.by_name.get(callee, ()):
            arg = _bound(call, sig, name)
            if arg is None:
                default = sig.defaults.get(name)
                out.add(_literal(default) if default is not None else _VARIED)
            elif arg is _VARIED:
                out.add(_VARIED)
            elif isinstance(arg, ast.Name) and fn is not None and arg.id in _signature(fn).params:
                key = (id(fn), arg.id)
                if key not in seen:
                    out |= self.values(self.callee[id(fn)], _signature(fn), arg.id, seen | {key})
            else:
                out.add(_literal(arg))
        return out


def _package_signatures():
    """``(module, callee, function name, _Signature, node)`` per package
    function and config class."""
    for path in sorted(PACKAGE.rglob("*.py")):
        module = path.relative_to(ROOT).as_posix()
        tree = ast.parse(path.read_text())
        for callee, fn in _functions(tree):
            yield module, callee, fn.name, _signature(fn), fn
        for name, sig in _config_fields(tree):
            yield module, name, name, sig, None


def mode_scan():
    """``module:function(parameter)`` for each switch that every call site
    outside ``tests/`` sets to the same literal, or leaves out."""
    calls = _Calls(NON_TEST_SOURCES)
    config_reads = set().union(
        *(_branch_reads(ast.parse(p.read_text()))[1] for p in PACKAGE.rglob("*.py"))
    )
    hits = []
    for module, callee, fn_name, sig, fn in _package_signatures():
        read = _branch_reads(fn)[0] if fn is not None else config_reads
        for name, default in sig.defaults.items():
            if (module, fn_name, name) in MODE_EXEMPT or name not in read or not _is_switch(default):
                continue
            values = calls.values(callee, sig, name)
            if _VARIED not in values and len(values) <= 1:
                hits.append(f"{module}:{fn_name}({name})")
    return hits


def test_every_switch_is_varied_by_a_caller_outside_tests():
    hits = mode_scan()
    assert hits == [], f"{len(hits)} parameters no caller outside tests varies: {hits}"


def knob_scan():
    """``module:function(parameter)`` for each other constant default that
    no call, tests included, sets to another value."""
    calls = _Calls(NON_TEST_SOURCES + TESTS)
    hits = []
    for module, callee, fn_name, sig, fn in _package_signatures():
        if fn is None or fn_name in TEST_REFERENCES:
            continue
        read = _branch_reads(fn)[0]
        for name, default in sig.defaults.items():
            if (module, fn_name, name) in MODE_EXEMPT or _names_column(name, default) \
                    or (name in read and _is_switch(default)) or _literal(default) is _VARIED:
                continue
            values = calls.values(callee, sig, name) - {_literal(default)}
            if not values:
                hits.append(f"{module}:{fn_name}({name})")
    return hits


def test_every_knob_is_set_to_another_value_by_some_caller():
    hits = knob_scan()
    assert hits == [], f"{len(hits)} defaults no caller changes: {hits}"


# --- parameters no body reads ----------------------------------------------
# A parameter its function never reads is a value every caller computes and
# passes for nothing.  Exempt: the registry signature ``(spark, sf_dir)`` of a
# ``@query`` entry and the drain harness's ``writer(d)`` callback, whose
# shapes the caller fixes.

UNUSED_EXEMPT = {"writer": {"d"}}
QUERY_SIGNATURE = {"spark", "sf_dir"}


def unused_parameters():
    """``module:function(parameter)`` for each parameter of a package
    function (nested and methods included, ``self``/``cls`` aside) that its
    body never reads."""
    hits = []
    for path in sorted(PACKAGE.rglob("*.py")):
        module = path.relative_to(ROOT).as_posix()
        for fn in ast.walk(ast.parse(path.read_text())):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            args = fn.args
            params = [a.arg for a in args.posonlyargs + args.args + args.kwonlyargs]
            params += [a.arg for a in (args.vararg, args.kwarg) if a is not None]
            exempt = {"self", "cls"} | UNUSED_EXEMPT.get(fn.name, set())
            if _is_query_entry(fn):
                exempt |= QUERY_SIGNATURE
            read = {n.id for stmt in fn.body for n in ast.walk(stmt) if isinstance(n, ast.Name)}
            hits += [f"{module}:{fn.name}({p})" for p in params if p not in read | exempt]
    return hits


def test_every_parameter_is_read_by_its_function():
    hits = unused_parameters()
    assert hits == [], f"{len(hits)} parameters their function never reads: {hits}"


# --- module imports ---------------------------------------------------------


def unused_imports():
    """``module:name`` for each module-level import its own module never
    uses.  ``__init__.py`` re-exports and ``from __future__`` are exempt."""
    hits = []
    for path in NON_TEST_SOURCES:
        if path.name == "__init__.py":
            continue
        tree = ast.parse(path.read_text())
        bound = {}
        for node in tree.body:
            if isinstance(node, ast.Import):
                bound.update(((a.asname or a.name.split(".")[0]), node.lineno) for a in node.names)
            elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
                bound.update(((a.asname or a.name), node.lineno) for a in node.names)
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        used |= {
            part
            for n in ast.walk(tree)
            if isinstance(n, ast.Constant) and isinstance(n.value, str) and _DOTTED.fullmatch(n.value)
            for part in n.value.split(".")
        }
        module = path.relative_to(ROOT).as_posix()
        hits += [f"{module}:{line}:{name}" for name, line in bound.items() if name not in used]
    return sorted(hits)


def test_every_module_import_is_used():
    hits = unused_imports()
    assert hits == [], f"{len(hits)} module imports their module never uses: {hits}"


# --- resource owners --------------------------------------------------------
# Every cache, checkpoint and temp directory the package makes has one
# owner: ``pin`` caches, ``checkpoint`` checkpoints, the scratch helpers
# make directories (operators/__init__.py).  A ``.cache()``, ``.persist()``,
# ``.localCheckpoint()`` or ``mkdtemp`` anywhere else would be a resource
# no scope releases.

RESOURCE_MAKERS = {
    "cache": {"pin"},
    "persist": {"pin"},
    "localCheckpoint": {"checkpoint"},
    "mkdtemp": {"scratch_dir", "session_root", "session_dir"},
}


def unowned_resources():
    """``module:line:call`` for each cache/persist/localCheckpoint/mkdtemp
    call in the package outside the function allowed to make that
    resource."""
    hits = []

    def visit(node, module, owner):
        for child in ast.iter_child_nodes(node):
            inner = owner
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = child.name
            elif isinstance(child, ast.Call) and isinstance(child.func, ast.Attribute):
                allowed = RESOURCE_MAKERS.get(child.func.attr)
                if allowed is not None and owner not in allowed:
                    hits.append(f"{module}:{child.lineno}:{child.func.attr}")
            visit(child, module, inner)

    for path in sorted(PACKAGE.rglob("*.py")):
        visit(ast.parse(path.read_text()), path.relative_to(ROOT).as_posix(), None)
    return hits


def test_caches_and_temp_dirs_are_made_only_by_their_owners():
    hits = unowned_resources()
    assert hits == [], f"{len(hits)} unowned cache/temp-dir calls: {hits}"
