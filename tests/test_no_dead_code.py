"""Every top-level definition in the package is reached from code outside
``tests/``; every switch parameter is set to more than one value outside
``tests/``; every module-level import is used by its module.

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
# reads in a branch test.  When every call outside ``tests/`` binds it to the
# same literal, the other paths are reached only from tests.  Calls match by
# name, as in the definition scan; a non-literal argument, ``*args`` or
# ``**kwargs`` counts as a varied value.  ``main(argv)`` takes the command line.

MODE_EXEMPT = {("big_data_validator_spark/__main__.py", "main", "argv")}


def _functions(tree: ast.Module):
    """``(callee name, node)`` per function in ``tree``; a class's
    ``__init__`` is called by the class name."""
    for node in ast.walk(tree):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                init = isinstance(node, ast.ClassDef) and child.name == "__init__"
                yield (node.name if init else child.name), child


def _switches(fn) -> dict[str, ast.Constant]:
    """Parameters with a ``None``, ``bool`` or ``str`` default that ``fn``
    reads in an ``if``/``IfExp`` test or as the left operand of ``or``."""
    args = fn.args
    positional = args.posonlyargs + args.args
    defaults = dict(zip(positional[len(positional) - len(args.defaults):], args.defaults))
    defaults.update((a, d) for a, d in zip(args.kwonlyargs, args.kw_defaults) if d is not None)
    tests = []
    for node in ast.walk(fn):
        if isinstance(node, (ast.If, ast.IfExp)):
            tests.append(node.test)
        elif isinstance(node, ast.BoolOp) and isinstance(node.op, ast.Or):
            tests.append(node.values[0])
    read = {n.id for t in tests for n in ast.walk(t) if isinstance(n, ast.Name)}
    return {
        a.arg: d for a, d in defaults.items()
        if a.arg in read and isinstance(d, ast.Constant)
        and (d.value is None or isinstance(d.value, (bool, str)))
    }


_VARIED = object()


def _literal(node: ast.expr):
    try:
        return repr(ast.literal_eval(node))
    except ValueError:
        return _VARIED


def _passed(call: ast.Call, fn, name: str, default: ast.Constant):
    """The literal ``call`` binds to parameter ``name`` (``repr`` of it), or
    ``_VARIED`` for anything that is not a literal."""
    for kw in call.keywords:
        if kw.arg == name:
            return _literal(kw.value)
    positional = [a.arg for a in fn.args.posonlyargs + fn.args.args]
    if positional[:1] in (["self"], ["cls"]):
        positional = positional[1:]
    index = positional.index(name) if name in positional else len(call.args)
    for i, arg in enumerate(call.args):
        if isinstance(arg, ast.Starred):
            return _VARIED
        if i == index:
            return _literal(arg)
    if any(kw.arg is None for kw in call.keywords):
        return _VARIED
    return repr(default.value)


def mode_scan():
    """``module:function(parameter)`` for each switch that every call site
    outside ``tests/`` sets to the same literal, or leaves out."""
    calls: dict[str, list[ast.Call]] = {}
    for path in NON_TEST_SOURCES:
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call):
                func = node.func
                name = func.id if isinstance(func, ast.Name) else getattr(func, "attr", None)
                calls.setdefault(name, []).append(node)
    hits = []
    for path in sorted(PACKAGE.rglob("*.py")):
        module = path.relative_to(ROOT).as_posix()
        for callee, fn in _functions(ast.parse(path.read_text())):
            for name, default in _switches(fn).items():
                if (module, fn.name, name) in MODE_EXEMPT:
                    continue
                values = {_passed(c, fn, name, default) for c in calls.get(callee, ())}
                if _VARIED not in values and len(values) <= 1:
                    hits.append(f"{module}:{fn.name}({name})")
    return hits


def test_every_switch_is_varied_by_a_caller_outside_tests():
    hits = mode_scan()
    assert hits == [], f"{len(hits)} parameters no caller outside tests varies: {hits}"


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
# Every cache and temp directory the package makes has one owner: ``pin``
# caches, the scratch helpers make directories (operators/__init__.py).  A
# ``.cache()``, ``.persist()`` or ``mkdtemp`` anywhere else would be a
# resource no scope releases.

RESOURCE_MAKERS = {
    "cache": {"pin"},
    "persist": {"pin"},
    "mkdtemp": {"scratch_dir", "session_root", "session_dir"},
}


def unowned_resources():
    """``module:line:call`` for each cache/persist/mkdtemp call in the
    package outside the function allowed to make that resource."""
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
