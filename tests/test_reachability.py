"""Dead-code guards over ``logicash_etl_spark/``:
- every top-level definition must be reachable from an entry point;
- every defaulted parameter of a top-level engine function other than a
  ``@query`` must take more than one value across its entry-point calls
  (or be allowlisted with its reason);
- every parameter of a top-level engine function other than a ``@query``
  must be read by its body;
- no module, test or root script imports a name it never reads;
- no function, class body or comprehension in a module, test or root
  script reads a global name the module never binds (and no builtin
  supplies).

Definitions are top-level functions, classes and module constants
(``NAME = ...``). Roots:
- ``run_logicash_pipeline``;
- every ``@query`` function, decorators included;
- module-level code of every non-``__init__`` engine module;
- all code in ``__spark_entry__.py``, ``perfbench/*.py`` and the root
  ``*.py`` scripts.

Tests are not roots: a definition or option value that only its own
tests use is dead.
``__init__`` re-exports are followed as aliases, never counted as uses.
Names resolve through each module's imports (``from m import x``,
``import m``, ``m.x``); a name that resolves to nothing is ignored.
The scan is plain ``ast``: nothing is imported or executed.
"""

from __future__ import annotations

import ast
import builtins
import symtable
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "logicash_etl_spark"
# test-support plan helpers: tests/test_plan_contracts.py and friends
ALLOWLIST_MODULES = {f"{PKG}.plans.inspect"}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


class _Module:
    def __init__(self, path: Path) -> None:
        self.is_init = path.name == "__init__.py"
        self.tree = ast.parse(path.read_text(), filename=str(path))
        self.defs: dict[str, ast.AST] = {}
        # alias -> [("mod", module) | ("sym", module, name)]
        self.imports: dict[str, list[tuple]] = {}
        for node in self.tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                self.defs[node.name] = node
            elif isinstance(node, (ast.Assign, ast.AnnAssign)) and not self.is_init:
                # module constants and caches: the value is their body
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                for t in targets:
                    if isinstance(t, ast.Name) and not t.id.startswith("__"):
                        self.defs[t.id] = node
        for node in ast.walk(self.tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname:
                        self._bind(a.asname, ("mod", a.name))
                    else:
                        top = a.name.split(".")[0]
                        self._bind(top, ("mod", top))
            elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
                for a in node.names:
                    self._bind(a.asname or a.name, ("sym", node.module, a.name))

    def _bind(self, alias: str, target: tuple) -> None:
        self.imports.setdefault(alias, []).append(target)

    def roots(self, is_root_file: bool) -> list[ast.AST]:
        """Nodes whose references count as uses from an entry point."""
        if is_root_file:
            return [self.tree]
        out: list[ast.AST] = []
        for node in self.tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                if any(_is_query_decorator(d) for d in node.decorator_list):
                    out.append(node)
                else:
                    # decorators and defaults run at import time
                    out.extend(node.decorator_list)
            elif not self.is_init and not isinstance(
                node, (ast.Import, ast.ImportFrom, ast.Assign, ast.AnnAssign)
            ):
                out.append(node)
        return out


def _is_query_decorator(dec: ast.AST) -> bool:
    fn = dec.func if isinstance(dec, ast.Call) else dec
    name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
    return name == "query"


def _attr_chain(node: ast.Attribute) -> list[str] | None:
    chain: list[str] = []
    while isinstance(node, ast.Attribute):
        chain.append(node.attr)
        node = node.value
    if not isinstance(node, ast.Name):
        return None
    chain.append(node.id)
    return chain[::-1]


class _Scan:
    def __init__(self) -> None:
        self.modules: dict[str, _Module] = {}
        self.root_files: set[str] = set()
        for path in sorted((REPO / PKG).rglob("*.py")):
            self._add(path, root=False)
        for path in [*sorted(REPO.glob("*.py")), *sorted((REPO / "perfbench").glob("*.py"))]:
            self._add(path, root=True)

    def _add(self, path: Path, root: bool) -> None:
        name = _module_name(path)
        self.modules[name] = _Module(path)
        if root:
            self.root_files.add(name)

    def _symbol(self, module: str, name: str, seen: frozenset = frozenset()) -> set[tuple[str, str]]:
        """Definitions that ``name`` in ``module`` stands for."""
        if (module, name) in seen or module not in self.modules:
            return set()
        seen = seen | {(module, name)}
        mod = self.modules[module]
        if name in mod.defs:
            return {(module, name)}
        out: set[tuple[str, str]] = set()
        for target in mod.imports.get(name, []):
            if target[0] == "sym":
                out |= self._symbol(target[1], target[2], seen)
        return out

    def _module_alias(self, module: str, name: str) -> list[str]:
        """Modules that ``name`` in ``module`` stands for."""
        out = []
        for target in self.modules[module].imports.get(name, []):
            if target[0] == "mod":
                out.append(target[1])
            elif f"{target[1]}.{target[2]}" in self.modules:
                out.append(f"{target[1]}.{target[2]}")
        return out

    def resolve(self, module: str, node: ast.AST) -> set[tuple[str, str]]:
        """Definitions that one ``Name`` or ``Attribute`` node stands for."""
        if isinstance(node, ast.Name):
            return self._symbol(module, node.id)
        out: set[tuple[str, str]] = set()
        chain = _attr_chain(node) if isinstance(node, ast.Attribute) else None
        for mod in self._module_alias(module, chain[0]) if chain else []:
            for attr in chain[1:]:
                if f"{mod}.{attr}" in self.modules:
                    mod = f"{mod}.{attr}"
                    continue
                out |= self._symbol(mod, attr)
                break
        return out

    def references(self, module: str, node: ast.AST) -> set[tuple[str, str]]:
        out: set[tuple[str, str]] = set()
        for sub in ast.walk(node):
            out |= self.resolve(module, sub)
        return out

    def unreached(self) -> list[str]:
        reached: set[tuple[str, str]] = set()
        todo: list[tuple[str, ast.AST]] = []
        for name, mod in self.modules.items():
            todo.extend((name, n) for n in mod.roots(name in self.root_files))
        todo.append((f"{PKG}.pipeline.logicash",
                     self.modules[f"{PKG}.pipeline.logicash"].defs["run_logicash_pipeline"]))
        while todo:
            module, node = todo.pop()
            for ref in self.references(module, node):
                if ref not in reached:
                    reached.add(ref)
                    todo.append((ref[0], self.modules[ref[0]].defs[ref[1]]))
        return sorted(
            f"{module}.{name}"
            for module, mod in self.modules.items()
            if module.startswith(PKG) and module not in ALLOWLIST_MODULES
            for name in mod.defs
            if (module, name) not in reached
            and not any(_is_query_decorator(d) for d in getattr(mod.defs[name], "decorator_list", []))
        )


def test_every_engine_definition_is_reachable():
    dead = _Scan().unreached()
    assert not dead, "unreached from every entry point (give it a caller or delete it):\n  " + "\n  ".join(dead)


def test_scan_sees_the_catalog():
    """Guard the guard: a scan that resolved nothing would pass vacuously."""
    scan = _Scan()
    queries = sum(
        _is_query_decorator(d)
        for mod in scan.modules.values()
        for node in mod.defs.values()
        for d in getattr(node, "decorator_list", [])
    )
    assert queries >= 200
    run = scan.modules[f"{PKG}.pipeline.logicash"].defs["run_logicash_pipeline"]
    assert (f"{PKG}.sources.writers", "write_parquet_partitioned") in scan.references(
        f"{PKG}.pipeline.logicash", run
    )


# ---------------------------------------------------------------------------
# Option guard: every defaulted parameter of a top-level engine function
# (other than a ``@query``) must take more than one value across its
# entry-point calls. A parameter that every call gives the same constant
# (or that every call leaves at its default) only renames a column or
# selects a branch nobody takes: inline the value.
#
# The allowlist names each kept parameter's reason: a deployment setting, or
# a test seam ``file::test`` (that tier-1 test sets it to reach, on a small
# input, a path the entry points reach only with larger inputs).
ALLOWED_OPTIONS = {
    "session.get_spark.master": "deployment setting: the cluster to run on",
    "operators.graph.connected_components.driver_threshold":
        "test_extensions::test_components_distributed_matches_driver_path",
    "operators.graph.connected_components.max_iterations":
        "test_extensions::test_large_star_small_star_path_graph",
    "operators.text.bpe_train.driver_vocab_threshold":
        "test_extensions::test_bpe_train_matches_python_twin",
    "operators.partitioning.grouped_prefix_sum.buckets":
        "test_dq_properties::test_grouped_prefix_sum_random_differential",
    "operators.partitioning.grouped_prefix_peak.buckets":
        "test_round14_opts::test_grouped_prefix_peak_matches_prefix_sum_then_max",
    "operators.partitioning.grouped_bottom_k.salt_buckets":
        "test_extensions::test_grouped_bottom_k_matches_plain_window",
    "operators.dedup.jaccard_pairs.max_doc_freq":
        "test_extensions::test_jaccard_hot_shingle_skew_bounded",
    "operators.skyline.pareto_frontier_2d.buckets":
        "test_extensions::test_pareto_frontier_matches_bruteforce",
    "streaming.history.incremental_dedup_batch_fn.keep_gens":
        "test_streaming::test_history_compaction_bounds_dirs_and_preserves_verdicts",
}


def _engine_fns(scan: _Scan):
    for module, mod in scan.modules.items():
        if not module.startswith(PKG) or module in ALLOWLIST_MODULES:
            continue
        for name, node in mod.defs.items():
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and not any(
                _is_query_decorator(d) for d in node.decorator_list
            ):
                yield module, name, node


def _defaulted(fn: ast.FunctionDef) -> list[tuple[int | None, str, ast.expr]]:
    """(position, or None if keyword-only; name; default) of defaulted
    parameters."""
    a = fn.args
    pos = [*a.posonlyargs, *a.args]
    first = len(pos) - len(a.defaults)
    out = [(i, p.arg, a.defaults[i - first]) for i, p in enumerate(pos) if i >= first]
    out += [(None, p.arg, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


_ARITHMETIC = (ast.Constant, ast.BinOp, ast.UnaryOp, ast.operator, ast.unaryop)


def _constant(scan: _Scan, module: str, node: ast.expr):
    """A hashable key for a constant expression, or None if it may vary.
    Constants: literals, arithmetic on literals, tuples or lists of
    constants, and names that resolve to one engine definition."""
    if isinstance(node, (ast.Tuple, ast.List)):
        items = tuple(_constant(scan, module, e) for e in node.elts)
        return None if None in items else ("seq", items)
    if all(isinstance(n, _ARITHMETIC) for n in ast.walk(node)):
        value = eval(compile(ast.Expression(node), "<constant>", "eval"), {"__builtins__": {}})
        return (type(value).__name__, value)
    if isinstance(node, (ast.Name, ast.Attribute)):
        refs = scan.resolve(module, node)
        return ("def", *next(iter(refs))) if len(refs) == 1 else None
    return None


def _option_values(scan: _Scan) -> dict[str, set]:
    """``module.function.parameter`` (package prefix dropped) -> the
    values its entry-point uses give it: the passed expression, or the
    default where a call omits it. None stands for a value that may vary:
    a variable, a ``*args``/``**kwargs`` call, or a use of the function as
    a value."""
    fns = {(m, n): node for m, n, node in _engine_fns(scan)}
    values: dict[str, set] = {
        f"{m[len(PKG) + 1:]}.{n}.{param}": set()
        for (m, n), node in fns.items()
        for _, param, _ in _defaulted(node)
    }
    for module, mod in scan.modules.items():
        calls = {id(n.func): n for n in ast.walk(mod.tree) if isinstance(n, ast.Call)}
        for sub in ast.walk(mod.tree):
            for ref in scan.resolve(module, sub) & fns.keys():
                call = calls.get(id(sub))
                opaque = call is None or any(isinstance(a, ast.Starred) for a in call.args) or any(
                    k.arg is None for k in call.keywords
                )
                passed = {} if opaque else {k.arg: k.value for k in call.keywords}
                for i, param, default in _defaulted(fns[ref]):
                    got = values[f"{ref[0][len(PKG) + 1:]}.{ref[1]}.{param}"]
                    if opaque:
                        got.add(None)
                    elif param in passed:
                        got.add(_constant(scan, module, passed[param]))
                    elif i is not None and i < len(call.args):
                        got.add(_constant(scan, module, call.args[i]))
                    else:
                        got.add(_constant(scan, ref[0], default))
    return values


def _one_value_options(scan: _Scan) -> set[str]:
    return {opt for opt, got in _option_values(scan).items() if len(got) == 1 and None not in got}


def test_every_engine_option_takes_more_than_one_value():
    one_value = _one_value_options(_Scan())
    fresh = sorted(one_value - ALLOWED_OPTIONS.keys())
    assert not fresh, (
        "options every entry point gives the same constant (inline it and "
        "delete the branches only other values select):\n  " + "\n  ".join(fresh)
    )
    stale = sorted(ALLOWED_OPTIONS.keys() - one_value)
    assert not stale, (
        "allowlisted options that are gone or now take several values:\n  "
        + "\n  ".join(stale)
    )


def _passes(test: ast.FunctionDef, fn: str, param: str, position: int | None) -> bool:
    for call in ast.walk(test):
        if not isinstance(call, ast.Call):
            continue
        name = call.func.attr if isinstance(call.func, ast.Attribute) else getattr(call.func, "id", None)
        if name == fn and (
            any(k.arg == param for k in call.keywords)
            or (position is not None and position < len(call.args))
        ):
            return True
    return False


def test_every_test_seam_names_a_test_that_sets_it():
    """A seam must not outlive the test that justified it: the named
    ``tests/<file>.py::<test>`` must exist and pass the parameter."""
    scan = _Scan()
    fns = {f"{m[len(PKG) + 1:]}.{n}": node for m, n, node in _engine_fns(scan)}
    wrong = []
    for option, reason in ALLOWED_OPTIONS.items():
        if reason.startswith("deployment setting"):
            continue
        file, test = reason.split("::")
        path = REPO / "tests" / f"{file}.py"
        tests = [
            n for n in (ast.walk(ast.parse(path.read_text())) if path.exists() else [])
            if isinstance(n, ast.FunctionDef) and n.name == test
        ]
        qualname, param = option.rsplit(".", 1)
        position = next(i for i, p, _ in _defaulted(fns[qualname]) if p == param) if qualname in fns else None
        if not any(_passes(t, qualname.rsplit(".", 1)[1], param, position) for t in tests):
            wrong.append(f"{option}: {reason}")
    assert not wrong, "test seams whose named test is gone or does not set them:\n  " + "\n  ".join(wrong)


def test_option_scan_resolves_a_known_keyword():
    """Guard the guard: perfbench's ``get_spark(..., extra_conf=...)``
    passes a variable, which may vary; ``get_spark(master)`` is left at
    its default by every caller, which is one value."""
    scan = _Scan()
    values = _option_values(scan)
    assert None in values["session.get_spark.extra_conf"]
    assert "session.get_spark.master" in _one_value_options(scan)


def _scripts() -> list[Path]:
    return [
        *sorted((REPO / PKG).rglob("*.py")),
        *sorted((REPO / "tests").rglob("*.py")),
        *sorted(REPO.glob("*.py")),
    ]


def test_no_unused_imports():
    """No linter is in the toolchain: an import whose name is never read
    in its module fails here. ``__init__`` re-exports and ``# noqa``
    lines are exempt."""
    unused = []
    for path in _scripts():
        if path.name == "__init__.py":
            continue
        src = path.read_text()
        lines = src.splitlines()
        tree = ast.parse(src, filename=str(path))
        read = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for node in ast.walk(tree):
            if not isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            if getattr(node, "module", None) == "__future__" or "# noqa" in lines[node.lineno - 1]:
                continue
            for a in node.names:
                name = a.asname or a.name.split(".")[0]
                if name not in read:
                    unused.append(f"{path.relative_to(REPO)}:{node.lineno}: {name}")
    assert not unused, "unused imports:\n  " + "\n  ".join(unused)


def _unbound_globals(src: str, filename: str) -> list[tuple[int, str]]:
    """Names an inner scope reads as globals that the module never binds
    (assignment, import, def, class, or ``global`` plus assignment in a
    function) and that are not builtins."""
    top = symtable.symtable(src, filename, "exec")
    bound = {s.get_name() for s in top.get_symbols() if s.is_assigned() or s.is_imported() or s.is_namespace()}
    bound |= set(dir(builtins)) | {"__file__", "__builtins__", "__spec__", "__loader__", "__path__"}
    reads: list[tuple[int, str]] = []
    todo = list(top.get_children())
    while todo:
        table = todo.pop()
        todo.extend(table.get_children())
        for s in table.get_symbols():
            if s.is_declared_global() and s.is_assigned():
                bound.add(s.get_name())
            elif s.is_global() and s.is_referenced():
                reads.append((table.get_lineno(), s.get_name()))
    return sorted({r for r in reads if r[1] not in bound})


def test_no_unbound_global_names():
    """A function that reads a name its module never binds raises
    ``NameError`` only when that function runs: an import deleted while
    its call stays, or a parameter deleted while a read of it stays."""
    unbound = [
        f"{path.relative_to(REPO)}: scope at line {line} reads {name}"
        for path in _scripts()
        for line, name in _unbound_globals(path.read_text(), str(path))
    ]
    assert not unbound, "names no scope binds:\n  " + "\n  ".join(unbound)


def test_unbound_name_guard_sees_a_deleted_import():
    """Guard the guard: a call whose function-local import is gone."""
    src = "import os\n\ndef f(df):\n    return scoped_persist(df), os.sep\n"
    assert _unbound_globals(src, "<probe>") == [(3, "scoped_persist")]


def _unused_parameters(scan: _Scan) -> list[str]:
    out = []
    for module, mod in scan.modules.items():
        if not module.startswith(PKG):
            continue
        for name, node in mod.defs.items():
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) or any(
                _is_query_decorator(d) for d in node.decorator_list
            ):
                continue
            a = node.args
            params = [*a.posonlyargs, *a.args, *a.kwonlyargs, *filter(None, (a.vararg, a.kwarg))]
            read = {
                n.id for stmt in node.body for n in ast.walk(stmt)
                if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
            }
            out += [f"{module[len(PKG) + 1:]}.{name}.{p.arg}" for p in params if p.arg not in read]
    return out


def test_no_unused_parameters():
    """A parameter the body never reads makes every caller build and
    pass a value for nothing: drop it. ``@query`` functions are exempt,
    since ``(spark, sf_dir)`` is the driver contract."""
    unused = _unused_parameters(_Scan())
    assert not unused, "parameters the body never reads:\n  " + "\n  ".join(unused)
