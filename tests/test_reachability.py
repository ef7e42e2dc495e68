"""Dead-code guard: every top-level definition under ``logicash_etl_spark/``
must be reachable from an entry point.

Definitions are top-level functions, classes and module constants
(``NAME = ...``). Roots:
- ``run_logicash_pipeline``;
- every ``@query`` function, decorators included;
- module-level code of every non-``__init__`` engine module;
- all code in ``__spark_entry__.py``, ``perfbench/*.py`` and the root
  ``*.py`` scripts.

Tests are not roots: a definition that only its own tests call is dead.
``__init__`` re-exports are followed as aliases, never counted as uses.
Names resolve through each module's imports (``from m import x``,
``import m``, ``m.x``); a name that resolves to nothing is ignored.
The scan is plain ``ast``: nothing is imported or executed.
"""

from __future__ import annotations

import ast
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

    def references(self, module: str, node: ast.AST) -> set[tuple[str, str]]:
        out: set[tuple[str, str]] = set()
        for sub in ast.walk(node):
            if isinstance(sub, ast.Name):
                out |= self._symbol(module, sub.id)
            elif isinstance(sub, ast.Attribute):
                chain = _attr_chain(sub)
                if not chain:
                    continue
                for mod in self._module_alias(module, chain[0]):
                    for attr in chain[1:]:
                        if f"{mod}.{attr}" in self.modules:
                            mod = f"{mod}.{attr}"
                            continue
                        out |= self._symbol(mod, attr)
                        break
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
