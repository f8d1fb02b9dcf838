"""Which top-level definitions of the engine package can run.

A static, AST-only walk (nothing is imported). It starts from the code
the warehouse and its harnesses actually run:

- whole files: ``__spark_entry__.py``, ``bench.py``, every
  ``perfbench/*.py`` and every ``tools/*.py``;
- every definition in the served and ingest modules (``ROOT_MODULES``);
- every ``@query``-registered function of a module that is imported.

From there it follows names: a local name or an imported alias that
resolves to a top-level ``def``/``class`` of an engine module reaches
it, and ``mod.attr`` does the same through a module alias. Attribute
names passed as string literals to ``getattr(x, "name")`` or
``tracer.wrap(x, "name", ...)`` count too (also when the string comes
from a ``for name in ("a", "b")`` loop), because perfbench wraps engine
layers by name. A module's top-level statements, and the decorators
and default values of its definitions, run when the module is
imported, so they are reached as soon as anything imports the module.
A ``from … import`` inside the engine only binds a name: a package
``__init__`` re-export or an unused import keeps nothing alive. In a
root file an import counts as a use.

It also reports *missing* names: an import, attribute or wrapped name
that points into the engine at something the engine no longer defines.

It also checks the values a caller can set: each defaulted parameter of
a reached function, method or ``__init__`` must be passed by some call
in code that can run (by position, keyword, or a ``*``/``**`` splat; a
method call on an object it cannot resolve matches every engine method
of that name), and each module-level constant must be read there. Code
that can run is a root file, or in an imported engine module its
top-level statements and its reached definitions. Calls and reads in
tests, or inside an unreached definition, do not count.

Usage:
    python tools/reachability.py    # prints unreached definitions, unset
                                    # parameters, unread constants and
                                    # missing names not listed in the
                                    # KEEP tables of
                                    # tests/test_reachability.py; exit 1
                                    # if any
"""

from __future__ import annotations

import ast
import sys
from dataclasses import dataclass, field
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = "bgg_data_warehouse_spark"

# modules whose every definition is an entry point: the ingest
# pipeline, the model DAG and the read path
ROOT_MODULES = (
    "pipeline",
    "plans",
    "readers",
    "service",
    "service_http",
)
ROOT_GLOBS = ("__spark_entry__.py", "bench.py", "perfbench/*.py", "tools/*.py")
REGISTERING_DECORATORS = {"query"}
DEF_NODES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


@dataclass
class Module:
    name: str  # dotted, e.g. "bgg_data_warehouse_spark.io"; a path for roots
    tree: ast.Module
    is_package: bool = False
    defs: dict[str, ast.AST] = field(default_factory=dict)
    bound: set[str] = field(default_factory=set)
    constants: set[str] = field(default_factory=set)
    # alias -> targets: ("mod", module) or ("attr", module, name)
    aliases: dict[str, set[tuple]] = field(default_factory=dict)


def _module_name(path: Path, root: Path) -> tuple[str, bool]:
    parts = list(path.relative_to(root).with_suffix("").parts)
    if parts[-1] == "__init__":
        return ".".join(parts[:-1]), True
    return ".".join(parts), False


def _bindings(mod: "Module", stmts) -> set[str]:
    """Names a block of module-level statements binds (not descending
    into function or class bodies)."""
    out: set[str] = set()
    for node in stmts:
        if isinstance(node, DEF_NODES):
            out.add(node.name)
            continue
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            out.update(alias for _, alias in _import_targets(mod, node))
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            for t in getattr(node, "targets", None) or [node.target]:
                out.update(n.id for n in ast.walk(t) if isinstance(n, ast.Name))
        for block in ("body", "orelse", "finalbody", "handlers"):
            out |= _bindings(mod, getattr(node, block, []))
    return out


def _load(path: Path, name: str, is_package: bool = False) -> Module:
    tree = ast.parse(path.read_text(), filename=str(path))
    mod = Module(name, tree, is_package)
    mod.defs = {n.name: n for n in tree.body if isinstance(n, DEF_NODES)}
    # one alias table per module, function-local imports included
    for node in ast.walk(tree):
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            for target, alias in _import_targets(mod, node):
                mod.aliases.setdefault(alias, set()).add(target)
    mod.bound = _bindings(mod, tree.body)
    mod.constants = _constants(tree) - set(mod.defs)
    return mod


def _import_targets(mod: Module, node) -> list[tuple[tuple, str]]:
    """(target, bound alias) pairs of one import statement."""
    out = []
    if isinstance(node, ast.Import):
        for a in node.names:
            if a.asname:
                out.append((("mod", a.name), a.asname))
            else:  # "import a.b" binds "a"
                out.append((("mod", a.name.split(".")[0]), a.name.split(".")[0]))
        return out
    base = node.module or ""
    if node.level:
        pkg = mod.name.split(".")
        if not mod.is_package:
            pkg = pkg[:-1]
        pkg = pkg[: len(pkg) - (node.level - 1)]
        base = ".".join(pkg + ([base] if base else []))
    for a in node.names:
        out.append((("attr", base, a.name), a.asname or a.name))
    return out


class Graph:
    """Reachability over the engine package of the checkout at ``root``."""

    def __init__(self, root: Path = REPO):
        self.modules: dict[str, Module] = {}
        for path in sorted((root / PACKAGE).rglob("*.py")):
            name, is_pkg = _module_name(path, root)
            self.modules[name] = _load(path, name, is_pkg)
        self.roots = [
            _load(p, str(p.relative_to(root)))
            for pat in ROOT_GLOBS
            for p in sorted(root.glob(pat))
        ]
        self.loaded: set[str] = set()
        self.reached: set[tuple[str, str]] = set()
        self.missing: set[str] = set()
        self._todo: list[tuple[Module, ast.AST]] = []

    # -- resolution -------------------------------------------------------
    def _target_refs(self, target: tuple) -> list[tuple]:
        """Normalise an alias target to ("mod", m) / ("attr", m, n)."""
        if target[0] == "attr":
            _, m, n = target
            if f"{m}.{n}" in self.modules:
                return [("mod", f"{m}.{n}")]
        return [target]

    def _resolve(self, mod: Module, node) -> list[tuple]:
        if isinstance(node, ast.Name):
            if node.id in mod.defs and mod.name in self.modules:
                return [("attr", mod.name, node.id)]
            return [
                r
                for t in mod.aliases.get(node.id, ())
                for r in self._target_refs(t)
            ]
        if isinstance(node, ast.Attribute):
            out = []
            for t in self._resolve(mod, node.value):
                if t[0] == "mod":
                    out += self._target_refs(("attr", t[1], node.attr))
                elif t[0] == "attr" and t[1] in self.modules:
                    out.append(("member", t[1], t[2], node.attr))
            return out
        return []

    def _ref(self, target: tuple, where: Module, use: bool = True) -> None:
        """Reach what ``target`` names (only check it exists unless
        ``use``); record it as missing when it is gone."""
        kind, m = target[0], target[1]
        if m.split(".")[0] != PACKAGE:
            return
        if kind == "mod":
            if m not in self.modules:
                self.missing.add(f"{where.name}: module {m}")
            self._load_module(m)
            return
        if m not in self.modules:
            self.missing.add(f"{where.name}: module {m}")
            return
        self._load_module(m)
        owner, name = self.modules[m], target[2]
        if kind == "member":  # an attribute of a top-level name
            node = owner.defs.get(name)
            if node is None:
                return self._ref(("attr", m, name), where)
            member = target[3]
            if (
                isinstance(node, ast.ClassDef)
                and not member.startswith("__")
                and member not in _class_members(node)
            ):
                self.missing.add(f"{where.name}: {m}.{name}.{member}")
            self._reach(m, name)
            return
        if name in owner.defs:
            if use:
                self._reach(m, name)
        elif name in owner.aliases:  # a re-export: follow it
            for t in owner.aliases[name]:
                for r in self._target_refs(t):
                    self._ref(r, owner, use)
        elif name not in owner.bound:
            self.missing.add(f"{where.name}: {m}.{name}")

    # -- traversal --------------------------------------------------------
    def _load_module(self, name: str) -> None:
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            m = ".".join(parts[:i])
            if m in self.loaded or m not in self.modules:
                continue
            self.loaded.add(m)
            mod = self.modules[m]
            for node in mod.tree.body:
                if isinstance(node, DEF_NODES):
                    for d in node.decorator_list:
                        self._todo.append((mod, d))
                        if _decorator_name(d) in REGISTERING_DECORATORS:
                            self._reach(m, node.name)
                    if not isinstance(node, ast.ClassDef):
                        for d in node.args.defaults + node.args.kw_defaults:
                            if d is not None:
                                self._todo.append((mod, d))
                else:
                    self._todo.append((mod, node))

    def _reach(self, module: str, name: str) -> None:
        if (module, name) in self.reached:
            return
        self.reached.add((module, name))
        mod = self.modules[module]
        self._todo.append((mod, mod.defs[name]))

    def _visit(self, mod: Module, unit: ast.AST) -> None:
        loops: dict[str, list[str]] = {}
        for node in ast.walk(unit):
            if (
                isinstance(node, ast.For)
                and isinstance(node.target, ast.Name)
                and isinstance(node.iter, (ast.Tuple, ast.List))
            ):
                loops[node.target.id] = [
                    e.value for e in node.iter.elts if isinstance(e, ast.Constant)
                ]
        for node in ast.walk(unit):
            if isinstance(node, ast.Import):
                for a in node.names:
                    self._ref(("mod", a.name), mod)
            elif isinstance(node, ast.ImportFrom):
                # an import fails once the name is gone; in a root file it
                # also uses the name, in the engine it only binds it
                for target, _ in _import_targets(mod, node):
                    for r in self._target_refs(target):
                        self._ref(r, mod, use=mod.name not in self.modules)
            elif isinstance(node, (ast.Name, ast.Attribute)) and isinstance(
                getattr(node, "ctx", None), ast.Load
            ):
                for r in self._resolve(mod, node):
                    self._ref(r, mod)
            elif isinstance(node, ast.Call) and len(node.args) >= 2:
                fn = node.func
                by_name = (isinstance(fn, ast.Name) and fn.id == "getattr") or (
                    isinstance(fn, ast.Attribute) and fn.attr == "wrap"
                )
                if not by_name:
                    continue
                arg = node.args[1]
                if isinstance(arg, ast.Constant) and isinstance(arg.value, str):
                    names = [arg.value]
                elif isinstance(arg, ast.Name):
                    names = loops.get(arg.id, [])
                else:
                    names = []
                for t in self._resolve(mod, node.args[0]):
                    for n in names:
                        if t[0] == "mod":
                            self._ref(("attr", t[1], n), mod)
                        elif t[0] == "attr":
                            self._ref(("member", t[1], t[2], n), mod)

    def run(self) -> "Graph":
        for root in self.roots:
            self._todo.append((root, root.tree))
        for name in ROOT_MODULES:
            full = f"{PACKAGE}.{name}"
            for m in self.modules:
                if m == full or m.startswith(full + "."):
                    self._load_module(m)
                    for d in self.modules[m].defs:
                        self._reach(m, d)
        while self._todo:
            self._visit(*self._todo.pop())
        return self

    # -- parameters and constants -----------------------------------------
    def _all_units(self):
        """Every engine module and root file: the code whose calls and
        reads count (tests do not)."""
        return list(self.modules.values()) + self.roots

    def _run_code(self, mod: Module) -> list[ast.AST]:
        """The parts of ``mod`` that can run: a whole root file; in an
        engine module that is imported, its top-level statements, the
        decorators and defaults of every definition, and the bodies of
        the reached definitions."""
        if mod.name not in self.modules:
            return [mod.tree]
        if mod.name not in self.loaded:
            return []
        out = []
        for node in mod.tree.body:
            if not isinstance(node, DEF_NODES) or (mod.name, node.name) in self.reached:
                out.append(node)
                continue
            out += node.decorator_list
            if not isinstance(node, ast.ClassDef):
                out += [d for d in node.args.defaults + node.args.kw_defaults if d]
        return out

    def _call_targets(self, mod: Module, fn, methods: dict) -> list[tuple[ast.AST, int]]:
        """(def node, bound leading args) a call of ``fn`` may run.
        Resolved names are exact; a method call on an unresolved object
        matches every engine method of that name (``methods``: name ->
        method nodes)."""
        out = []
        for t in self._resolve(mod, fn):
            if t[0] == "attr" and t[1] in self.modules:
                node = self.modules[t[1]].defs.get(t[2])
                if isinstance(node, ast.ClassDef):
                    init = _methods(node).get("__init__")
                    if init is not None:
                        out.append((init, 1))
                elif node is not None:
                    out.append((node, 0))
            elif t[0] == "member" and t[1] in self.modules:
                cls = self.modules[t[1]].defs.get(t[2])
                meth = _methods(cls).get(t[3]) if isinstance(cls, ast.ClassDef) else None
                if meth is not None:
                    out.append((meth, 1 if _decorated(meth, "classmethod") else 0))
        if out or not isinstance(fn, ast.Attribute):
            return out
        for meth in methods.get(fn.attr, ()):
            out.append((meth, 0 if _decorated(meth, "staticmethod") else 1))
        return out

    def _passed(self) -> dict[int, set[str]]:
        """id(def node) -> names of the parameters some call in reached
        engine code or a root passes (by position, keyword or a
        ``*``/``**`` splat). A call inside an unreached definition never
        runs, so it sets nothing."""
        methods: dict[str, list[ast.AST]] = {}
        for mod in self.modules.values():
            for node in mod.defs.values():
                if isinstance(node, ast.ClassDef):
                    for name, meth in _methods(node).items():
                        methods.setdefault(name, []).append(meth)
        passed: dict[int, set[str]] = {}
        for mod in self._all_units():
            for unit in self._run_code(mod):
                for call in ast.walk(unit):
                    if isinstance(call, ast.Call):
                        self._record_call(mod, call, methods, passed)
        return passed

    def _record_call(self, mod: Module, call: ast.Call, methods, passed) -> None:
        fn, args = call.func, call.args
        if _is_partial(fn) and args:  # partial(f, ...) binds f's args
            fn, args = args[0], args[1:]
        for node, bound in self._call_targets(mod, fn, methods):
            a = node.args
            positional = [p.arg for p in a.posonlyargs + a.args]
            out = passed.setdefault(id(node), set())
            if any(isinstance(x, ast.Starred) for x in args):
                out.update(positional[bound:])
            else:
                out.update(positional[bound : bound + len(args)])
            for kw in call.keywords:
                if kw.arg is None:  # **splat
                    out.update(p.arg for p in a.args + a.kwonlyargs)
                else:
                    out.add(kw.arg)

    def unset_params(self) -> list[str]:
        """``module.def(param)`` for each defaulted parameter of a reached
        function or method (of a reached class) no call passes."""
        passed = self._passed()
        out = []
        for m, name in self.reached:
            node = self.modules[m].defs[name]
            if isinstance(node, ast.ClassDef):
                funcs = [(f"{name}.{k}", v) for k, v in _methods(node).items()]
            else:
                funcs = [(name, node)]
            for qual, fn in funcs:
                got = passed.get(id(fn), set())
                for p in _defaulted(fn):
                    if p not in got:
                        out.append(f"{_qual(m, qual)}({p})")
        return sorted(out)

    def _const_refs(self, m: str, name: str, seen=()) -> list[tuple[str, str]]:
        """Follow package re-exports of ``m.name`` to where it is bound."""
        owner = self.modules.get(m)
        if owner is None or (m, name) in seen:
            return []
        if name in owner.aliases and name not in owner.constants:
            return [
                r
                for t in owner.aliases[name]
                for tr in self._target_refs(t)
                if tr[0] == "attr"
                for r in self._const_refs(tr[1], tr[2], seen + ((m, name),))
            ]
        return [(m, name)]

    def unread_constants(self) -> list[str]:
        """``module.NAME`` for each module-level constant of the engine no
        code that can run reads (a root's import of it is a read)."""
        read: set[tuple[str, str]] = set()
        for mod in self._all_units():
            own = self.modules.get(mod.name)
            for node in (n for unit in self._run_code(mod) for n in ast.walk(unit)):
                refs = []
                if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                    if own is not None and node.id in own.constants:
                        read.add((mod.name, node.id))
                        continue
                    refs = self._resolve(mod, node)
                elif isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
                    refs = self._resolve(mod, node)
                elif isinstance(node, ast.ImportFrom) and own is None:
                    refs = [
                        r
                        for t, _ in _import_targets(mod, node)
                        for r in self._target_refs(t)
                    ]
                for r in refs:
                    if r[0] == "attr":
                        read.update(self._const_refs(r[1], r[2]))
        return sorted(
            _qual(m, name)
            for m, mod in self.modules.items()
            for name in mod.constants
            if (m, name) not in read
        )

    def unreached(self) -> list[str]:
        """``module.def`` names (package prefix dropped) nothing reaches."""
        out = []
        for m, mod in self.modules.items():
            for d in mod.defs:
                if (m, d) not in self.reached:
                    out.append(_qual(m, d))
        return sorted(out)


def _qual(module: str, name: str) -> str:
    """``module.name`` without the package prefix."""
    return f"{module[len(PACKAGE) + 1:]}.{name}" if module != PACKAGE else name


def _methods(node: ast.ClassDef) -> dict[str, ast.AST]:
    return {
        n.name: n
        for n in node.body
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    }


def _decorated(node: ast.AST, name: str) -> bool:
    return any(_decorator_name(d) == name for d in node.decorator_list)


def _is_partial(fn: ast.AST) -> bool:
    return (isinstance(fn, ast.Name) and fn.id == "partial") or (
        isinstance(fn, ast.Attribute) and fn.attr == "partial"
    )


def _defaulted(fn: ast.AST) -> list[str]:
    """Names of the parameters of ``fn`` that have a default."""
    a = fn.args
    positional = a.posonlyargs + a.args
    out = [p.arg for p in positional[len(positional) - len(a.defaults) :]]
    out += [p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def _assigned(node: ast.AST) -> list[str]:
    """Plain names a module-level (annotated) assignment binds."""
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign):
        targets = [node.target]
    else:
        return []
    return [t.id for t in targets if isinstance(t, ast.Name)]


def _constants(tree: ast.Module) -> set[str]:
    """Module-level names bound by a plain assignment (dunders aside)."""
    return {n for node in tree.body for n in _assigned(node) if not n.startswith("__")}


def _class_members(node: ast.ClassDef) -> set[str]:
    out = set()
    for sub in node.body:
        if isinstance(sub, DEF_NODES):
            out.add(sub.name)
        for t in getattr(sub, "targets", []) + [getattr(sub, "target", None)]:
            if isinstance(t, ast.Name):
                out.add(t.id)
    return out


def _decorator_name(d: ast.AST) -> str | None:
    if isinstance(d, ast.Call):
        d = d.func
    if isinstance(d, ast.Name):
        return d.id
    if isinstance(d, ast.Attribute):
        return d.attr
    return None


def _kept(root: Path = REPO) -> dict[str, dict[str, str]]:
    """The ``KEEP``/``KEEP_PARAMS``/``KEEP_CONSTANTS`` tables of
    ``tests/test_reachability.py`` (read as literals, not imported)."""
    out: dict[str, dict[str, str]] = {}
    path = root / "tests" / "test_reachability.py"
    if path.exists():
        for node in ast.parse(path.read_text()).body:
            for name in _assigned(node):
                if name.startswith("KEEP"):
                    out[name] = ast.literal_eval(node.value)
    return out


def main() -> int:
    g = Graph().run()
    kept = _kept()
    sections = {
        "unreached definitions": (g.unreached(), kept.get("KEEP", {})),
        "unset parameters": (g.unset_params(), kept.get("KEEP_PARAMS", {})),
        "unread constants": (g.unread_constants(), kept.get("KEEP_CONSTANTS", {})),
        "missing names": (sorted(g.missing), {}),
    }
    failed = False
    for title, (names, keep) in sections.items():
        unlisted = [n for n in names if n not in keep]
        failed |= bool(unlisted)
        print(f"{title}: {len(unlisted)} unlisted, {len(names) - len(unlisted)} kept")
        for name in unlisted:
            print(f"  {name}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
