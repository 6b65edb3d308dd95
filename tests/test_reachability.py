"""Every def in the warctools_spark package is reached from an entry point.

A static scan, no Spark: parse every program file, and follow names
from the entry points below to the package's top-level functions,
classes and module-level names. A def is reached when reached code
names it, directly (``foo``), through an imported module (``FR.foo``),
through a re-export, or as a string constant next to an imported module
(``getattr(FR, "foo")``). A class counts as one def with all its
methods. A module-level name assigned in the package (``_FOO = ...``)
counts as a def whose body is its assignment, so a constant no program
code reads fails the scan like an uncalled function. A module's other
top-level statements run as soon as reached code imports it. Code
inside a string that runs as a script (``python -c``) is scanned too.

Tests are not entry points: code that only tests call is deleted, not
kept. The few defs kept on purpose without a program caller are in
ALLOWLIST, each with its reason.

Run ``python tests/test_reachability.py`` to list unreached defs with
their sizes.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "warctools_spark"

# Program files whose top-level statements run as scripts or are
# imported by something outside this repository.
ENTRY_FILES = (
    "__spark_entry__.py",
    "bench.py",
    "bench_extra.py",
    "jobs/run_crawl.py",
    "tools/check_oracles.py",
    "tools/package.py",
    "tools/scaling_bench.py",
    "warctools_spark/cli.py",
    "perfbench/gen.py",
    "perfbench/run.py",
    "perfbench/tracing.py",
    "perfbench/workloads.py",
)
# Functions an outside caller invokes by name: the driver calls entry(spark).
ENTRY_DEFS = (("__spark_entry__", "entry"),)

ALLOWLIST = {
    "warctools_spark.plans.simulator.simulate_crawl":
        "the parity oracle: test_crawl_parity checks run_crawl's schedules and seen sets against it",
    "warctools_spark.kernels.robots.is_allowed":
        "the parity oracle's robots check (simulate_crawl's allow callback)",
    "warctools_spark.kernels.http_decode.parse_http_response":
        "kernel API: the warctools-compatible HTTP response parser",
    "warctools_spark.kernels.warc_write.block_digest":
        "kernel API: WARC-Block-Digest of a record block",
    "warctools_spark.functions.sql.register_sql_functions":
        "the SQL surface: registers the engine's UDFs for spark.sql",
    "warctools_spark.operators.cuckoo.insert_into_cuckoo":
        "the cuckoo table's incremental insert, the north rule's delete-capable seen set",
    "warctools_spark.operators.cuckoo.delete_from_cuckoo":
        "the north rule's fallback for deletes; run_crawl never calls it (recrawl retraction is undecided)",
}

_FORMAT = re.compile(r"%(\([^)]*\))?[rsd]")


def _module_name(rel: Path) -> str:
    if rel.parts[0] == PKG:
        parts = list(rel.with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        return ".".join(parts)
    return rel.stem  # scripts import their siblings by bare name


def _assigned(node: ast.AST) -> list[str]:
    """Names a module-level ``NAME = ...`` statement binds; dunders
    (``__version__``) are read by the import system, not by code."""
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign) and node.value is not None:
        targets = [node.target]
    else:
        return []
    names = [t.id for t in targets if isinstance(t, ast.Name)]
    if len(names) != len(targets):
        return []
    return [n for n in names if not (n.startswith("__") and n.endswith("__"))]


class _Module:
    def __init__(self, name: str, path: Path, tree: ast.Module):
        self.name, self.path, self.tree = name, path, tree
        self.is_pkg = path.name == "__init__.py"
        self.defs = {
            n.name: n
            for n in tree.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        }
        if name.split(".")[0] == PKG:
            for n in tree.body:
                for target in _assigned(n):
                    self.defs.setdefault(target, n)
        defs = set(map(id, self.defs.values()))
        self.top = [n for n in tree.body if id(n) not in defs]
        # name -> ("module", mod) | ("symbol", mod, name), from every
        # import anywhere in the file (function-local ones included)
        self.bindings: dict[str, tuple] = {}

    def absolute(self, node: ast.ImportFrom) -> str:
        if not node.level:
            return node.module or ""
        base = self.name.split(".")
        if not self.is_pkg:
            base = base[:-1]
        base = base[: len(base) - (node.level - 1)]
        return ".".join(base + ([node.module] if node.module else []))


class Scan:
    def __init__(self, repo: Path = REPO):
        files = sorted((repo / PKG).rglob("*.py"))
        files += [repo / f for f in ENTRY_FILES if not f.startswith(PKG + "/")]
        self.modules: dict[str, _Module] = {}
        for path in files:
            rel = path.relative_to(repo)
            m = _Module(_module_name(rel), path, ast.parse(path.read_text(), str(rel)))
            self.modules[m.name] = m
        for m in self.modules.values():
            for node in ast.walk(m.tree):
                self._bind(m, node)
        self.entry = [_module_name(Path(f)) for f in ENTRY_FILES]

    def _bind(self, m: _Module, node: ast.AST) -> None:
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:
                    m.bindings[a.asname] = ("module", a.name)
                else:
                    top = a.name.split(".")[0]
                    m.bindings.setdefault(top, ("module", top))
        elif isinstance(node, ast.ImportFrom):
            src = m.absolute(node)
            for a in node.names:
                local = a.asname or a.name
                if f"{src}.{a.name}" in self.modules:
                    m.bindings[local] = ("module", f"{src}.{a.name}")
                else:
                    m.bindings[local] = ("symbol", src, a.name)

    # -- reference resolution ------------------------------------------
    def _symbol(self, mod: str, name: str, seen=()) -> list[tuple]:
        m = self.modules.get(mod)
        if m is None:
            return []
        out = [(mod, None)]
        if name in m.defs:
            out.append((mod, name))
        elif name in m.bindings and (mod, name) not in seen:
            out += self._binding(m.bindings[name], seen + ((mod, name),))
        return out

    def _binding(self, b: tuple, seen=()) -> list[tuple]:
        if b[0] == "module":
            return self._module_chain(b[1])
        return self._symbol(b[1], b[2], seen)

    def _module_chain(self, mod: str) -> list[tuple]:
        parts = mod.split(".")
        return [(".".join(parts[:i]), None) for i in range(1, len(parts) + 1)
                if ".".join(parts[:i]) in self.modules]

    def _resolve_attr(self, m: _Module, node: ast.Attribute) -> list[tuple]:
        chain = []
        while isinstance(node, ast.Attribute):
            chain.append(node.attr)
            node = node.value
        if not isinstance(node, ast.Name) or node.id not in m.bindings:
            return []
        b = m.bindings[node.id]
        if b[0] != "module":
            return []
        mod, out = b[1], self._module_chain(b[1])
        for attr in reversed(chain):
            if f"{mod}.{attr}" in self.modules:
                mod = f"{mod}.{attr}"
                out.append((mod, None))
            else:
                return out + self._symbol(mod, attr)
        return out

    def refs(self, m: _Module, nodes: list[ast.AST]) -> set[tuple]:
        """(module, def-or-None) pairs the given statements reach."""
        out: set[tuple] = set()
        near = {m.name} | {b[1] for b in m.bindings.values() if b[0] == "module"}
        for top in nodes:
            for node in ast.walk(top):
                if isinstance(node, ast.Name):
                    if isinstance(node.ctx, ast.Store):
                        continue  # binding a name does not read it
                    if node.id in m.defs:
                        out.add((m.name, node.id))
                    elif node.id in m.bindings:
                        out.update(self._binding(m.bindings[node.id]))
                elif isinstance(node, ast.Attribute):
                    out.update(self._resolve_attr(m, node))
                elif isinstance(node, ast.Import):
                    for a in node.names:
                        out.update(self._module_chain(a.name))
                elif isinstance(node, ast.ImportFrom):
                    src = m.absolute(node)
                    out.update(self._module_chain(src))
                    for a in node.names:
                        out.update(self._module_chain(f"{src}.{a.name}"))
                elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                    s = node.value
                    if s.isidentifier():
                        for mod in near:
                            if mod in self.modules and s in self.modules[mod].defs:
                                out.add((mod, s))
                    elif "import " in s:
                        out |= self._script_refs(m, s)
        return out

    def _script_refs(self, m: _Module, src: str) -> set[tuple]:
        try:
            tree = ast.parse(_FORMAT.sub("None", src))
        except SyntaxError:
            return set()
        sub = _Module(m.name, m.path, tree)
        for node in ast.walk(tree):
            self._bind(sub, node)
        return self.refs(sub, tree.body)

    # -- the fixpoint --------------------------------------------------
    def reached(self, extra_roots=()) -> set[tuple]:
        todo = [(name, None) for name in self.entry] + list(ENTRY_DEFS) + list(extra_roots)
        done: set[tuple] = set()
        while todo:
            key = todo.pop()
            if key in done or key[0] not in self.modules:
                continue
            if key[1] is not None and key[1] not in self.modules[key[0]].defs:
                continue  # a def of an embedded script, scanned with it
            done.add(key)
            mod, name = key
            m = self.modules[mod]
            body = m.top if name is None else [m.defs[name]]
            todo += self.refs(m, body)
            todo.append((mod, None))
        return done

    def package_defs(self) -> dict[str, ast.AST]:
        return {
            f"{m.name}.{name}": node
            for m in self.modules.values()
            if m.name.split(".")[0] == PKG
            for name, node in m.defs.items()
        }

    def unreached(self, extra_roots=()) -> dict[str, ast.AST]:
        done = self.reached(extra_roots)
        return {q: n for q, n in self.package_defs().items() if _key(q) not in done}


def _key(qual: str) -> tuple:
    return tuple(qual.rsplit(".", 1))


def test_every_package_def_is_reached():
    dead = Scan().unreached(_key(q) for q in ALLOWLIST)
    assert not dead, (
        "package defs no entry point reaches (delete them with their tests, "
        "or allowlist them with a reason): %s" % sorted(dead)
    )


def test_allowlist_is_minimal():
    scan = Scan()
    defs = scan.package_defs()
    missing = [q for q in ALLOWLIST if q not in defs]
    assert not missing, "allowlisted defs that no longer exist: %s" % missing
    unreached = scan.unreached()
    live = [q for q in ALLOWLIST if q not in unreached]
    assert not live, "allowlisted defs an entry point already reaches: %s" % live
    assert all(reason.strip() for reason in ALLOWLIST.values())


if __name__ == "__main__":
    rows = sorted(
        (q, n.end_lineno - n.lineno + 1)
        for q, n in Scan().unreached(_key(q) for q in ALLOWLIST).items()
    )
    for q, lines in rows:
        print("%5d  %s" % (lines, q))
    print("%5d  total (%d defs)" % (sum(n for _, n in rows), len(rows)))
