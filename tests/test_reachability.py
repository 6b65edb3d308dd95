"""Every def in the warctools_spark package is reached from an entry point,
and every option it offers is set by some caller.

A static scan, no Spark: parse every program file, and follow names
from the entry points below to the package's top-level functions,
classes, methods and module-level names. A def is reached when reached
code names it, directly (``foo``), through an imported module
(``FR.foo``), through a re-export, or as a string constant next to an
imported module (``getattr(FR, "foo")``). A method of a package class
is a def of its own: it is reached when its class is and reached code
names it as an attribute (``x.foo``) or as a string constant; dunder
methods run with their class. A module-level name assigned in the
package (``_FOO = ...``) counts as a def whose body is its assignment,
so a constant no program code reads fails the scan like an uncalled
function. A module's other top-level statements run as soon as reached
code imports it. Code inside a string that runs as a script
(``python -c``) is scanned too.

An option is a keyword default of a public package function, method or
class constructor.
It is set when some call site in the package, the entry files or
``tests/`` passes it by keyword or by position, or passes ``**kwargs``;
a call site that passes the default's own literal (``html_col="html"``
for ``html_col="html"``) does not set it.
A call whose first argument is a string constant naming a package
function (``call("fn", x, kw=v)``, a dispatch through ``getattr``)
counts as a call of that function with the remaining arguments. An
option no call site sets is a constant, and is written as one.

A field of a package dataclass is read when program code loads it as
an attribute (``res.body``) under its name; a field only tests read is
state the program carries for nothing.

Tests are not entry points: code that only tests call is deleted, not
kept. The few defs and options kept on purpose without a program caller
are in ALLOWLIST, each with its reason. An option that only tests set
selects a path no entry point runs; the ones that stay until the
change that owns them are in DEFERRED, and their number may only fall.

Run ``python tests/test_reachability.py`` to list unreached defs,
unset options with their sizes (those whose every setter passes the
default apart), dataclass fields no program code reads, and each option
only tests set with the test lines that set it (allowlisted, deferred
and the rest apart).
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
    "warctools_spark.cli.main(argv=)":
        "the process's input: None reads sys.argv, as the console script does",
    "warctools_spark.kernels.robots.parse_robots(agent=)":
        "deployment setting: the crawler's user-agent token picks the robots.txt group",
    "warctools_spark.operators.unpack.unpack_to_files(wayback_prefix=)":
        "deployment setting: the replay base URL in each unpack log row (warcunpack_ia -W)",
    "warctools_spark.kernels.http_decode.decode_http(kind=)":
        "warctools' request decoding (RequestMessage): test_http_kernel's "
        "assert_request_parity checks kind='request' against the reference",
}

# Options only tests set that stay until the change that owns them;
# each names that change. Entries may go, none may be added.
DEFERRED = {
    "warctools_spark.operators.seen.build_bloom(fpr=)":
        "one seen-set layout (ROADMAP): the bucketed Bloom replaces this build",
    "warctools_spark.operators.seen.probe_bucketed(probe_salts=)":
        "one seen-set layout (ROADMAP): the bucketed Bloom deletes the salting",
    "warctools_spark.plans.epoch.run_epoch(robots=)":
        "robots in the crawl loop (ROADMAP)",
    "warctools_spark.plans.simulator.simulate_crawl(robots=)":
        "robots in the crawl loop (ROADMAP): the oracle's side of run_epoch(robots=)",
    "warctools_spark.plans.simulator.simulate_crawl(k_per_host=)":
        "robots in the crawl loop (ROADMAP): the parity tests vary the politeness budget",
    "warctools_spark.operators.robots.apply_robots(match_mode=)":
        "robots in the crawl loop (ROADMAP)",
    "warctools_spark.plans.epoch.run_crawl(compact_every=)":
        "the compaction tests need cadences of 2 and 4; choosing the policy "
        "(constant, job flag or size-tiered) is a change of its own",
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
    return [n for n in names if not _dunder(n)]


def _dunder(name: str) -> bool:
    return name.startswith("__") and name.endswith("__")


_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _decorated(node: ast.AST, name: str) -> bool:
    """``@name`` or ``@name(...)``."""
    return any(isinstance(d, ast.Name) and d.id == name
               or isinstance(d, ast.Call) and isinstance(d.func, ast.Name)
               and d.func.id == name
               for d in node.decorator_list)


class _Module:
    def __init__(self, name: str, path: Path, tree: ast.Module, in_pkg: bool = False):
        self.name, self.path, self.tree = name, path, tree
        self.is_pkg = path.name == "__init__.py"
        self.defs = {
            n.name: n
            for n in tree.body
            if isinstance(n, (*_FUNCS, ast.ClassDef))
        }
        # attribute name -> ["Class.name", ...]: the methods of a package
        # class are defs of their own, keyed "Class.name", unless it
        # derives from an outside class, whose code may call any of them
        self.methods: dict[str, list[str]] = {}
        if in_pkg:
            for n in tree.body:
                for target in _assigned(n):
                    self.defs.setdefault(target, n)
            for cls in tree.body:
                if not isinstance(cls, ast.ClassDef) or cls.bases:
                    continue
                for f in cls.body:
                    if isinstance(f, _FUNCS) and not _dunder(f.name):
                        q = f"{cls.name}.{f.name}"
                        self.defs[q] = f
                        self.methods.setdefault(f.name, []).append(q)
        defs = set(map(id, self.defs.values()))
        self.top = [n for n in tree.body if id(n) not in defs]
        # name -> ("module", mod) | ("symbol", mod, name), from every
        # import anywhere in the file (function-local ones included)
        self.bindings: dict[str, tuple] = {}

    def body(self, name: str) -> list[ast.AST]:
        """What runs when def `name` is reached: a class's body without
        the methods that are defs of their own."""
        node = self.defs[name]
        if not isinstance(node, ast.ClassDef):
            return [node]
        return [*node.decorator_list, *node.bases, *node.keywords] + [
            s for s in node.body if f"{name}.{getattr(s, 'name', '')}" not in self.defs
        ]

    def absolute(self, node: ast.ImportFrom) -> str:
        if not node.level:
            return node.module or ""
        base = self.name.split(".")
        if not self.is_pkg:
            base = base[:-1]
        base = base[: len(base) - (node.level - 1)]
        return ".".join(base + ([node.module] if node.module else []))


class Scan:
    def __init__(self, repo: Path = REPO, entry_files=ENTRY_FILES, allowlist=ALLOWLIST):
        self.repo, self.allowlist = repo, allowlist
        files = sorted((repo / PKG).rglob("*.py"))
        files += [repo / f for f in entry_files if not f.startswith(PKG + "/")]
        self.modules: dict[str, _Module] = {}
        for path in files:
            m = self._parse(repo, path)
            self.modules[m.name] = m
        # tests set options but reach nothing: they are not entry points
        tests = sorted((repo / "tests").rglob("*.py"))
        self.tests = [self._parse(repo, p) for p in tests]
        for m in [*self.modules.values(), *self.tests]:
            for node in ast.walk(m.tree):
                self._bind(m, node)
        self.entry = [_module_name(Path(f)) for f in entry_files]

    @staticmethod
    def _parse(repo: Path, path: Path) -> _Module:
        rel = path.relative_to(repo)
        name = _module_name(rel)
        tree = ast.parse(path.read_text(), str(rel))
        return _Module(name, path, tree, in_pkg=name.split(".")[0] == PKG)

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

    def refs(self, m: _Module, nodes: list[ast.AST], names: set) -> set[tuple]:
        """(module, def-or-None) pairs the given statements reach; the
        attribute names and string constants they use go into `names`."""
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
                    names.add(node.attr)
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
                        names.add(s)
                        for mod in near:
                            if mod in self.modules and s in self.modules[mod].defs:
                                out.add((mod, s))
                    elif "import " in s:
                        out |= self._script_refs(m, s, names)
        return out

    def _script_refs(self, m: _Module, src: str, names: set) -> set[tuple]:
        try:
            tree = ast.parse(_FORMAT.sub("None", src))
        except SyntaxError:
            return set()
        sub = _Module(m.name, m.path, tree)
        for node in ast.walk(tree):
            self._bind(sub, node)
        return self.refs(sub, tree.body, names)

    # -- the fixpoint --------------------------------------------------
    def reached(self, extra_roots=()) -> set[tuple]:
        todo = [(name, None) for name in self.entry] + list(ENTRY_DEFS)
        todo += extra_roots
        done: set[tuple] = set()
        names: set[str] = set()
        while todo:
            while todo:
                key = todo.pop()
                if key in done or key[0] not in self.modules:
                    continue
                if key[1] is not None and key[1] not in self.modules[key[0]].defs:
                    continue  # a def of an embedded script, scanned with it
                done.add(key)
                mod, name = key
                m = self.modules[mod]
                body = m.top if name is None else m.body(name)
                todo += self.refs(m, body, names)
                todo.append((mod, None))
                if name is not None and "." in name:
                    todo.append((mod, name.split(".")[0]))
            # a reached class's methods that reached code names
            for mod, cls in list(done):
                m = self.modules[mod]
                for attr in names & m.methods.keys():
                    todo += [(mod, q) for q in m.methods[attr]
                             if q.startswith(f"{cls}.") and (mod, q) not in done]
        return done

    def package_defs(self) -> dict[str, tuple]:
        """Qualified name -> (module, def) of every package def."""
        return {
            f"{m.name}.{name}": (m.name, name)
            for m in self.modules.values()
            if m.name.split(".")[0] == PKG
            for name in m.defs
        }

    def node(self, key: tuple) -> ast.AST:
        return self.modules[key[0]].defs[key[1]]

    def unreached(self) -> dict[str, tuple]:
        defs = self.package_defs()
        done = self.reached([defs[q] for q in self.allowlist if q in defs])
        return {q: k for q, k in defs.items() if k not in done}

    # -- options -------------------------------------------------------
    def options(self) -> dict[str, tuple]:
        """``qual(name=)`` -> (module, def, parameter name, parameter
        index or None for keyword-only, default expression) of every
        keyword default of a public package function, method or class
        constructor."""
        out = {}
        for q, (mod, name) in self.package_defs().items():
            node = self.node((mod, name))
            if any(p.startswith("_") for p in name.split(".")):
                continue
            if isinstance(node, ast.ClassDef):
                node = next((f for f in node.body
                             if isinstance(f, _FUNCS) and f.name == "__init__"), None)
            if not isinstance(node, _FUNCS):
                continue
            a = node.args
            pos = a.posonlyargs + a.args
            first = len(pos) - len(a.defaults)
            for i, (arg, d) in enumerate(zip(pos[first:], a.defaults), first):
                out[f"{q}({arg.arg}=)"] = (mod, name, arg.arg, i, d)
            for arg, d in zip(a.kwonlyargs, a.kw_defaults):
                if d is not None:
                    out[f"{q}({arg.arg}=)"] = (mod, name, arg.arg, None, d)
        return out

    def _call_targets(self, m: _Module, func: ast.AST) -> list[tuple]:
        """(module, def, bound) for each package def a call may run;
        `bound` counts the leading parameters the call does not pass
        (``self``). An attribute call on an object matches every
        method of that name."""
        if isinstance(func, ast.Name):
            if func.id in m.defs:
                found = [(m.name, func.id)] if m.name in self.modules else []
            elif func.id in m.bindings:
                found = self._binding(m.bindings[func.id])
            else:
                return []
        elif isinstance(func, ast.Attribute):
            found = self._resolve_attr(m, func)
            if not any(d for _, d in found):
                return [
                    (mod, q, int(not _decorated(other.defs[q], "staticmethod")))
                    for mod, other in self.modules.items()
                    for q in other.methods.get(func.attr, [])
                ]
        else:
            return []
        out = []
        for mod, name in found:
            node = self.modules[mod].defs.get(name) if name else None
            if isinstance(node, (*_FUNCS, ast.ClassDef)):
                out.append((mod, name, int(isinstance(node, ast.ClassDef))))
        return out

    def calls(self) -> dict[tuple, list[tuple]]:
        """(module, def) -> [(where, positional arguments with a None
        for each leading parameter the call does not pass, or None for
        ``*args``; keyword arguments by name, or None for
        ``**kwargs``; (file, line))] over every call site, `where` being
        "program" or "tests"."""
        out: dict[tuple, list[tuple]] = {}
        for where, mods in (("program", self.modules.values()), ("tests", self.tests)):
            for m in mods:
                # ``cls(...)`` in a class's own code constructs it
                own = {id(c): (m.name, cls.name, 1)
                       for cls in m.tree.body if isinstance(cls, ast.ClassDef)
                       for c in ast.walk(cls) if isinstance(c, ast.Call)
                       and isinstance(c.func, ast.Name) and c.func.id == "cls"}
                for call in ast.walk(m.tree):
                    if not isinstance(call, ast.Call):
                        continue
                    if id(call) in own:
                        targets = [(own[id(call)], call.args)]
                    else:
                        targets = [
                            (t, call.args) for t in self._call_targets(m, call.func)
                        ]
                    # call("fn", *args, **kw): a dispatch by name
                    first = call.args[0] if call.args else None
                    if isinstance(call.func, ast.Name) and isinstance(
                        first, ast.Constant
                    ) and isinstance(first.value, str):
                        targets += [
                            ((mod, first.value, 0), call.args[1:])
                            for mod, other in self.modules.items()
                            if mod.split(".")[0] == PKG
                            and isinstance(other.defs.get(first.value), _FUNCS)
                        ]
                    kws = {kw.arg: kw.value for kw in call.keywords}
                    loc = (str(m.path.relative_to(self.repo)), call.lineno)
                    for (mod, name, bound), args in targets:
                        star = any(isinstance(a, ast.Starred) for a in args)
                        out.setdefault((mod, name), []).append(
                            (where, None if star else [None] * bound + list(args),
                             None if None in kws else kws, loc))
        return out

    def sites(self, defaults_set: bool = False) -> dict[str, list[tuple]]:
        """Option -> [(where, (file, line))] of the call sites that set
        it, allowlisted options included. A call site that passes the
        default's own literal sets it only when `defaults_set`."""
        calls = self.calls()
        out = {}
        for q, (mod, name, param, index, default) in self.options().items():
            out[q] = []
            for where, args, kws, loc in calls.get((mod, name), ()):
                if args is None or kws is None:
                    out[q].append((where, loc))
                    continue
                if param in kws:
                    value = kws[param]
                elif index is not None and index < len(args):
                    value = args[index]
                else:
                    continue
                if defaults_set or not _same_literal(value, default):
                    out[q].append((where, loc))
        return out

    def setters(self, defaults_set: bool = False) -> dict[str, set]:
        """Option -> where a call site sets it ({"program", "tests"} or
        a subset; empty when none does), allowlisted options left out."""
        return {q: {where for where, _ in s}
                for q, s in self.sites(defaults_set).items()
                if q not in self.allowlist}

    def test_only(self) -> list[str]:
        """Options only tests set, allowlisted options left out."""
        return sorted(q for q, where in self.setters().items() if where == {"tests"})

    def default_only(self) -> list[str]:
        """Options that call sites pass, but only as their default."""
        real, passed = self.setters(), self.setters(defaults_set=True)
        return sorted(q for q, where in real.items() if not where and passed[q])

    # -- dataclass fields ----------------------------------------------
    def unread_fields(self) -> dict[str, bool]:
        """``module.Class.field`` -> whether a test reads it, for each
        field of a package dataclass that no program code reads."""
        read = {"program": set(), "tests": set()}
        for where, mods in (("program", self.modules.values()), ("tests", self.tests)):
            for m in mods:
                for node in ast.walk(m.tree):
                    if isinstance(node, ast.AugAssign):
                        node = node.target  # ``x.n += 1`` reads x.n
                    elif isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Store):
                        continue
                    if isinstance(node, ast.Attribute):
                        read[where].add(node.attr)
        out = {}
        for q, (mod, name) in self.package_defs().items():
            node = self.node((mod, name))
            if not isinstance(node, ast.ClassDef) or not _decorated(node, "dataclass"):
                continue
            for f in node.body:
                if (isinstance(f, ast.AnnAssign) and isinstance(f.target, ast.Name)
                        and f.target.id not in read["program"]):
                    out[f"{q}.{f.target.id}"] = f.target.id in read["tests"]
        return out


_NOT_LITERAL = object()


def _literal(node: ast.AST):
    try:
        return ast.literal_eval(node)
    except (ValueError, TypeError, SyntaxError):
        return _NOT_LITERAL


def _same_literal(a: ast.AST, b: ast.AST) -> bool:
    """Both are literals of one type and value (``True`` is not ``1``)."""
    x, y = _literal(a), _literal(b)
    return x is not _NOT_LITERAL and type(x) is type(y) and x == y


def _lines(node: ast.AST, param: str | None = None) -> int:
    """A def's size in lines; for an option, the lines of its def that
    name the parameter (the signature included)."""
    if param is None:
        return node.end_lineno - node.lineno + 1
    return len({n.lineno for n in ast.walk(node)
                if isinstance(n, ast.Name) and n.id == param
                or isinstance(n, ast.arg) and n.arg == param})


def test_every_package_def_is_reached():
    dead = Scan().unreached()
    assert not dead, (
        "package defs no entry point reaches (delete them with their tests, "
        "or allowlist them with a reason): %s" % sorted(dead)
    )


def test_every_option_is_set():
    unset = sorted(q for q, where in Scan().setters().items() if not where)
    assert not unset, (
        "keyword defaults no call site sets (make each a constant, or "
        "allowlist it with a reason): %s" % unset
    )


def test_every_dataclass_field_is_read():
    unread = Scan().unread_fields()
    assert not unread, (
        "dataclass fields no program code reads (delete them; a test "
        "checks what the program does with the rest): %s" % sorted(unread)
    )


def test_allowlist_is_minimal():
    bare = Scan(allowlist={})
    defs, options = bare.package_defs(), bare.options()
    missing = [q for q in ALLOWLIST if q not in defs and q not in options]
    assert not missing, "allowlisted names that no longer exist: %s" % missing
    unreached = bare.unreached()
    live = [q for q in ALLOWLIST if q in defs and q not in unreached]
    assert not live, "allowlisted defs an entry point already reaches: %s" % live
    # tests may set an allowlisted option: a kernel mode stays allowlisted
    # because a test checks it against the reference
    setters = bare.setters()
    live = [q for q in ALLOWLIST if q in options and "program" in setters[q]]
    assert not live, "allowlisted options program code already sets: %s" % live
    assert all(reason.strip() for reason in ALLOWLIST.values())


def undeferred(scan: Scan, deferred=DEFERRED) -> list[str]:
    """Options only tests set that `deferred` does not name."""
    return [q for q in scan.test_only() if q not in deferred]


def test_options_only_tests_set_do_not_grow():
    scan = Scan()
    only = scan.test_only()
    new = undeferred(scan)
    assert not new, (
        "options only tests set (make each a constant equal to its default "
        "and delete the path it selected): %s" % new
    )
    stale = sorted(set(DEFERRED) - set(only))
    assert not stale, "deferred options no longer set only by tests: %s" % stale


def test_scan_reports_planted_method_and_option(tmp_path):
    """The guard itself, on a tiny package: it names exactly the method
    no code calls, the option no call site sets to anything but its
    default and the dataclass field only a test reads."""
    pkg = tmp_path / PKG
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "mod.py").write_text(
        "from dataclasses import dataclass\n"
        "\n"
        "\n"
        "@dataclass\n"
        "class Result:\n"
        "    value: int = 0\n"
        "    tested: bool = False\n"
        "\n"
        "\n"
        "class Box:\n"
        "    def __init__(self):\n"
        "        self.n = 0\n"
        "\n"
        "    def used(self):\n"
        "        return self.n\n"
        "\n"
        "    def unused(self):\n"
        "        return -self.n\n"
        "\n"
        "\n"
        "def run(x, by_position=1, by_keyword=2, by_dispatch=3, never=4):\n"
        "    r = Result(x + by_position + by_keyword + by_dispatch + never)\n"
        "    r.tested = True\n"
        "    return r\n"
    )
    (tmp_path / "main.py").write_text(
        "from warctools_spark import mod\n"
        "\n"
        "\n"
        "def call(name, *args, **kw):\n"
        "    return getattr(mod, name)(*args, **kw)\n"
        "\n"
        "\n"
        "mod.Box().used()\n"
        "mod.run(0, 5)\n"
        "mod.run(0, by_keyword=6)\n"
        'call("run", 0, by_dispatch=7)\n'
        "mod.run(0, 1, never=4)\n"
        "mod.run(0, by_keyword=True).value\n"
    )
    (tmp_path / "tests").mkdir()
    (tmp_path / "tests" / "test_mod.py").write_text(
        "from warctools_spark import mod\n"
        "\n"
        "\n"
        "def test_run():\n"
        "    assert mod.run(0).tested\n"
    )
    scan = Scan(tmp_path, entry_files=("main.py",), allowlist={})
    assert sorted(scan.unreached()) == ["warctools_spark.mod.Box.unused"]
    setters = scan.setters()
    assert sorted(q for q, where in setters.items() if not where) == [
        "warctools_spark.mod.run(never=)"
    ]
    assert setters["warctools_spark.mod.run(by_position=)"] == {"program"}
    # never=4 passes the default: the option is passed, but never set
    assert scan.default_only() == ["warctools_spark.mod.run(never=)"]
    # the field r.tested is written by the program and read by a test only
    assert scan.unread_fields() == {"warctools_spark.mod.Result.tested": True}


def test_ratchet_fails_on_planted_eighth_option(tmp_path):
    """Eight options only a test sets, seven of them deferred: the
    ratchet names the eighth, and an allowlisted one does not count."""
    pkg = tmp_path / PKG
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    names = [f"o{i}" for i in range(9)]
    (pkg / "mod.py").write_text(
        "def run(x, %s):\n    return x\n" % ", ".join(f"{n}=0" for n in names)
    )
    (tmp_path / "main.py").write_text("from warctools_spark import mod\n\nmod.run(1)\n")
    (tmp_path / "tests").mkdir()
    (tmp_path / "tests" / "test_mod.py").write_text(
        "from warctools_spark import mod\n\n\ndef test_run():\n"
        "    assert mod.run(1, %s) == 1\n" % ", ".join(f"{n}=1" for n in names)
    )
    def q(name):
        return f"warctools_spark.mod.run({name}=)"

    allowlist = {q("o8"): "checked against the reference"}
    scan = Scan(tmp_path, entry_files=("main.py",), allowlist=allowlist)
    deferred = {q(n): "owned elsewhere" for n in names[:7]}
    assert len(scan.test_only()) == 8
    assert undeferred(scan, deferred) == [q("o7")]
    assert undeferred(scan, {**deferred, q("o7"): "owned elsewhere"}) == []


if __name__ == "__main__":
    scan = Scan()
    rows = sorted((q, _lines(scan.node(k))) for q, k in scan.unreached().items())
    for q, lines in rows:
        print("%5d  %s" % (lines, q))
    print("%5d  total (%d defs)" % (sum(n for _, n in rows), len(rows)))
    setters, options = scan.setters(), scan.options()
    default_only = scan.default_only()
    for label, names in (
        ("unset options", [q for q, w in setters.items() if not w and q not in default_only]),
        ("options set only to their default", default_only),
    ):
        rows = sorted((q, _lines(scan.node(options[q][:2]), options[q][2]))
                      for q in names)
        for q, lines in rows:
            print("%5d  %s" % (lines, q))
        print("%5d  total (%d %s of %d)"
              % (sum(n for _, n in rows), len(rows), label, len(options)))
    unread = scan.unread_fields()
    for q, tested in sorted(unread.items()):
        print("       %s%s" % (q, " (read by tests)" if tested else ""))
    print("%5d  dataclass fields no program code reads" % len(unread))
    sites = scan.sites()
    only = scan.test_only()
    allowed = sorted(q for q in scan.allowlist
                     if q in sites and sites[q]
                     and all(w == "tests" for w, _ in sites[q]))
    for label, names in (
        ("allowlisted", allowed),
        ("deferred", [q for q in only if q in DEFERRED]),
        ("remaining", [q for q in only if q not in DEFERRED]),
    ):
        print("%d options only tests set, %s:" % (len(names), label))
        for q in names:
            print("       %s" % q)
            for loc in sorted({loc for _, loc in sites[q]}):
                print("           %s:%d" % loc)
