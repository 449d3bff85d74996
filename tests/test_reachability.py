"""Every top-level definition and every method of the package is
reached from a program root.

The roots are the driver contract (``__spark_entry__.py``), the
spark-submit job, the two bench scripts, the benchmark harness
(``perfbench/``) and ``tools/``. The walk parses the package and the
roots with ``ast`` and follows name references: bare names to the
module's own top-level definitions, imported names and module
attributes to the module that defines them, and a string tuple naming
a package module plus one of its definitions (the shape
``perfbench/tracing.py`` uses to wrap functions by name). A reached
function's whole body is walked in turn.

A reached class walks its bases, decorators, class-level statements
and dunder methods. Its other methods are walked only once reached
code names them, as an attribute (``x.name``) or as a string constant
(``getattr(x, "name")``). A class with a base outside the package
walks every method: code outside the package may call its overrides
(pickle hooks, for example). Tests are not roots: code only a test
calls has no caller in the program.

The one exception is ``ALLOWLIST``: reference-parity kernels that no
root calls but a differential test pins to a reference transcription.
Each entry, a top-level ``name`` or a ``Class.method``, is walked as
an extra root. An entry that names no definition, or that a root
reaches anyway, fails the guard, so the list cannot outlive its
reason.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "remediner_spark"
ROOTS = (
    "__spark_entry__.py", "job.py", "bench.py", "bench_extra.py",
    "perfbench", "tools",
)
# (module, definition or Class.method): the test that pins it
ALLOWLIST = (
    # test_kernels.TestIOB::test_row_adapter_joins_with_spaces
    ("remediner_spark.kernels.iob", "iob_tag_row"),
    # test_kernel_differential, test_kernels.TestMask (byte parity)
    ("remediner_spark.kernels.mask", "mask_texts_batch"),
    ("remediner_spark.kernels.mask", "mask_single"),
    # test_reconstruct_differential
    ("remediner_spark.kernels.reconstruct", "reconstruct_masked_text"),
    # test_wordpiece_real
    ("remediner_spark.kernels.wordpiece", "tokenize_words_with_labels"),
    # test_tagmatch_differential: the per-sentence referee BatchMatcher
    # is pinned against
    ("remediner_spark.operators.ner", "GazetteerTagger.tag_words"),
    # the plan-count helper of test_scan and test_streaming_edges
    ("remediner_spark.plancheck", "physical_nodes"),
    # package metadata: read by tooling, called by nothing
    ("remediner_spark", "__version__"),
)


def _py_files(rel: str):
    full = os.path.join(ROOT, rel)
    if full.endswith(".py"):
        yield rel
        return
    for dirpath, _dirs, names in os.walk(full):
        for n in sorted(names):
            if n.endswith(".py"):
                yield os.path.relpath(os.path.join(dirpath, n), ROOT)


def _module_name(rel: str) -> str:
    parts = rel[:-3].split(os.sep)
    if parts[-1] == "__init__":
        parts = parts[:-1]
    return ".".join(parts)


class _Module:
    def __init__(self, name: str, rel: str) -> None:
        self.name = name
        self.is_package = rel.endswith("__init__.py")
        with open(os.path.join(ROOT, rel)) as fh:
            self.tree = ast.parse(fh.read(), rel)
        self.defs: dict[str, list[ast.AST]] = {}
        # "Class.method" -> its def nodes (a property setter adds one)
        self.methods: dict[str, list[ast.AST]] = {}
        for node in self.tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                self.defs.setdefault(node.name, []).append(node)
                for fn in node.body if isinstance(node, ast.ClassDef) else ():
                    if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        self.methods.setdefault(
                            f"{node.name}.{fn.name}", []
                        ).append(fn)
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = (node.targets if isinstance(node, ast.Assign)
                           else [node.target])
                for t in targets:
                    for n in ast.walk(t):
                        if isinstance(n, ast.Name):
                            self.defs.setdefault(n.id, []).append(node)

    def package(self) -> str:
        return self.name if self.is_package else self.name.rpartition(".")[0]


class _Walk:
    def __init__(self, roots=ROOTS) -> None:
        self.modules: dict[str, _Module] = {}
        for rel in _py_files(PACKAGE):
            self.modules[_module_name(rel)] = _Module(_module_name(rel), rel)
        self.roots = []
        for r in roots:
            for rel in _py_files(r):
                m = _Module(_module_name(rel), rel)
                self.modules.setdefault(m.name, m)
                self.roots.append(m)
        # alias -> (module, attr or None), from every import in a module
        self.aliases = {m.name: self._aliases(m) for m in self.modules.values()}
        self.reached: set[tuple[str, str]] = set()
        self.loaded: set[str] = set()
        self.todo: list[tuple[_Module, ast.AST]] = []
        # attribute names and string constants seen in reached code;
        # name -> methods of reached classes still waiting on it
        self.named: set[str] = set()
        self.waiting: dict[str, list[tuple[_Module, str]]] = {}

    def _imported(self, m: _Module, node: ast.AST):
        """(bound name, (module, attr or None)) per name an import binds."""
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:
                    yield a.asname, (a.name, None)
                else:
                    top = a.name.split(".")[0]
                    yield top, (top, None)
            return
        base = node.module or ""
        if node.level:
            pkg = m.package().split(".")
            pkg = pkg[: len(pkg) - (node.level - 1)]
            base = ".".join(pkg + ([base] if base else []))
        for a in node.names:
            full = f"{base}.{a.name}"
            yield a.asname or a.name, (
                (full, None) if full in self.modules else (base, a.name)
            )

    def _aliases(self, m: _Module) -> dict[str, tuple[str, str | None]]:
        return {
            name: target
            for node in ast.walk(m.tree)
            if isinstance(node, (ast.Import, ast.ImportFrom))
            for name, target in self._imported(m, node)
        }

    def _reach(self, mod: str, name: str | None) -> None:
        if mod not in self.modules:
            return
        self._load(mod)
        if name is None or (mod, name) in self.reached:
            return
        m = self.modules[mod]
        cls, dot, _ = name.partition(".")
        if dot:  # an allowlisted method: its class, then its body
            self._reach(mod, cls)
            self._reach_method(m, name)
            return
        self.reached.add((mod, name))
        for node in m.defs.get(name, []):
            if isinstance(node, ast.ClassDef):
                self._reach_class(m, node)
            else:
                self.todo.append((m, node))
        if name not in m.defs and name in self.aliases[mod]:
            self._reach(*self.aliases[mod][name])  # re-export

    def _reach_method(self, m: _Module, qual: str) -> None:
        if (m.name, qual) in self.reached:
            return
        self.reached.add((m.name, qual))
        self.todo.extend((m, node) for node in m.methods.get(qual, []))

    def _reach_class(self, m: _Module, node: ast.ClassDef) -> None:
        """Walk the class shell; a method waits until reached code names
        it, unless it is a dunder or a base outside the package may call
        it."""
        self.todo.extend(
            (m, e) for e in node.decorator_list + node.bases
            + [k.value for k in node.keywords]
        )
        every = not all(self._in_package(m, b) for b in node.bases)
        for stmt in node.body:
            if not isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
                self.todo.append((m, stmt))
                continue
            qual = f"{node.name}.{stmt.name}"
            dunder = stmt.name.startswith("__") and stmt.name.endswith("__")
            if every or dunder or stmt.name in self.named:
                self._reach_method(m, qual)
            else:
                self.waiting.setdefault(stmt.name, []).append((m, qual))

    def _in_package(self, m: _Module, base: ast.AST) -> bool:
        chain = self._dotted(base)
        if chain is None:
            return False
        if chain[0] in m.defs:
            return True
        mod = self.aliases[m.name].get(chain[0], ("",))[0]
        return mod == PACKAGE or mod.startswith(PACKAGE + ".")

    def _name(self, name: str) -> None:
        """An attribute name or string constant in reached code reaches
        every method of that name in a reached class."""
        if name in self.named:
            return
        self.named.add(name)
        for m, qual in self.waiting.pop(name, []):
            self._reach_method(m, qual)

    def _load(self, mod: str) -> None:
        """An imported module runs its top-level statements."""
        if mod in self.loaded:
            return
        self.loaded.add(mod)
        parent = mod.rpartition(".")[0]
        if parent in self.modules:
            self._load(parent)
        m = self.modules[mod]
        for node in m.tree.body:
            if isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = (node.targets if isinstance(node, ast.Assign)
                           else [node.target])
                if all(isinstance(t, ast.Name) for t in targets):
                    continue  # a definition: walked once referenced
            elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                   ast.ClassDef)):
                continue
            self.todo.append((m, node))

    def _dotted(self, node: ast.AST) -> list[str] | None:
        parts = []
        while isinstance(node, ast.Attribute):
            parts.append(node.attr)
            node = node.value
        if not isinstance(node, ast.Name):
            return None
        return [node.id] + parts[::-1]

    def _visit(self, m: _Module, node: ast.AST) -> None:
        aliases = self.aliases[m.name]
        for n in ast.walk(node):
            if isinstance(n, ast.Import):
                for a in n.names:  # runs the module and its parents
                    self._reach(a.name, None)
            elif isinstance(n, ast.ImportFrom):
                for _name, (mod, _attr) in self._imported(m, n):
                    self._reach(mod, None)
            elif isinstance(n, ast.Attribute):
                self._name(n.attr)
                chain = self._dotted(n)
                if chain and chain[0] in aliases:
                    mod, attr = aliases[chain[0]]
                    rest = ([attr] if attr else []) + chain[1:]
                    # longest module prefix, then the attribute it names
                    for i in range(len(rest), -1, -1):
                        cand = ".".join([mod] + rest[:i])
                        if cand in self.modules:
                            self._reach(cand, rest[i] if i < len(rest) else None)
                            break
            elif isinstance(n, ast.Name):
                if n.id in aliases:
                    self._reach(*aliases[n.id])
                elif n.id in m.defs:
                    self._reach(m.name, n.id)
            elif isinstance(n, ast.Constant) and isinstance(n.value, str):
                self._name(n.value)
            elif isinstance(n, (ast.Tuple, ast.List)):
                strs = [e.value for e in n.elts
                        if isinstance(e, ast.Constant) and isinstance(e.value, str)]
                for mod in (s for s in strs if s in self.modules):
                    for s in strs:
                        if s in self.modules[mod].defs:
                            self._reach(mod, s)

    def run(self, extra=()) -> set[tuple[str, str]]:
        for m in self.roots:
            self._load(m.name)
            self.todo.append((m, m.tree))
        for mod, name in extra:
            self._reach(mod, name)
        while self.todo:
            self._visit(*self.todo.pop())
        return self.reached


def _definitions(m: _Module) -> list[str]:
    return list(m.defs) + list(m.methods)


def test_package_definitions_are_reached():
    walk = _Walk()
    reached = walk.run(extra=ALLOWLIST)
    dead = {
        mod: sorted(n for n in _definitions(m) if (mod, n) not in reached)
        for mod, m in walk.modules.items()
        if mod == PACKAGE or mod.startswith(PACKAGE + ".")
    }
    dead = {mod: names for mod, names in dead.items() if names}
    assert dead == {}, (
        "definitions and methods no entry, job, bench or tool reaches "
        f"(delete them, or give them a caller): {dead}"
    )


def test_table_and_streaming_definitions_are_reached():
    """The two modules the guard first covered need no allowlist: every
    definition in them has a program caller."""
    walk = _Walk()
    reached = walk.run()
    dead = {
        mod: sorted(n for n in _definitions(walk.modules[mod])
                    if (mod, n) not in reached)
        for mod in ("remediner_spark.sources.table",
                    "remediner_spark.streaming")
    }
    assert dead == {mod: [] for mod in dead}, dead


def _stale(allowlist) -> tuple[list, list]:
    """(entries that name no definition, entries a root reaches)."""
    walk = _Walk()
    reached = walk.run()
    missing = [e for e in allowlist if e[0] not in walk.modules
               or e[1] not in _definitions(walk.modules[e[0]])]
    return missing, [e for e in allowlist if e in reached]


def test_allowlist_is_not_stale():
    missing, redundant = _stale(ALLOWLIST)
    assert missing == [], f"allowlist entries that name no definition: {missing}"
    assert redundant == [], (
        f"allowlist entries a program root already reaches: {redundant}"
    )


def test_walk_follows_imports_attributes_and_name_tuples():
    reached = _Walk().run()
    # __spark_entry__ -> tableops.QUERIES -> q_table_mor_read -> read_table
    assert ("remediner_spark.sources.table", "read_table") in reached
    # a module attribute: tableops clears table._MANIFEST_CACHE
    assert ("remediner_spark.sources.table", "_MANIFEST_CACHE") in reached
    # an import runs the module: the package root installs zipguard
    assert ("remediner_spark.zipguard", "guarded_invalidate_caches") in reached
    # a definition only tests call stays unreached, unless allowlisted
    kernel = ("remediner_spark.kernels.mask", "mask_single")
    assert kernel not in reached
    assert kernel in _Walk().run(extra=ALLOWLIST)
    # so does a method of a reached class that only tests call; a dotted
    # allowlist entry reaches it
    referee = ("remediner_spark.operators.ner", "GazetteerTagger.tag_words")
    assert ("remediner_spark.operators.ner", "GazetteerTagger") in reached
    assert referee not in reached
    assert referee in _Walk().run(extra=ALLOWLIST)
    # a method named as an attribute: the fused stage calls
    # model.extract_pairs, whatever the model; dunders come with the class
    matcher = "remediner_spark.kernels.tagmatch"
    assert (matcher, "BatchMatcher.extract_pairs") in reached
    assert (matcher, "BatchMatcher.__init__") in reached
    # a dotted entry naming no method is stale, one a root reaches is
    # redundant: test_allowlist_is_not_stale fails on either
    gone = (matcher, "BatchMatcher.tag_batch")
    live = (matcher, "BatchMatcher.extract_pairs")
    assert _stale([gone, live, referee]) == ([gone], [live])
    # a (module, name) string tuple: perfbench/tracing.py names the
    # functions it wraps and calls none of them
    traced = _Walk(roots=("perfbench/tracing.py",)).run()
    assert ("remediner_spark.streaming", "edge_merge_fn") in traced
