"""Every top-level def and class in ``covid19_spark/`` has a program caller,
and every package module is imported by the program.

A pure-AST reachability walk; no Spark, no package import.  The program
roots are ``tools/``, ``perfbench/`` (not ``perfbench/tests``), ``bench.py``
and ``__spark_entry__.py``.  From them the walk follows code references
into the package: names, attribute chains on imported modules, and the
module-level code of every module an import runs.  Docstrings and comments
are not references, and neither is an import alias by itself:
``from m import f`` makes module ``m`` run but not ``f`` live, while a
later use of the alias counts as a use of ``m.f`` (so a package
``__init__`` re-export resolves to the def it names).

A def, class or module the walk does not reach is reached only by tests,
or by nothing, and fails the test unless ``KEEP`` names it with a reason.
A keep entry is an extra root, so what a kept def calls is live too, and
a module entry keeps all of its defs.

A second check fails on any top-level import a package module (other than
an ``__init__``) binds and never uses.  A name counts as used when the
module's code loads it, or a string annotation names it; an import line
marked ``# noqa: F401`` is a deliberate re-export.

A third check fails on any defaulted parameter of a package function or
method that no program call passes (by keyword or position; the package's
own code counts as a program), unless ``KEEP_OPTIONS`` names it with a
reason.  Callees resolve through the same aliases, and methods match by
name; a def some program call forwards ``*args``/``**kwargs`` to, or that
program code uses as a value (a name no enclosing function rebinds), is
exempt, and so are the defs ``KEEP`` names.  A fourth check, over the same
calls and exemptions, fails on any int, float or bool parameter
(defaulted or required) that every program call sets to the same literal
— a call that omits a defaulted parameter sets its default; arithmetic
over literals is folded (``1 << 18``), and a module constant bound once
to such a value counts as that value — unless ``KEEP_OPTIONS`` names it.

A fifth check fails on any top-level assignment of a package module that
no program-reached code reads (a ``KEEP`` entry may name a constant).
"""

from __future__ import annotations

import ast
import functools
import operator
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "covid19_spark"

# Package defs, modules and constants no program code reaches that stay anyway.
# Dotted name under ``covid19_spark`` -> reason: a COVERAGE §2 id, a
# ROADMAP item (4 or 5), or "test reference for X".  The covid19
# reference pieces wait for the ROADMAP item 5 app to call them.
KEEP: dict[str, str] = {
    "functions.scalars.best_news_source": "COVERAGE §2 P8 coalesce news source",
    "functions.scalars.INDIAN_STATES": "COVERAGE §2 P6 state membership list",
    "schemas.STATEWISE_STATS": "COVERAGE §2 S1 statewise wire schema",
    "operators.rates.active_cases": "COVERAGE §2 A8 active cases",
    "operators.rates.positivity_rate": "COVERAGE §2 A7 positivity rate",
    "operators.rollup.grand_total_rollup": "COVERAGE §2 A5 grand-total row",
    "operators.series.date_spine": "COVERAGE §2 W5 date-range generation",
    "operators.series.pivot_series": "COVERAGE §2 W4 per-day series pivot",
    "schemas.cast_statewise": "COVERAGE §2 S1 statewise wire types at ingest",
    "sources.kafka.read_topic_stream": "COVERAGE §2 S1 stream source",
    "sources.kafka.read_emulated_topic": "COVERAGE §2 S6 batch poll of a topic",
    "sources.kafka.write_topic": "COVERAGE §2 S4 stream sink",
    "sources.kafka.emulated_topic_sink": "COVERAGE §2 S4 file-backed stream sink",
    "sources.kafka.encode_json_value": "COVERAGE §2 S5 point-write encoding",
    "streaming.table.latest_by_key": "COVERAGE §2 S2 table source",
    "streaming.table.make_upsert_sink": "COVERAGE §2 S6 foreachBatch upsert",
    "streaming.pipelines.daily_states_count": "COVERAGE §2 A3/A4 daily windowed sum",
    "streaming.pipelines.doubling_rate_stream": "COVERAGE §2 A9 doubling rate",
    "streaming.pipelines.patients_news_sources": "COVERAGE §2 P1 patients filter",
    "serving.requests.serve_user_requests_stream": "COVERAGE §2 S6 user-request consumer",
    "serving.http_sink": "COVERAGE §2 S7 external HTTP sink",
    "serving.charts": "COVERAGE §2 S7 chart requests",
    "serving.analytics": "COVERAGE §2 T8 scheduled chart jobs",
    "serving.format.build_statewise_alert_text": "COVERAGE §2 P11 alert fan-out text",
    "serving.format.build_districtwise_alert": "COVERAGE §2 S6 district alert text",
    "serving.format.build_district_summary_alert_text": "COVERAGE §2 W6 district summary",
    "serving.format.build_district_zone_text": "COVERAGE §2 J7 zone lookup text",
    "streaming.ivm_stream.make_state_merge_sink": "ROADMAP item 4 replay-safe state merge",
    "operators.similarity.pq_train_codebooks":
        "test reference for the driver-side PQ trainer (_fit_pq_codebooks_driver)",
    "operators.similarity.pq_encode": "test reference for the map-only PQ encode",
    "operators.similarity._pq_assign": "test reference for the map-only PQ encode",
    "operators.similarity._pq_subvectors": "test reference for the PQ train/encode scale",
    "operators.similarity._sq8_codes_expr":
        "test reference for the driver-side SQ8 fit (_fit_quantizers_driver)",
}

_REASON = re.compile(
    r"^(COVERAGE §2 [A-Z]+\d+|ROADMAP item [45]|test reference for \S)"
)
_DEF_TYPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _program_files() -> list[Path]:
    files = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    files += sorted((ROOT / "tools").glob("*.py"))
    files += sorted((ROOT / "perfbench").glob("*.py"))
    return files


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


class _Code:
    """The raw code references of some AST nodes: loaded names, attribute
    chains on a name, imported modules, and the names the code binds
    (a ``global`` declaration aside)."""

    def __init__(self, nodes, package: str, aliases: dict[str, str]):
        self.names: set[str] = set()
        self.chains: set[tuple[str, ...]] = set()
        self.imports: set[str] = set()
        self.binds: set[str] = set()
        declared: set[str] = set()  # ``global`` names are the module's, not locals
        for top in nodes:
            for node in ast.walk(top):
                if isinstance(node, ast.Name):
                    if isinstance(node.ctx, ast.Load):
                        self.names.add(node.id)
                    else:
                        self.binds.add(node.id)
                elif isinstance(node, ast.arg):
                    self.binds.add(node.arg)
                elif isinstance(node, ast.Global):
                    declared.update(node.names)
                elif isinstance(node, ast.Attribute):
                    attrs = []
                    while isinstance(node, ast.Attribute):
                        attrs.append(node.attr)
                        node = node.value
                    if isinstance(node, ast.Name):
                        self.chains.add((node.id, *reversed(attrs)))
                elif isinstance(node, ast.Import):
                    for a in node.names:
                        self.imports.add(a.name)
                        head = a.name.partition(".")[0]
                        aliases[a.asname or head] = a.name if a.asname else head
                elif isinstance(node, ast.ImportFrom):
                    base = _import_base(node, package)
                    self.imports.add(base)
                    for a in node.names:
                        self.imports.add(f"{base}.{a.name}")
                        aliases[a.asname or a.name] = f"{base}.{a.name}"
        self.binds -= declared


def _import_base(node: ast.ImportFrom, package: str) -> str:
    if not node.level:
        return node.module or ""
    parts = package.split(".")
    base = ".".join(parts[: len(parts) - node.level + 1])
    return f"{base}.{node.module}" if node.module else base


class _Module:
    """One parsed file (from disk, or from ``source``): its syntax tree,
    its top-level defs, classes and assigned constants, its import aliases (local name ->
    dotted target, from every import in the file), the code its top-level
    statements run, and each def's own code."""

    def __init__(self, path: Path, source: str | None = None):
        self.name = _module_name(path)
        self.tree = tree = ast.parse(
            path.read_text() if source is None else source, str(path)
        )
        package = self.name if path.name == "__init__.py" else self.name.rpartition(".")[0]
        self.aliases: dict[str, str] = {}
        self.defs: dict[str, _Code] = {}
        self.classes = {s.name for s in tree.body if isinstance(s, ast.ClassDef)}
        self.constants = {
            t.id
            for stmt in tree.body
            if isinstance(stmt, (ast.Assign, ast.AnnAssign))
            for target in (stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target])
            for t in ast.walk(target)
            if isinstance(t, ast.Name) and not t.id.startswith("__")
        }
        # NAME = <literal arithmetic>, bound once and never rebound by a
        # ``global`` (the values the option check sees through a name)
        assigned = [
            (s.targets[0] if isinstance(s, ast.Assign) else s.target, s.value)
            for s in tree.body
            if isinstance(s, (ast.Assign, ast.AnnAssign)) and s.value is not None
            and (isinstance(s, ast.AnnAssign) or len(s.targets) == 1)
        ]
        rebound = {n for node in ast.walk(tree) if isinstance(node, ast.Global) for n in node.names}
        once = [t.id for t, _ in assigned if isinstance(t, ast.Name)]
        self.literals = {
            t.id: lit
            for t, v in assigned
            if isinstance(t, ast.Name) and once.count(t.id) == 1
            and t.id not in rebound and (lit := _literal(v))
        }
        top = []
        for stmt in tree.body:
            if isinstance(stmt, _DEF_TYPES):
                self.defs[stmt.name] = _Code([stmt], package, self.aliases)
                # decorators and defaults run at import time
                top += stmt.decorator_list
                if not isinstance(stmt, ast.ClassDef):
                    top += [d for d in stmt.args.defaults + stmt.args.kw_defaults if d]
            else:
                top.append(stmt)
        self.top = _Code(top, package, self.aliases)


class _Graph:
    def __init__(self, modules=None, roots=None):
        if modules is None:
            modules = map(_Module, sorted((ROOT / PACKAGE).rglob("*.py")))
        if roots is None:
            roots = map(_Module, _program_files())
        self.modules = {m.name: m for m in modules}
        self.roots = list(roots)

    def resolve(self, dotted: str, seen: frozenset = frozenset()):
        """A dotted target -> ('mod', m), ('def', m, n) or ('const', m, n),
        following re-exports through the aliases of the module that holds
        them."""
        if dotted in self.modules:
            return ("mod", dotted)
        mod, _, name = dotted.rpartition(".")
        m = self.modules.get(mod)
        if m is None or dotted in seen:
            return None
        if name in m.defs:
            return ("def", mod, name)
        if name in m.aliases:
            return self.resolve(m.aliases[name], seen | {dotted}) or ("mod", mod)
        if name in m.constants:
            return ("const", mod, name)
        return ("mod", mod)  # some other module-level value: the module's code runs

    def refs(self, module: _Module, code: _Code, shadow=frozenset()) -> set:
        """Every package def and module ``code`` refers to.  Names the code
        binds itself (``shadow``) are locals, not references."""
        out = {self.resolve(d) for d in code.imports if d in self.modules}
        for name in code.names - shadow:
            if name in module.defs and module.name in self.modules:
                out.add(("def", module.name, name))
            elif name in module.constants and module.name in self.modules:
                out.add(("const", module.name, name))
            elif name in module.aliases:
                out.add(self.resolve(module.aliases[name]))
        for base, *attrs in code.chains:
            if base in shadow or base not in module.aliases:
                continue
            # walk the chain while it names modules; stop at the first def
            # or module-level value (``m.TABLE.items`` is not ``m.items``)
            dotted = module.aliases[base]
            for attr in attrs:
                if dotted not in self.modules:
                    break
                target = self.resolve(f"{dotted}.{attr}")
                out.add(target)
                is_module = target and target[0] == "mod" and target[1] != dotted
                dotted = target[1] if is_module else None
        out.discard(None)
        return out

    def expand(self, key) -> set:
        """The references made by running ``key``: a module's top-level
        code (and its parent package), or a def's body.  Reading a
        constant runs its module."""
        m = self.modules[key[1]]
        if key[0] == "const":
            return {("mod", key[1])}
        if key[0] == "mod":
            parent = key[1].rpartition(".")[0]
            return self.refs(m, m.top) | ({("mod", parent)} if parent in self.modules else set())
        code = m.defs[key[2]]
        return {("mod", key[1])} | self.refs(m, code, frozenset(code.binds))

    def reach(self, extra_roots=()) -> set:
        todo = set(extra_roots)
        for root in self.roots:
            todo |= self.refs(root, root.top)
            for code in root.defs.values():
                todo |= self.refs(root, code)
        seen = set()
        while todo:
            key = todo.pop()
            if key not in seen:
                seen.add(key)
                todo |= self.expand(key) - seen
        return seen

    def all_keys(self):
        for name, m in self.modules.items():
            yield ("mod", name)
            for d in m.defs:
                yield ("def", name, d)


@functools.lru_cache(maxsize=1)
def _graph() -> _Graph:
    return _Graph()


def _label(key) -> str:
    dotted = key[1] if key[0] == "mod" else f"{key[1]}.{key[2]}"
    return dotted[len(PACKAGE) + 1:]


def _keep_roots(graph: _Graph, keep: dict = KEEP) -> set:
    roots = set()
    for entry in keep:
        dotted = f"{PACKAGE}.{entry}"
        key = graph.resolve(dotted)
        assert key is not None and _label(key) == entry, f"KEEP names nothing: {entry}"
        roots.add(key)
        if key[0] == "mod":
            roots |= {("def", dotted, d) for d in graph.modules[dotted].defs}
    return roots


def unreached() -> list[str]:
    """Package defs and modules no program root or keep entry reaches."""
    graph = _graph()
    reached = graph.reach(_keep_roots(graph))
    return sorted(_label(k) for k in graph.all_keys() if k not in reached)


def unread_constants(graph: _Graph | None = None, keep: dict = KEEP) -> list[str]:
    """Top-level assignments of package modules that no program root or
    keep entry reads (a read in some module's top-level code counts)."""
    graph = graph or _graph()
    reached = graph.reach(_keep_roots(graph, keep))
    return sorted(
        _label(("const", m.name, c))
        for m in graph.modules.values()
        for c in m.constants
        if ("const", m.name, c) not in reached
    )


def test_every_package_def_has_a_program_caller():
    missing = unreached()
    assert not missing, (
        "reached only by tests (or by nothing); give each a program caller, "
        "delete it, or KEEP it with a reason:\n  " + "\n  ".join(missing)
    )


def test_keep_entries_are_needed_and_carry_a_reason():
    graph = _graph()
    program = graph.reach()
    for entry, reason in KEEP.items():
        assert _REASON.match(reason), f"{entry}: reason {reason!r}"
        key = graph.resolve(f"{PACKAGE}.{entry}")
        assert key not in program, f"{entry} has a program caller; drop it from KEEP"


def _string_annotation_names(tree: ast.Module) -> set[str]:
    """Names inside the string constants of every annotation in ``tree``."""
    annotations = []
    for node in ast.walk(tree):
        if isinstance(node, ast.arg):
            annotations.append(node.annotation)
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            annotations.append(node.returns)
        elif isinstance(node, ast.AnnAssign):
            annotations.append(node.annotation)
    names = set()
    for ann in filter(None, annotations):
        for node in ast.walk(ann):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                try:
                    expr = ast.parse(node.value, mode="eval")
                except SyntaxError:
                    continue
                names |= {n.id for n in ast.walk(expr) if isinstance(n, ast.Name)}
    return names


def unused_imports() -> list[str]:
    """``path:line: name`` for each top-level import of a package module
    (``__init__`` files aside) whose bound name the module never uses."""
    out = []
    for path in sorted((ROOT / PACKAGE).rglob("*.py")):
        if path.name == "__init__.py":
            continue
        source = path.read_text()
        lines = source.splitlines()
        tree = ast.parse(source, str(path))
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        used |= _string_annotation_names(tree)
        for stmt in tree.body:
            if not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue
            if isinstance(stmt, ast.ImportFrom) and stmt.module == "__future__":
                continue
            for alias in stmt.names:
                name = alias.asname or alias.name.partition(".")[0]
                marked = (lines[stmt.lineno - 1], lines[alias.lineno - 1])
                if name not in used and not any("noqa: F401" in ln for ln in marked):
                    out.append(f"{path.relative_to(ROOT)}:{alias.lineno}: {name}")
    return out


def test_no_unused_package_imports():
    unused = unused_imports()
    assert not unused, (
        "imported and never used; delete the import, or mark a deliberate "
        "re-export with # noqa: F401:\n  " + "\n  ".join(unused)
    )


# Defaulted parameters no program call passes that stay anyway.
# ``module.def(param)`` under ``covid19_spark`` -> reason: "deployment
# setting: ..." (a path, master URL or connection a deployment picks) or
# "test reaches <branch>" (a cap, count or codec setting a test sets so
# that a branch the program's inputs reach at scale runs at test size).
KEEP_OPTIONS: dict[str, str] = {
    "session.get_spark(master)": "deployment setting: the Spark master URL",
    "sources.index.ensure_inverted_index(path)": "deployment setting: store path",
    "sources.index.ensure_fielded_index(path)": "deployment setting: store path",
    "sources.scratch.reap_stale_scratch(root)": "deployment setting: scratch root",
    "operators.bpe.train_bpe(max_vocab_candidates)":
        "test reaches the vocabulary cap before the driver collect",
    "operators.dedup.ngram_jaccard_pairs(max_block)":
        "test reaches the oversized-block drop",
    "operators.dedup.blocked_edit_distance_pairs(max_block)":
        "test reaches the oversized-block drop",
    "operators.dedup.simhash_candidate_pairs(max_bucket)":
        "test reaches the oversized-bucket drop of the Hamming probe",
    "operators.multimodal.video_near_dup_pairs(max_bucket)":
        "test reaches the oversized (rank, band, key) bucket drop",
    "operators.similarity.cosine_near_dup_pairs(max_block)":
        "test reaches the oversized-block drop",
    "operators.similarity.cosine_near_dup_pairs(allow_full_scan)":
        "test reaches the unblocked all-pairs scan of a small corpus",
    "operators.similarity.pq_cosine_topk(train_sample_mod)":
        "test reaches the hash-sampled quantizer training",
}

_OPTION_REASON = re.compile(r"^(deployment setting: \S|test reaches \S)")
# decorators that leave the def called by name (any other hands it to code
# the walk does not see, like a UDF wrapper)
_PLAIN_DECORATORS = {"staticmethod", "classmethod", "property", "lru_cache", "cache"}


def _decorator_name(node) -> str:
    node = node.func if isinstance(node, ast.Call) else node
    return node.attr if isinstance(node, ast.Attribute) else getattr(node, "id", "")


class _Def:
    """A package def's positional parameter names (``self``/``cls``
    excluded, so index 0 is the first argument a caller passes), its
    defaulted parameters, and every parameter's default expression (None
    for a required one)."""

    def __init__(self, fn: ast.FunctionDef, is_method: bool):
        decorators = {_decorator_name(d) for d in fn.decorator_list}
        a = fn.args
        positional = a.posonlyargs + a.args
        if is_method and "staticmethod" not in decorators:
            positional = positional[1:]
        self.positional = [p.arg for p in positional]
        self.defaults = dict.fromkeys(self.positional)
        self.defaults.update(zip(self.positional[len(positional) - len(a.defaults):], a.defaults))
        self.defaults.update((p.arg, d) for p, d in zip(a.kwonlyargs, a.kw_defaults))
        self.options = [name for name, d in self.defaults.items() if d]
        self.wrapped = bool(decorators - _PLAIN_DECORATORS)


def _package_defs(graph: _Graph) -> dict[tuple[str, str], _Def]:
    """(module, ``f`` or ``Class.method``) -> _Def, for the top-level
    functions and the methods of top-level classes of every package module."""
    out = {}
    for m in graph.modules.values():
        for stmt in m.tree.body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
                out[(m.name, stmt.name)] = _Def(stmt, is_method=False)
            elif isinstance(stmt, ast.ClassDef):
                for fn in stmt.body:
                    if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        out[(m.name, f"{stmt.name}.{fn.name}")] = _Def(fn, is_method=True)
    return out


def _named_defs(graph: _Graph, module: _Module, expr, by_method: dict) -> set:
    """The package defs a name or attribute expression may stand for: the
    function it resolves to (through aliases and re-exports), a resolved
    class's ``__init__``, and, for an attribute, every package method of
    that name."""
    out = set()
    dotted = None
    if isinstance(expr, ast.Name):
        if expr.id in module.defs and module.name in graph.modules:
            dotted = f"{module.name}.{expr.id}"
        elif expr.id in module.aliases:
            dotted = module.aliases[expr.id]
    elif isinstance(expr, ast.Attribute):
        out |= by_method.get(expr.attr, set())
        attrs, base = [], expr
        while isinstance(base, ast.Attribute):
            attrs.append(base.attr)
            base = base.value
        if isinstance(base, ast.Name) and base.id in module.aliases:
            dotted = ".".join([module.aliases[base.id], *reversed(attrs)])
    key = graph.resolve(dotted) if dotted else None
    if key and key[0] == "def":
        is_class = key[2] in graph.modules[key[1]].classes
        out.add((key[1], f"{key[2]}.__init__" if is_class else key[2]))
    return out


_FOLD = {
    ast.Add: operator.add, ast.Sub: operator.sub, ast.Mult: operator.mul,
    ast.Div: operator.truediv, ast.FloorDiv: operator.floordiv,
    ast.Mod: operator.mod, ast.Pow: operator.pow, ast.LShift: operator.lshift,
    ast.RShift: operator.rshift, ast.BitOr: operator.or_,
    ast.BitAnd: operator.and_, ast.BitXor: operator.xor,
    ast.USub: operator.neg, ast.UAdd: operator.pos, ast.Invert: operator.invert,
}


def _literal(expr, name=lambda expr: None):
    """An int, float or bool literal as ``(type, value)``, else None.
    Arithmetic over such literals (``-1``, ``1 << 18``, ``2 ** 20``) is
    folded to its value; bool operands only pass through unchanged.
    ``name`` gives the literal a name or attribute expression stands for,
    if any."""
    if isinstance(expr, ast.Constant):
        v = expr.value
        return (type(v).__name__, v) if type(v) in (int, float, bool) else None
    if isinstance(expr, (ast.Name, ast.Attribute)):
        return name(expr)
    if isinstance(expr, ast.UnaryOp) and type(expr.op) in _FOLD:
        operands = [_literal(expr.operand, name)]
    elif isinstance(expr, ast.BinOp) and type(expr.op) in _FOLD:
        operands = [_literal(expr.left, name), _literal(expr.right, name)]
    else:
        return None
    if any(o is None or o[0] == "bool" for o in operands):
        return None
    try:
        v = _FOLD[type(expr.op)](*(o[1] for o in operands))
    except (ArithmeticError, ValueError):
        return None
    return (type(v).__name__, v)


def _constant_literals(graph: _Graph, module: _Module):
    """The ``name`` hook of ``_literal`` for code in ``module``: a name or
    ``alias.NAME`` chain that resolves to a literal module constant (its
    own, an imported one, or one behind a module alias) stands for its
    value."""

    def look(expr):
        dotted = None
        if isinstance(expr, ast.Name):
            if expr.id in module.literals:
                return module.literals[expr.id]
            dotted = module.aliases.get(expr.id)
        elif isinstance(expr.value, ast.Name) and expr.value.id in module.aliases:
            dotted = f"{module.aliases[expr.value.id]}.{expr.attr}"
        key = graph.resolve(dotted) if dotted else None
        if key and key[0] == "const":
            return graph.modules[key[1]].literals.get(key[2])
        return None

    return look


def option_uses(graph: _Graph):
    """(package defs, the (module, def, param) triples some program call
    passes, each triple's values over all calls, the defs exempt from the
    check) over every program call: the package's own code and the program
    roots.  A value is the literal the call passes (an omitted parameter
    passes its default), a literal module constant it names, or None for
    any other expression."""
    defs = _package_defs(graph)
    by_method: dict[str, set] = {}
    for mod, qual in defs:
        if "." in qual:
            by_method.setdefault(qual.rpartition(".")[2], set()).add((mod, qual))
    passed: set[tuple[str, str, str]] = set()
    values: dict[tuple[str, str, str], set] = {}
    exempt = {k for k, d in defs.items() if d.wrapped}
    for module in [*graph.modules.values(), *graph.roots]:
        here = _constant_literals(graph, module)
        called = set()
        for node in ast.walk(module.tree):
            if not isinstance(node, ast.Call):
                continue
            called.add(id(node.func))
            forwards = any(isinstance(a, ast.Starred) for a in node.args) or any(
                k.arg is None for k in node.keywords
            )
            for key in _named_defs(graph, module, node.func, by_method) & defs.keys():
                if forwards:
                    exempt.add(key)
                    continue
                d = defs[key]
                args = dict(zip(d.positional, node.args))
                args.update((k.arg, k.value) for k in node.keywords)
                passed |= {(*key, n) for n in args}
                home = _constant_literals(graph, graph.modules[key[0]])
                for name, default in d.defaults.items():
                    value = (
                        _literal(args[name], here) if name in args
                        else default and _literal(default, home)
                    )
                    values.setdefault((*key, name), set()).add(value)
        for node in _value_uses(module.tree, called):
            exempt |= _named_defs(graph, module, node, by_method) & defs.keys()
    return defs, passed, values, exempt


def _value_uses(node, called: set, shadow=frozenset()):
    """The name and attribute loads under ``node`` that are not a call's
    callee, skipping those whose base name an enclosing function binds (a
    local ``top_k = 15`` is not the imported ``top_k``)."""
    for child in ast.iter_child_nodes(node):
        if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            yield from _value_uses(child, called, shadow | _Code([child], "", {}).binds)
            continue
        if (
            isinstance(child, (ast.Name, ast.Attribute))
            and isinstance(child.ctx, ast.Load)
            and id(child) not in called
        ):
            base = child
            while isinstance(base, ast.Attribute):
                base = base.value
            if not (isinstance(base, ast.Name) and base.id in shadow):
                yield child
        yield from _value_uses(child, called, shadow)


def _checked_defs(graph: _Graph, defs: dict, exempt: set):
    """(label, def) for the defs the option checks cover: not exempt and
    not under a ``KEEP`` entry."""
    kept = tuple(f"{PACKAGE}.{entry}" for entry in KEEP)
    for (mod, qual), d in defs.items():
        dotted = f"{mod}.{qual}"
        if (mod, qual) not in exempt and not any(
            dotted == k or dotted.startswith(k + ".") for k in kept
        ):
            yield (mod, qual), dotted[len(PACKAGE) + 1:], d


def unset_options(graph: _Graph | None = None) -> list[str]:
    """``module.def(param)`` for each defaulted parameter of a package def
    that no program call passes.  Defs a ``KEEP`` entry names are skipped,
    and so is a def some program call forwards ``*args``/``**kwargs`` to or
    some program code uses as a value (a callback, a registry entry)."""
    graph = graph or _graph()
    defs, passed, _, exempt = option_uses(graph)
    return sorted(
        f"{label}({name})"
        for key, label, d in _checked_defs(graph, defs, exempt)
        for name in d.options
        if (*key, name) not in passed
    )


def single_literals(graph: _Graph | None = None) -> dict[str, object]:
    """``module.def(param)`` -> value, for each parameter (defaulted or
    required) of a package def that every program call sets to the same
    int, float or bool literal; a call that omits a defaulted parameter
    sets its default.  A def no program call makes has no values, and the
    defs ``unset_options`` skips are skipped here too."""
    graph = graph or _graph()
    defs, _, values, exempt = option_uses(graph)
    out = {}
    for key, label, d in _checked_defs(graph, defs, exempt):
        for name in d.defaults:
            seen = values.get((*key, name), set())
            if len(seen) == 1 and None not in seen:
                out[f"{label}({name})"] = next(iter(seen))[1]
    return dict(sorted(out.items()))


def keep_option_faults(unset: list[str], keep: dict[str, str]) -> list[str]:
    """``KEEP_OPTIONS`` entries whose reason is not an allowed one, or that
    name no unset option (a program call now passes it, or it is gone)."""
    out = []
    for entry, reason in keep.items():
        if not _OPTION_REASON.match(reason):
            out.append(f"{entry}: reason {reason!r}")
        elif entry not in unset:
            out.append(f"{entry}: set by a program call or gone; drop it")
    return out


def test_every_option_has_a_program_value():
    unset = [o for o in unset_options() if o not in KEEP_OPTIONS]
    assert not unset, (
        "defaulted parameters no program call passes; delete each and "
        "inline its default, or KEEP_OPTIONS it with a reason:\n  "
        + "\n  ".join(unset)
    )


def test_every_numeric_parameter_takes_more_than_one_value():
    fixed = {o: v for o, v in single_literals().items() if o not in KEEP_OPTIONS}
    assert not fixed, (
        "parameters every program call sets to one literal; delete each and "
        "write its value at the use site, or KEEP_OPTIONS it with a reason:\n  "
        + "\n  ".join(f"{o} = {v!r}" for o, v in fixed.items())
    )


def test_keep_options_are_needed_and_carry_a_reason():
    flagged = unset_options() + list(single_literals())
    faults = keep_option_faults(flagged, KEEP_OPTIONS)
    assert not faults, "\n  ".join(["stale or unexplained KEEP_OPTIONS:", *faults])


def test_every_module_constant_is_read():
    unread = unread_constants()
    assert not unread, (
        "module constants only tests (or nothing) read; delete each, or "
        "KEEP it with a reason:\n  " + "\n  ".join(unread)
    )


_SELF_TEST_SOURCE = """
USED = 1 << 4
UNREAD = 1
REBOUND = 2

def by_keyword(x, a=1): ...
def by_position(x, a=1): ...
def forwarded(x, a=1): ...
def as_value(x, a=1): ...
def nobody(x, a=1, *, b=2): ...
def one_literal(x, n): ...
def two_literals(x, n): ...
def not_literal(x, n=3): ...
def default_and_other(x, n=3): ...
def folded(x, n): ...
def by_constant(x, n): ...
def by_rebound(x, n): ...
def shadowed(x, a=1): ...

def rebind():
    global REBOUND
    REBOUND = 3

class Store:
    def get(self, key, default=None): ...

def program(kwargs, store, x):
    by_keyword(x, a=x)
    by_position(x, x)
    forwarded(x, **kwargs)
    register(as_value)
    nobody(x)
    store.get("k", x)
    one_literal(x, 5)
    one_literal(x, n=5)
    two_literals(x, 5)
    two_literals(x, 6)
    not_literal(x, 3)
    not_literal(x, n=x)
    default_and_other(x)
    default_and_other(x, n=4)
    folded(x, 1 << 4)
    folded(x, n=16)
    by_constant(x, n=USED)
    by_constant(x, 16)
    by_rebound(x, REBOUND)
    by_rebound(x, 2)
    shadowed(x)

def local_name(shadowed):
    return shadowed
"""
_SELF_TEST_ROOT = "from covid19_spark._option_gate_probe import program\nprogram()\n"


def test_option_gate_self_test():
    """The option checks on a planted module.  Unset options: a keyword
    pass, a positional pass (a method's ``self`` skipped) and a
    ``**kwargs`` forward count as set, a def used as a value is exempt, an
    option nobody passes fails.  Single literals: one literal at every call
    (an omitted default included, arithmetic folded, a constant read
    through its name) fails; two literals, a non-literal argument, an
    omitted default plus another literal, or a constant some ``global``
    rebinds pass.  A def whose name only a function's own local of that
    name loads is not used as a value.  A keep entry that names nothing
    flagged is a fault.  Constants: one only the unreached code reads
    fails."""
    planted = _Module(ROOT / PACKAGE / "_option_gate_probe.py", _SELF_TEST_SOURCE)
    root = _Module(ROOT / "tools" / "_option_gate_root.py", _SELF_TEST_ROOT)
    graph = _Graph(modules=[planted], roots=[root])
    unset = unset_options(graph)
    assert unset == [
        "_option_gate_probe.nobody(a)",
        "_option_gate_probe.nobody(b)",
        "_option_gate_probe.shadowed(a)",
    ]
    literals = single_literals(graph)
    assert literals == {
        "_option_gate_probe.nobody(a)": 1,
        "_option_gate_probe.nobody(b)": 2,
        "_option_gate_probe.shadowed(a)": 1,
        "_option_gate_probe.one_literal(n)": 5,
        "_option_gate_probe.folded(n)": 16,
        "_option_gate_probe.by_constant(n)": 16,
    }
    keep = {
        "_option_gate_probe.nobody(a)": "test reaches the probe",
        "_option_gate_probe.one_literal(n)": "deployment setting: the probe",
        "_option_gate_probe.by_keyword(a)": "test reaches the probe",
        "_option_gate_probe.nobody(b)": "because",
    }
    assert keep_option_faults(unset + list(literals), keep) == [
        "_option_gate_probe.by_keyword(a): set by a program call or gone; drop it",
        "_option_gate_probe.nobody(b): reason 'because'",
    ]
    assert unread_constants(graph, keep={}) == ["_option_gate_probe.UNREAD"]
