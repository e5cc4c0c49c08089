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
program code uses as a value, is exempt, and so are the defs ``KEEP``
names.
"""

from __future__ import annotations

import ast
import functools
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "covid19_spark"

# Package defs and modules no program code reaches that stay anyway.
# Dotted name under ``covid19_spark`` -> reason: a COVERAGE §2 id, a
# ROADMAP item (4 or 5), or "test reference for X".  The covid19
# reference pieces wait for the ROADMAP item 5 app to call them.
KEEP: dict[str, str] = {
    "functions.scalars.best_news_source": "COVERAGE §2 P8 coalesce news source",
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
    chains on a name, imported modules, and the names the code binds."""

    def __init__(self, nodes, package: str, aliases: dict[str, str]):
        self.names: set[str] = set()
        self.chains: set[tuple[str, ...]] = set()
        self.imports: set[str] = set()
        self.binds: set[str] = set()
        for top in nodes:
            for node in ast.walk(top):
                if isinstance(node, ast.Name):
                    if isinstance(node.ctx, ast.Load):
                        self.names.add(node.id)
                    else:
                        self.binds.add(node.id)
                elif isinstance(node, ast.arg):
                    self.binds.add(node.arg)
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


def _import_base(node: ast.ImportFrom, package: str) -> str:
    if not node.level:
        return node.module or ""
    parts = package.split(".")
    base = ".".join(parts[: len(parts) - node.level + 1])
    return f"{base}.{node.module}" if node.module else base


class _Module:
    """One parsed file (from disk, or from ``source``): its syntax tree,
    its top-level defs and classes, its import aliases (local name ->
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
        """A dotted target -> ('mod', m) or ('def', m, n), following
        re-exports through the aliases of the module that holds them."""
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
        return ("mod", mod)  # a module-level value: the module's code runs

    def refs(self, module: _Module, code: _Code, shadow=frozenset()) -> set:
        """Every package def and module ``code`` refers to.  Names the code
        binds itself (``shadow``) are locals, not references."""
        out = {self.resolve(d) for d in code.imports if d in self.modules}
        for name in code.names - shadow:
            if name in module.defs and module.name in self.modules:
                out.add(("def", module.name, name))
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
        code (and its parent package), or a def's body."""
        m = self.modules[key[1]]
        if key[0] == "mod":
            parent = key[1].rpartition(".")[0]
            return self.refs(m, m.top) | ({("mod", parent)} if parent else set())
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


def _keep_roots(graph: _Graph) -> set:
    roots = set()
    for entry in KEEP:
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
    "operators.graph.pagerank(checkpoint_every)":
        "test reaches the per-k-round lineage checkpoint",
    "operators.graph.label_propagation(checkpoint_every)":
        "test reaches the per-k-round lineage checkpoint",
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
    excluded, so index 0 is the first argument a caller passes) and its
    defaulted parameters."""

    def __init__(self, fn: ast.FunctionDef, is_method: bool):
        decorators = {_decorator_name(d) for d in fn.decorator_list}
        a = fn.args
        positional = a.posonlyargs + a.args
        if is_method and "staticmethod" not in decorators:
            positional = positional[1:]
        self.positional = [p.arg for p in positional]
        self.options = [p.arg for p in positional[len(positional) - len(a.defaults):]]
        self.options += [p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d]
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


def option_uses(graph: _Graph):
    """(package defs, the (module, def, param) triples some program call
    passes, the defs exempt from the check) over every program call: the
    package's own code and the program roots."""
    defs = _package_defs(graph)
    by_method: dict[str, set] = {}
    for mod, qual in defs:
        if "." in qual:
            by_method.setdefault(qual.rpartition(".")[2], set()).add((mod, qual))
    passed: set[tuple[str, str, str]] = set()
    exempt = {k for k, d in defs.items() if d.wrapped}
    for module in [*graph.modules.values(), *graph.roots]:
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
                else:
                    names = defs[key].positional[: len(node.args)]
                    names += [k.arg for k in node.keywords]
                    passed |= {(*key, n) for n in names}
        for node in ast.walk(module.tree):
            if (
                isinstance(node, (ast.Name, ast.Attribute))
                and isinstance(node.ctx, ast.Load)
                and id(node) not in called
            ):
                exempt |= _named_defs(graph, module, node, by_method) & defs.keys()
    return defs, passed, exempt


def unset_options(graph: _Graph | None = None) -> list[str]:
    """``module.def(param)`` for each defaulted parameter of a package def
    that no program call passes.  Defs a ``KEEP`` entry names are skipped,
    and so is a def some program call forwards ``*args``/``**kwargs`` to or
    some program code uses as a value (a callback, a registry entry)."""
    graph = graph or _graph()
    defs, passed, exempt = option_uses(graph)
    kept = tuple(f"{PACKAGE}.{entry}" for entry in KEEP)
    out = []
    for (mod, qual), d in defs.items():
        dotted = f"{mod}.{qual}"
        if (mod, qual) in exempt or any(
            dotted == k or dotted.startswith(k + ".") for k in kept
        ):
            continue
        out += [
            f"{dotted[len(PACKAGE) + 1:]}({name})"
            for name in d.options
            if (mod, qual, name) not in passed
        ]
    return sorted(out)


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


def test_keep_options_are_needed_and_carry_a_reason():
    faults = keep_option_faults(unset_options(), KEEP_OPTIONS)
    assert not faults, "\n  ".join(["stale or unexplained KEEP_OPTIONS:", *faults])


_SELF_TEST_SOURCE = """
def by_keyword(x, a=1): ...
def by_position(x, a=1): ...
def forwarded(x, a=1): ...
def as_value(x, a=1): ...
def nobody(x, a=1, *, b=2): ...

class Store:
    def get(self, key, default=None): ...

def program(kwargs, store):
    by_keyword(0, a=2)
    by_position(0, 2)
    forwarded(0, **kwargs)
    register(as_value)
    nobody(0)
    store.get("k", 3)
"""


def test_option_gate_self_test():
    """The option check on a planted module: a keyword pass, a positional
    pass (a method's ``self`` skipped) and a ``**kwargs`` forward count as
    set, a def used as a value is exempt, an option nobody passes fails,
    and a keep entry that names no unset option is a fault."""
    planted = _Module(ROOT / PACKAGE / "_option_gate_probe.py", _SELF_TEST_SOURCE)
    graph = _Graph(modules=[planted], roots=[])
    unset = unset_options(graph)
    assert unset == ["_option_gate_probe.nobody(a)", "_option_gate_probe.nobody(b)"]
    keep = {
        "_option_gate_probe.nobody(a)": "test reaches the probe",
        "_option_gate_probe.by_keyword(a)": "test reaches the probe",
        "_option_gate_probe.nobody(b)": "because",
    }
    assert keep_option_faults(unset, keep) == [
        "_option_gate_probe.by_keyword(a): set by a program call or gone; drop it",
        "_option_gate_probe.nobody(b): reason 'because'",
    ]
