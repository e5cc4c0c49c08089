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
    "streaming.observability": "ROADMAP item 5 decides: attach observe_stream or delete",
    "operators.telemetry": "ROADMAP item 5 decides with streaming.observability",
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
    """One parsed file: its top-level defs, its import aliases (local name
    -> dotted target, from every import in the file), the code its
    top-level statements run, and each def's own code."""

    def __init__(self, path: Path):
        self.name = _module_name(path)
        tree = ast.parse(path.read_text(), str(path))
        package = self.name if path.name == "__init__.py" else self.name.rpartition(".")[0]
        self.aliases: dict[str, str] = {}
        self.defs: dict[str, _Code] = {}
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
    def __init__(self):
        self.modules = {
            m.name: m for m in map(_Module, sorted((ROOT / PACKAGE).rglob("*.py")))
        }
        self.roots = [_Module(p) for p in _program_files()]

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
