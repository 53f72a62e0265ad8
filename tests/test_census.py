"""Reachability census of the library (no Spark session).

Every top-level function or class in ``clickhouse_etl_spark`` must run
from one of four kinds of roots, walked with the same name resolution
as ``impl_hash._reachable``:

- every registry entry's ``fn``;
- the module-level code of every library module (dispatch tables such
  as ``expr.functions.FUNCTIONS``, the SQL templates in ``queries.py``,
  schemas built at import), leaving out imports, ``__all__`` and
  docstrings, which name a definition without running it;
- the production roots below;
- every library name that ``perfbench/``, ``scripts/`` or ``bench.py``
  uses.

What none of them reaches must sit on ``KEPT`` with a one-line reason,
or be deleted. A new library definition therefore needs a caller or a
line here.
"""

from __future__ import annotations

import ast
import importlib
import inspect
import pkgutil
from pathlib import Path

import clickhouse_etl_spark
from clickhouse_etl_spark import impl_hash

REPO = Path(__file__).resolve().parents[1]
PKG = "clickhouse_etl_spark"

PRODUCTION_ROOTS = {
    "streaming.runner": ["StreamingPipeline"],
    "streaming.lifecycle": ["PipelineManager"],
    "plans.compiler": ["build_pipeline", "source_chain", "resolve_dataop"],
    "spec.model": ["parse_pipeline_json"],
    "sinks.clickhouse": ["ClickHouseSink"],
    "sinks.dlq": ["DLQWriter"],
    "streaming.curation": ["curation_scored_stream", "curation_rollup_stream"],
    "streaming.rollup": ["otlp_rollup_stream"],
    "streaming.temporal_join": ["temporal_join_streaming"],
}

_EVALUATE = "reference surface: ad-hoc evaluate/validate endpoints (SURVEY §2.3)"
_VERSIONED = (
    "schema-version surface (SchemaVersions, SURVEY §1.3): built, not wired;"
    " wiring or deleting it is ROADMAP item 10's open decision"
)
_SEEN_WRITER = "grain Bloom writer named by dedup._seen_format's error message"

KEPT = {
    "evaluate.evaluate_expression": _EVALUATE,
    "evaluate.validate_filter": _EVALUATE,
    "spec.migrate.convert_v2_to_v3": "reference surface: v2 -> v3 migration preview (SURVEY §3)",
    "streaming.runner.kafka_source_stream": "reference surface: the Kafka source a live deployment reads",
    "operators.validate.validate_json_versioned": _VERSIONED,
    "operators.transform.apply_versioned_transform": _VERSIONED,
    "spec.schema_registry.widest_schema": _VERSIONED,
    "spec.sr_client.SchemaTracker": _VERSIONED,
    "spec.sr_client.HTTPSchemaRegistryClient": _VERSIONED,
    "streaming.metrics.PipelineMetricsListener": "per-stage counters; ROADMAP item 4 gives it its caller",
    "dataops.dedup._band_keys_expr": "Catalyst reference form the Arrow band-key kernel is tested against",
    "dataops.dedup.write_ngram_bloom_table": _SEEN_WRITER,
    "dataops.dedup.write_span_bloom_table": _SEEN_WRITER,
}


def _library_modules():
    yield clickhouse_etl_spark
    for info in pkgutil.walk_packages(clickhouse_etl_spark.__path__, PKG + "."):
        yield importlib.import_module(info.name)


def _runs_nothing(node: ast.stmt) -> bool:
    """Imports, ``__all__`` and docstrings name definitions without
    running them."""
    if isinstance(node, (ast.Import, ast.ImportFrom)):
        return True
    if isinstance(node, ast.Expr) and isinstance(node.value, ast.Constant):
        return True
    targets = getattr(node, "targets", None) or [getattr(node, "target", None)]
    return any(isinstance(t, ast.Name) and t.id == "__all__" for t in targets)


def _module_level_source(tree: ast.Module, text: str) -> str:
    """The code a module runs at import: every top-level statement
    that runs something, plus the decorators of its top-level
    definitions (their bodies are walked from their roots)."""
    lines = text.splitlines()
    spans = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            spans += node.decorator_list
        elif not _runs_nothing(node):
            spans.append(node)
    return "\n".join(
        "\n".join(lines[n.lineno - 1 : n.end_lineno]) for n in spans
    )


def _targets(src: str, namespace: dict) -> list:
    """Library functions and classes that ``src`` names, resolved as
    ``impl_hash._reachable`` resolves them (``module.attr`` included)."""
    out = []
    for name in set(impl_hash._IDENT.findall(src)):
        target = namespace.get(name)
        if target is None:
            continue
        if inspect.ismodule(target) and impl_hash._in_pkg_module(target):
            for attr in impl_hash._module_attrs_used(src, name):
                t2 = getattr(target, attr, None)
                if t2 is not None and impl_hash._hashable_target(t2):
                    out.append(t2)
        elif impl_hash._hashable_target(target):
            out.append(target)
    return out


def _tool_sources():
    for rel in ("perfbench", "scripts"):
        yield from sorted((REPO / rel).rglob("*.py"))
    yield REPO / "bench.py"


def _roots() -> list:
    from clickhouse_etl_spark import queries

    roots = [qd.fn for qd in queries.QUERIES.values()]
    for mod in _library_modules():
        text = Path(mod.__file__).read_text()
        roots += _targets(_module_level_source(ast.parse(text), text), vars(mod))
    for modname, names in PRODUCTION_ROOTS.items():
        mod = importlib.import_module(f"{PKG}.{modname}")
        roots += [getattr(mod, n) for n in names]
    for path in _tool_sources():
        src = path.read_text()
        roots += _targets(src, impl_hash._local_imports(src, path.stem))
    return roots


def _reached(roots) -> set[str]:
    seen: set[str] = set()
    for fn in roots:
        obj = inspect.unwrap(fn)
        if f"{obj.__module__}.{obj.__qualname__}" in seen:
            continue
        seen |= set(impl_hash._reachable(fn))
    return seen


def _definitions() -> list[str]:
    return [
        f"{mod.__name__}.{node.name}"
        for mod in _library_modules()
        for node in ast.parse(Path(mod.__file__).read_text()).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    ]


def _kept_objects() -> list:
    out = []
    for name in KEPT:
        modname, _, attr = name.rpartition(".")
        out.append(getattr(importlib.import_module(f"{PKG}.{modname}"), attr))
    return out


def test_every_library_definition_has_a_root_or_a_reason():
    reached = _reached(_roots())
    unreached = [d for d in _definitions() if d not in reached]
    kept = _reached(_kept_objects())
    orphans = [d[len(PKG) + 1 :] for d in unreached if d not in kept]
    assert not orphans, (
        "library definitions that no registry entry, module-level code,"
        " production root, tool or KEPT surface reaches: delete them,"
        f" give them a caller, or add them to KEPT with a reason: {orphans}"
    )
    live = sorted(n for n in KEPT if f"{PKG}.{n}" in reached)
    assert not live, f"KEPT names definitions a root already reaches: {live}"
