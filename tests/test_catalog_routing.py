"""Every CDC catalog entry runs an engine operator.

Spark-free: parses ``debezium_spark/queries.py`` with ``ast``. An entry
reaches the engine when its body, or a module-level helper it calls
(followed transitively — the events→envelope adapter included),
references a name bound by an import from an engine module. The only
exceptions are the entries in ``CATALOG_ONLY``, each with its reason.
"""

from __future__ import annotations

import ast
import pathlib

QUERIES_PY = (
    pathlib.Path(__file__).resolve().parents[1] / "debezium_spark" / "queries.py"
)
ENGINE_MODULES = (
    "debezium_spark.operators",
    "debezium_spark.sources",
    "debezium_spark.lake",
    "debezium_spark.streaming",
    "debezium_spark.publisher",
    "debezium_spark.ddl",
)


def _engine_bindings(nodes) -> set[str]:
    """Names bound by ``from <engine module> import ...`` among nodes."""
    out = set()
    for n in nodes:
        if isinstance(n, ast.ImportFrom) and n.module and any(
            n.module == m or n.module.startswith(m + ".") for m in ENGINE_MODULES
        ):
            out.update(a.asname or a.name for a in n.names)
    return out


def _catalog():
    tree = ast.parse(QUERIES_PY.read_text())
    functions = {
        n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)
    }
    entries = {}
    for fn in functions.values():
        for d in fn.decorator_list:
            if (
                isinstance(d, ast.Call)
                and isinstance(d.func, ast.Name)
                and d.func.id == "_q"
            ):
                entries[d.args[0].value] = fn
    allow = next(
        ast.literal_eval(n.value)
        for n in tree.body
        if isinstance(n, ast.Assign)
        and any(getattr(t, "id", None) == "CATALOG_ONLY" for t in n.targets)
    )
    module_engine = _engine_bindings(tree.body)

    def reaches(fn, seen=frozenset()) -> bool:
        engine = module_engine | _engine_bindings(ast.walk(fn))
        loaded = {
            n.id
            for n in ast.walk(fn)
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
        }
        if loaded & engine:
            return True
        return any(
            reaches(functions[name], seen | {fn.name})
            for name in loaded
            if name in functions and name not in seen and name != fn.name
        )

    return entries, allow, reaches


def test_every_cdc_entry_runs_an_engine_operator():
    entries, allow, reaches = _catalog()
    cdc = sorted(k for k in entries if k.startswith("cdc_"))
    assert cdc, "no cdc_* entries found"
    inline = [k for k in cdc if k not in allow and not reaches(entries[k])]
    assert not inline, f"cdc_* entries re-expressing an operator inline: {inline}"


def test_catalog_only_allowlist_is_exact_and_explained():
    entries, allow, reaches = _catalog()
    assert set(allow) <= {k for k in entries if k.startswith("cdc_")}, (
        set(allow) - set(entries)
    )
    for name, reason in allow.items():
        assert isinstance(reason, str) and reason.strip(), name
    # an allowlisted entry that does reach the engine belongs off the list
    stale = sorted(k for k in allow if reaches(entries[k]))
    assert not stale, f"allowlisted entries that run an engine operator: {stale}"
