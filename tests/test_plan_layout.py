"""Layout guard for the query library: one module per query family,
one way to register a query, and private helpers shared between
families only through ``plans/_shared.py``.

The checks read the plan sources as ASTs; the last one imports the
registry (no Spark session).
"""

from __future__ import annotations

import ast
import os

import pytest

PLANS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "lakehouse_architecture_transaction_spark",
    "plans",
)
PKG_PLANS = "lakehouse_architecture_transaction_spark.plans"

#: The bench's family labels; each is the name of the module that
#: defines the family's queries.
FAMILIES = {
    "tpch", "window", "events", "behavior", "etl", "streaming", "text",
    "dedup", "sampling", "emb", "ann", "mm", "graph",
}
#: Modules of the package that are not families.
SUPPORT = {"__init__", "registry", "_shared"}


TREES: dict[str, ast.Module] = {
    fn[:-3]: ast.parse(open(os.path.join(PLANS, fn)).read())
    for fn in sorted(os.listdir(PLANS))
    if fn.endswith(".py")
}
#: every plans module that may hold queries or helpers
QUERY_MODULES = sorted(set(TREES) - {"__init__", "registry"})


def _is_register(node: ast.AST) -> bool:
    return isinstance(node, ast.Call) and getattr(node.func, "id", None) == "register"


def test_plans_holds_one_module_per_family():
    assert set(TREES) == FAMILIES | SUPPORT


@pytest.mark.parametrize("mod", QUERY_MODULES)
def test_register_is_used_only_as_a_decorator(mod):
    tree = TREES[mod]
    decorators = set()
    for fn in tree.body:
        for d in getattr(fn, "decorator_list", []):
            if _is_register(d):
                assert mod in FAMILIES, f"{fn.name}: registered outside a family module"
                assert not d.args, f"{fn.name}: the query name is the function name"
                extra = {k.arg for k in d.keywords} - {"oracle", "headline"}
                assert not extra, f"{fn.name}: unexpected register arguments {extra}"
                decorators.add(id(d))
    calls = [n for n in ast.walk(tree) if _is_register(n) and id(n) not in decorators]
    assert not calls, f"{mod}: register called outside a top-level decorator (line {calls[0].lineno})"


@pytest.mark.parametrize("mod", QUERY_MODULES)
def test_private_helpers_come_only_from_shared(mod):
    for node in ast.walk(TREES[mod]):
        if not isinstance(node, ast.ImportFrom) or not node.module:
            continue
        if not node.module.startswith(PKG_PLANS + "."):
            continue
        source = node.module.rsplit(".", 1)[1]
        if mod == "_shared":
            assert source == "registry", f"_shared imports from family module {source}"
        if source not in ("_shared", "registry"):
            private = [a.name for a in node.names if a.name.startswith("_")]
            assert not private, f"{mod} imports {private} from family module {source}"


def test_every_registered_query_names_its_family():
    from lakehouse_architecture_transaction_spark.plans import REGISTRY

    for name, spec in REGISTRY.items():
        assert spec.family in FAMILIES, f"{name}: family {spec.family!r}"
        assert spec.name == spec.fn.__name__ == name
