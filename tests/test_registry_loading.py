"""Registry loading and invariants: every family module is imported
statically, so an ImportError in one must fail the registry import
LOUDLY instead of silently shrinking queries(); and KEY_ORDER must name
every module key exactly once."""

from __future__ import annotations

import importlib
import pkgutil
import sys

import pytest

PKG = "dbt_snowflake_feature_store_spark.operators"


def test_first_party_import_error_raises(monkeypatch):
    victim = f"{PKG}.stats"
    pkg = importlib.import_module(PKG)

    class _Poison:
        def find_spec(self, fullname, path=None, target=None):
            if fullname == victim:
                raise ImportError("poisoned for test")
            return None

    monkeypatch.delitem(sys.modules, victim, raising=False)
    monkeypatch.delitem(sys.modules, f"{PKG}.registry", raising=False)
    # ``from . import stats`` reads the package attribute before
    # sys.modules, so unbind it too
    monkeypatch.delattr(pkg, "stats", raising=False)
    monkeypatch.setattr(sys, "meta_path", [_Poison()] + sys.meta_path)
    with pytest.raises(ImportError, match="poisoned"):
        importlib.import_module(f"{PKG}.registry")


def test_full_registry_restores_after_poison():
    """A clean queries() call sees every module again (the poison test
    above monkeypatched sys.modules per-test)."""
    from dbt_snowflake_feature_store_spark.operators import registry

    out = registry.queries()
    assert "q_ks_drift" in out and "q_groupby_agg" in out


def _module_queries() -> dict[str, dict]:
    pkg = importlib.import_module(PKG)
    out = {}
    for info in pkgutil.iter_modules(pkg.__path__):
        mod = importlib.import_module(f"{PKG}.{info.name}")
        if hasattr(mod, "QUERIES"):
            out[info.name] = mod.QUERIES
    return out


def test_key_order_covers_every_module_key_once():
    from dbt_snowflake_feature_store_spark.operators import registry

    order = registry.KEY_ORDER
    assert len(order) == len(set(order))
    per_module = _module_queries()
    owners: dict[str, list[str]] = {}
    for name, qs in per_module.items():
        for key in qs:
            owners.setdefault(key, []).append(name)
    shadowed = {k: v for k, v in owners.items() if len(v) > 1}
    assert not shadowed, shadowed
    assert set(order) == set(owners)
    assert list(registry.queries()) == list(order)


def test_oracle_keys_are_query_keys():
    from dbt_snowflake_feature_store_spark.operators import registry

    queries = registry.queries()
    oracles = registry.oracle_sql()
    assert set(oracles) <= set(queries)
    assert list(oracles) == [k for k in registry.KEY_ORDER if k in oracles]


def test_unordered_key_raises(monkeypatch):
    from dbt_snowflake_feature_store_spark.operators import registry, sql

    monkeypatch.setitem(sql.QUERIES, "q_not_in_key_order", lambda s, d: None)
    with pytest.raises(RuntimeError, match="q_not_in_key_order"):
        registry.queries()
