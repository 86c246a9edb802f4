"""The registry holds one implementation per query name: `register`
refuses a name that is already registered, so a second definition
cannot silently shadow the first."""

from __future__ import annotations

import pytest

from risingwave_py_spark import registry

registry.load_all()


def _snapshot() -> tuple[dict, dict, dict]:
    return dict(registry.QUERIES), dict(registry.ORACLES), dict(registry.SQL_TEXT)


@pytest.mark.parametrize("name", ["q1_pricing_summary", "dedup_simhash"])
def test_register_refuses_a_registered_name(name):
    before = _snapshot()
    with pytest.raises(ValueError, match=name):
        registry.register(name, oracle="SELECT 1")(lambda spark, sf_dir: None)
    with pytest.raises(ValueError, match=name):
        registry._sql_query(name, "SELECT 1", oracle="SELECT 1")
    assert _snapshot() == before

