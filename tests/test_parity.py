"""Driver-replica differential tests: every declared oracle query must
hash-match DuckDB exactly (bitwise) at sf0.001.  A heavier sf0.01 sweep
(what the driver actually runs) is in scripts/check_parity.py and run
before declaring new queries done.

The full parametrized sweep exceeds a 10-minute command cap; set
``PSVM_PARITY_SHARD=i/N`` to run a deterministic contiguous 1-based
shard (sorted key order) — every key appears in exactly one shard.
"""

from __future__ import annotations

import os

import pytest

from psvm_spark import registry

registry.load_all()
ORACLE_KEYS = sorted(registry.ORACLES)

_shard = os.environ.get("PSVM_PARITY_SHARD")
if _shard:
    _i, _n = (int(x) for x in _shard.split("/"))
    assert 1 <= _i <= _n, "PSVM_PARITY_SHARD is 1-based: i/N"
    _per = -(-len(ORACLE_KEYS) // _n)
    ORACLE_KEYS = ORACLE_KEYS[(_i - 1) * _per : _i * _per]


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_oracle_parity(spark, sf_dir, name):
    from psvm_spark.oracle import compare_query

    res = compare_query(spark, sf_dir, name)
    assert res.ok, str(res)


@pytest.mark.parametrize(
    "expr", ["array(1, 2)", "map('a', 1)", "named_struct('a', 1)"]
)
def test_nested_output_fails(spark, sf_dir, monkeypatch, expr):
    from psvm_spark.oracle import compare_query

    monkeypatch.setitem(
        registry.QUERIES, "fake_nested", lambda s, d: s.sql(f"SELECT 1 AS id, {expr} AS v")
    )
    monkeypatch.setitem(registry.ORACLES, "fake_nested", "SELECT 1 AS id, [1, 2] AS v")
    res = compare_query(spark, sf_dir, "fake_nested")
    assert not res.ok
    assert "nested output column(s): v:" in str(res)


def test_all_oracle_keys_have_queries():
    assert set(registry.ORACLES) <= set(registry.QUERIES)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_disc_price" in df.columns
