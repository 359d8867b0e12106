"""Every inventory query with an oracle must hash-match DuckDB at smoke SF.

This mirrors the driver's t2 gate (see __spark_entry__.py docstring) so a
red test here means the same query fails that gate.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.oracle import compare, duck_con

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duck_con(sf_dir)
    yield c
    c.close()


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert df.schema is not None


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_no_hugeint(con, name):
    """Recurrence guard for the driver's one repeated failure class.

    DuckDB promotes sum(BIGINT) to HUGEINT (int128); the driver's
    canonicalizer renders HUGEINT differently than Spark's bigint, so an
    oracle emitting HUGEINT hash-fails even when every value matches.
    This cost green rows in rounds 1 and 3 (q_pipeline_clean_corpus,
    q_pivot_activity, q_skew_key_report, q_route_traced). Binding the
    relation types (no execution) catches it before the driver does.
    """
    types = [str(t) for t in con.sql(ORACLES[name]).types]
    offenders = [t for t in types if "HUGEINT" in t.upper()]
    assert not offenders, (
        f"{name}: oracle emits HUGEINT column(s) {offenders}; "
        "wrap the sum in CAST(... AS BIGINT) (CLAUDE.md convention)"
    )


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_vs_oracle(spark, sf_dir, con, name):
    df = QUERIES[name](spark, sf_dir)
    if name not in ORACLES:
        # rows-only check (non-SQL-expressible op)
        assert df.count() >= 0
        return
    res = compare(df, con, ORACLES[name])
    assert res["colnames_match"], res
    assert res["rowcount_match"], res
    assert res["values_match"], res
