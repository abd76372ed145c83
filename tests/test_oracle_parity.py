"""The local correctness gate: every registered query with an oracle is
run at sf0.001 and compared to DuckDB exactly the way the driver does
(sorted columns, order-insensitive rows). Rows-only queries are smoke-
run. The driver-mimic (/tmp/drive_contract.py, see
.claude/skills/verify/SKILL.md) repeats this at sf0.01."""

import pytest

from tests.conftest import SF_SMOKE, _specs, assert_df_matches, oracle_df


@pytest.mark.parametrize("name", sorted(_specs().keys()))
def test_query_vs_oracle(spark, duck, name):
    spec = _specs()[name]
    got = spec.fn(spark, SF_SMOKE)
    if spec.oracle is None:
        assert got.count() >= 0  # rows-only smoke: runs and has a schema
        assert len(got.columns) > 0
        return
    want = oracle_df(duck, spec.oracle, SF_SMOKE)
    assert_df_matches(got, want)
