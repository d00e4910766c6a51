"""The sqllogictest-style gate the reference never had (SURVEY.md §5.1):
every registered query with an oracle runs on Spark AND DuckDB at
sf0.001 and must match on count/schema/values. This mirrors the
driver's sf0.01 check, so anything green here should be green there.
"""

from __future__ import annotations

import pytest

from mapreducewordcounting_spark.checkpoints import checkpoints_read, pinned
from mapreducewordcounting_spark.registry import all_queries
from tests.oracle_util import assert_matches_oracle

_SPECS = all_queries()
_ORACLED = [n for n, s in _SPECS.items() if s.oracle is not None]
_ROWS_ONLY = [n for n, s in _SPECS.items() if s.oracle is None]


def _build_holding_only_what_it_reads(spec, spark, sf_dir):
    """Build the query and assert it left pinned no checkpoint its
    returned plan does not read (checkpoints.py's one rule)."""
    before = set(pinned(spark))
    df = spec.fn(spark, sf_dir)
    stray = set(pinned(spark)) - before - set(checkpoints_read(df))
    assert not stray, f"{len(stray)} pinned RDD(s) the result never reads"
    return df


@pytest.mark.parametrize("name", _ORACLED)
def test_oracle_match(name, spark, duck, sf_dir):
    spec = _SPECS[name]
    df = _build_holding_only_what_it_reads(spec, spark, sf_dir)
    assert_matches_oracle(df, duck, spec.oracle)


@pytest.mark.parametrize("name", _ROWS_ONLY)
def test_rows_only_runs(name, spark, sf_dir):
    spec = _SPECS[name]
    df = _build_holding_only_what_it_reads(spec, spark, sf_dir)
    assert df.count() >= 0  # runs, stable schema
    assert len(df.columns) > 0
