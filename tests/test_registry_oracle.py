"""The sqllogictest-style gate the reference never had (SURVEY.md §5.1):
every registered query with an oracle runs on Spark AND DuckDB at
sf0.001 and must match on count/schema/values. This mirrors the
driver's sf0.01 check, so anything green here should be green there.

Every query's build and collect run inside ``tools.measure.cost``, and
the row must equal the query's entry in ``tools/ledger.json``: its
jobs, SQL executions and plan operator and expression counts are
exact, so a change that adds a round, an exchange or a fold fails
here until the ledger is re-recorded
(``python tools/measure.py ledger NAME``) and the diff reviewed.
"""

from __future__ import annotations

import json

import pytest

from mapreducewordcounting_spark.checkpoints import checkpoints_read, pinned
from mapreducewordcounting_spark.registry import all_queries
from tests.oracle_util import assert_matches_oracle
from tools.measure import (
    LEDGER_PATH,
    LEDGER_SF_DIR,
    cost,
    warm_tables,
)

_SPECS = all_queries()
_ORACLED = [n for n, s in _SPECS.items() if s.oracle is not None]
_ROWS_ONLY = [n for n, s in _SPECS.items() if s.oracle is None]


@pytest.fixture(scope="module")
def ledger(spark, sf_dir):
    """The committed rows, or None off the sf they were recorded at.
    Every table is loaded first, as the ledger run does, so no query
    pays a first load's schema-inference job."""
    warm_tables(spark, sf_dir)
    if sf_dir != LEDGER_SF_DIR:
        return None
    with open(LEDGER_PATH) as f:
        return json.load(f)


def _collect_at_ledger_cost(name, spark, sf_dir, ledger):
    """Build and collect the query; assert it left pinned no checkpoint
    its returned plan does not read (checkpoints.py's one rule) and
    that it cost exactly its ledger row. Returns ``(df, rows)``."""
    with cost(spark, f"ledger {name}") as row:
        before = set(pinned(spark))
        df = _SPECS[name].fn(spark, sf_dir)
        stray = set(pinned(spark)) - before - set(checkpoints_read(df))
        rows = df.collect()
    assert not stray, f"{len(stray)} pinned RDD(s) the result never reads"
    if ledger is not None:
        assert row == ledger.get(name)
    return df, rows


@pytest.mark.parametrize("name", _ORACLED)
def test_oracle_match(name, spark, duck, sf_dir, ledger):
    df, rows = _collect_at_ledger_cost(name, spark, sf_dir, ledger)
    assert_matches_oracle(df, duck, _SPECS[name].oracle, rows=rows)


@pytest.mark.parametrize("name", _ROWS_ONLY)
def test_rows_only_runs(name, spark, sf_dir, ledger):
    df, _ = _collect_at_ledger_cost(name, spark, sf_dir, ledger)
    assert len(df.columns) > 0  # runs, stable schema
