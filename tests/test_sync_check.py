"""tools/sync_check.py's SCALING.md check: the "Session defaults"
table must quote the env var and shipped default of every knob that
session.py reads from the environment."""

from __future__ import annotations

import os

from tools.sync_check import scaling_problems

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _read(*parts: str) -> str:
    with open(os.path.join(REPO, *parts)) as f:
        return f.read()


def test_scaling_session_table_matches_session_py():
    session = _read("mapreducewordcounting_spark", "session.py")
    assert scaling_problems(_read("SCALING.md"), session) == []


def test_stale_or_missing_scaling_row_is_flagged():
    session = _read("mapreducewordcounting_spark", "session.py")
    scaling = _read("SCALING.md")
    row = ("| `spark.sql.autoBroadcastJoinThreshold` | "
           "16m (`SPARK_GRAFT_AUTOBROADCAST`) |")
    assert row in scaling
    stale = scaling.replace(
        row, "| `spark.sql.autoBroadcastJoinThreshold` | 64 MB |")
    (problem,) = scaling_problems(stale, session)
    assert "autoBroadcastJoinThreshold reads '64 MB'" in problem
    missing = "\n".join(line for line in scaling.splitlines()
                        if "`spark.sql.files.maxPartitionBytes` |" not in line)
    assert scaling_problems(missing, session) == [
        "SCALING.md session defaults: "
        "no spark.sql.files.maxPartitionBytes row"]
