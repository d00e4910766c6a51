"""tools/sync_check.py's doc checks: the SCALING.md "Session defaults"
table must quote the env var and shipped default of every knob that
session.py reads from the environment (check 7), and every quoted
``tools/<name>.py`` path must exist (check 8)."""

from __future__ import annotations

import os

from tools.sync_check import (
    dangling_tool_refs,
    scaling_problems,
    tool_ref_sources,
)

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


def test_committed_tool_paths_exist():
    sources = tool_ref_sources(REPO)
    assert "README.md" in sources and "bench.py" in sources
    assert dangling_tool_refs(sources, REPO) == []


def test_dangling_tool_path_is_flagged():
    sources = tool_ref_sources(REPO)
    sources["README.md"] += "\npython tools/ab_greedy_route.py\n"
    assert dangling_tool_refs(sources, REPO) == [
        "README.md: quotes missing tools/ab_greedy_route.py"]
