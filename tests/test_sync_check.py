"""tools/sync_check.py's doc checks: the SCALING.md "Session defaults"
table must quote the shipped value of every conf session.py sets, and
the env var of every knob it reads from the environment (check 5), and
every quoted ``tools/<name>.py`` path must exist (check 6), and
SCALING.md must state the package's checkpoint call-site count
(check 8)."""

from __future__ import annotations

import os

from tools.sync_check import (
    checkpoint_call_sites,
    checkpoint_count_problems,
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


def test_literal_conf_rows_are_checked():
    session = _read("mapreducewordcounting_spark", "session.py")
    scaling = _read("SCALING.md")
    (codec,) = [line for line in scaling.splitlines()
                if line.startswith("| `spark.io.compression.codec` | zstd ")]
    lz4 = scaling.replace(
        codec, "| `spark.io.compression.codec` | lz4 | Spark's default |")
    assert scaling_problems(lz4, session) == [
        "SCALING.md session defaults: spark.io.compression.codec reads "
        "'lz4', session.py ships zstd"]
    # a combined row is read as its first conf's row; "true" reads "on"
    aqe = "| `spark.sql.adaptive.enabled` + coalescePartitions + skewJoin | on |"
    assert aqe in scaling
    (problem,) = scaling_problems(
        scaling.replace(aqe, aqe.replace("| on |", "| off |")), session)
    assert problem == ("SCALING.md session defaults: spark.sql.adaptive."
                       "enabled reads 'off', session.py ships on")


def test_committed_tool_paths_exist():
    sources = tool_ref_sources(REPO)
    assert "README.md" in sources and "bench.py" in sources
    assert dangling_tool_refs(sources, REPO) == []


def test_dangling_tool_path_is_flagged():
    sources = tool_ref_sources(REPO)
    sources["README.md"] += "\npython tools/ab_greedy_route.py\n"
    sources["Makefile"] += "\ncheck:\n\tpython tools/check.py $(SF_DIR)\n"
    assert dangling_tool_refs(sources, REPO) == [
        "README.md: quotes missing tools/ab_greedy_route.py",
        "Makefile: quotes missing tools/check.py"]


def test_scaling_states_the_checkpoint_call_site_count():
    n = checkpoint_call_sites(REPO)
    scaling = _read("SCALING.md")
    assert checkpoint_count_problems(scaling, n) == []
    stated = f"{n} `.localCheckpoint(` call sites"
    assert checkpoint_count_problems(
        scaling.replace(stated, f"{n + 1} `.localCheckpoint(` call sites"),
        n) == [f"SCALING.md states ['{n + 1}'] `.localCheckpoint(` call "
               f"sites, the package has {n}"]
    assert checkpoint_count_problems(scaling.replace(stated, "the"), n) == [
        f"SCALING.md states no `.localCheckpoint(` call sites, the package "
        f"has {n}"]
