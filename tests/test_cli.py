"""End-to-end CLI test: the reference user's migration path, run as a
real subprocess (own JVM) over a real text-file corpus."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRATCH = os.path.join(REPO, ".scratch", "cli")


@pytest.fixture()
def corpus():
    shutil.rmtree(SCRATCH, ignore_errors=True)
    raw = os.path.join(SCRATCH, "RawText")
    os.makedirs(raw)
    with open(os.path.join(raw, "a.txt"), "w") as f:
        f.write("Hello, world! Hello Spark.\n")
    with open(os.path.join(raw, "b.txt"), "w") as f:
        f.write("don't stop the world\nfoo-bar foo-bar\n")
    yield raw
    shutil.rmtree(SCRATCH, ignore_errors=True)


def _run_cli(*args):
    return subprocess.run(
        [sys.executable, "-m", "mapreducewordcounting_spark", *args],
        capture_output=True, text=True, cwd=REPO,
        env={**os.environ, "SPARK_GRAFT_CPUS": "4"}, timeout=300)


def _read_counts(out_dir):
    counts = {}
    for fn in os.listdir(out_dir):
        if fn.startswith("part-") and not fn.endswith(".crc"):
            with open(os.path.join(out_dir, fn)) as f:
                for line in f:
                    if line.strip():
                        w, c = line.rsplit(" ", 1)
                        counts[w] = int(c)
    return counts


def test_cli_canonical(corpus):
    out = os.path.join(SCRATCH, "out")
    r = _run_cli(corpus, out, "--merge")
    assert r.returncode == 0, r.stderr[-2000:]
    assert "word count complete" in r.stdout
    assert _read_counts(out) == {
        "hello": 2, "world": 2, "spark": 1,
        "don't": 1, "stop": 1, "the": 1, "foobar": 2,
    }


def test_cli_fidelity_mode(corpus):
    """The reference's truncation semantics end-to-end: foo-bar → foo."""
    out = os.path.join(SCRATCH, "out_fid")
    r = _run_cli(corpus, out, "--merge", "--mode", "fidelity")
    assert r.returncode == 0, r.stderr[-2000:]
    counts = _read_counts(out)
    assert counts["foo"] == 2 and "foobar" not in counts
    assert counts["don't"] == 1


def test_cli_bad_args():
    r = _run_cli()  # missing required args
    assert r.returncode == 2
    assert "usage" in (r.stderr + r.stdout).lower()


def test_explain_list():
    """explain --list enumerates the registry without a SparkSession."""
    from mapreducewordcounting_spark.explain import main
    assert main(["--list"]) == 0
    assert main(["no_such_query"]) == 2


def test_explain_profile_wordcount(spark, sf_dir, capsys):
    """explain --profile on the reference's pipeline: the final plan's
    one exchange is the word shuffle between the partial and the final
    aggregate, it moves (word, partial count) pairs, and its SQL
    metrics report what it wrote: at least one record per distinct
    word, since every word's partial count crosses it."""
    import re

    from mapreducewordcounting_spark.explain import main, print_profile
    from mapreducewordcounting_spark.registry import queries

    assert main(["no_such_query", "--profile"]) == 2
    df = queries()["wordcount_canonical"](spark, sf_dir)
    print_profile(df)
    out = capsys.readouterr().out.splitlines()
    assert out[0] == "exchanges in the final plan: 1", out
    assert re.match(r"Exchange hashpartitioning\(word#\d+, \d+\), "
                    r"ENSURE_REQUIREMENTS", out[1]), out
    assert out[2] == "  input: word:string, count:bigint", out
    m = re.fullmatch(r"  records written: (\d+), bytes written: (\d+)",
                     out[3])
    assert m, out
    assert int(m.group(1)) >= df.count() > 0 and int(m.group(2)) > 0, out


def test_cli_list():
    r = _run_cli("list")
    assert r.returncode == 0, r.stderr[-2000:]
    lines = dict(l.split("\t") for l in r.stdout.strip().splitlines())
    assert lines["wordcount_canonical"] == "oracled"
    assert len(lines) >= 200


def test_cli_query_and_sql():
    r = _run_cli("query", "topk_global",
                 "--sf-dir", "/root/testdata/sf0.001")
    assert r.returncode == 0, r.stderr[-2000:]
    assert "o_orderkey" in r.stdout  # schema header rendered

    r2 = _run_cli(
        "sql",
        "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY 1",
        "--sf-dir", "/root/testdata/sf0.001")
    assert r2.returncode == 0, r2.stderr[-2000:]
    assert "l_returnflag" in r2.stdout

    r3 = _run_cli("query", "no_such_query")
    assert r3.returncode == 2
