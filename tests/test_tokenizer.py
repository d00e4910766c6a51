"""Golden + property-based tokenizer tests (SURVEY.md §5.2 items 3-4).

The golden micro-corpus pins the O4 semantics decision (SURVEY.md §7.0,
FIXTURES.md table): canonical mode strips `[^a-z']` after lower;
fidelity mode reproduces the reference's truncate-at-first-disallowed-
char behavior (sendFileByFile.cpp:89-93, verified by simulation:
``foo-bar → foo``, ``a1b2c3 → a``) without the char[30] overflow.
"""

from __future__ import annotations

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from mapreducewordcounting_spark.functions.text import (
    tokenize_canonical,
    tokenize_fidelity,
)
from mapreducewordcounting_spark.operators.wordcount import (
    word_count,
    word_count_rdd,
)

GOLDEN = [
    # (input token, canonical, fidelity)  — FIXTURES.md golden table
    ("Hello,", "hello", "hello"),
    ("don't", "don't", "don't"),
    ("foo-bar", "foobar", "foo"),
    ("a1b2c3", "abc", "a"),
    ("...", "", ""),
    ("O'Brien!", "o'brien", "o'brien"),
]


def _run(spark, text: str, mode) -> list[str]:
    df = spark.createDataFrame([Row(text=text)])
    return df.select(mode("text").alias("t")).collect()[0].t


@pytest.mark.parametrize("tok,canon,fid", GOLDEN)
def test_golden_tokens(spark, tok, canon, fid):
    assert _run(spark, tok, tokenize_canonical) == [canon]
    assert _run(spark, tok, tokenize_fidelity) == [fid]


def test_golden_sentence(spark):
    text = " ".join(t for t, _, _ in GOLDEN)
    assert _run(spark, text, tokenize_canonical) == [c for _, c, _ in GOLDEN]
    assert _run(spark, text, tokenize_fidelity) == [f for _, _, f in GOLDEN]


def test_rdd_splits_on_java_whitespace_only(spark, tmp_path):
    """wordcount_rdd splits where Spark's ``\\s`` does, not where
    Python's ``str.split()`` does: NBSP, U+2003, U+0085 and
    \\x1c-\\x1f join their neighbours; \\t and \\x0b split."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    text = "Foo\u00a0bar baz\u2003qux a\x85b c\x1cd e\tf g\x0bh"
    pq.write_table(pa.table({"text": [text, None]}),
                   str(tmp_path / "documents.parquet"))
    want = {("foobar", 1), ("bazqux", 1), ("ab", 1), ("cd", 1),
            ("e", 1), ("f", 1), ("g", 1), ("h", 1)}
    for query in (word_count, word_count_rdd):
        got = {tuple(r) for r in query(spark, str(tmp_path)).collect()}
        assert got == want, query.__name__


@pytest.mark.parametrize("name", ["wordcount_canonical", "wordcount_fidelity"])
def test_vertical_tab_splits_in_query_and_oracle(spark, tmp_path, name):
    r"""\x0b is whitespace to Spark's (Java) ``\s`` but not to RE2's,
    so the DuckDB oracles split on ``[\s\v]+``: on a row holding
    \x0b the query and its oracle agree."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreducewordcounting_spark.registry import all_queries
    from tests.oracle_util import assert_matches_oracle

    path = str(tmp_path / "documents.parquet")
    pq.write_table(pa.table({"text": ["Foo\x0bbar baz", "a\x0b\x0bB c"]}),
                   path)
    spec = all_queries()[name]
    df = spec.fn(spark, str(tmp_path))
    assert "bar" in {r.word for r in df.collect()}
    with duckdb.connect() as duck:
        duck.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        assert_matches_oracle(df, duck, spec.oracle)


# --- property-based invariants (hypothesis) ------------------------------

# printable-ish corpus generator: words of letters/digits/punct
_token = st.text(
    alphabet=st.characters(min_codepoint=33, max_codepoint=126),
    min_size=1, max_size=12)
_corpus = st.lists(_token, min_size=0, max_size=30).map(" ".join)

_CANON_RE = re.compile(r"^[a-z']*$")


@settings(max_examples=25, deadline=None)
@given(_corpus)
def test_canonical_charset_and_idempotence(spark_hyp, text):
    """Every output token matches ^[a-z']*$; re-tokenizing the joined
    output is a fixpoint."""
    toks = _run(spark_hyp, text, tokenize_canonical)
    assert all(_CANON_RE.match(t) for t in toks)
    again = _run(spark_hyp, " ".join(t for t in toks if t), tokenize_canonical)
    # tokenizing "" yields [""] (split semantics); compare post-filter
    assert [t for t in again if t] == [t for t in toks if t]


@settings(max_examples=25, deadline=None)
@given(_corpus)
def test_counts_are_partition_invariant(spark_hyp, text):
    """Σ groupBy counts == token count, under 1 or 8 partitions
    (aggregation is partitioning-invariant — the property the
    reference's two-level shuffle had to get right by hand)."""
    rows = [Row(text=line) for line in text.split()] or [Row(text="")]
    for parts in (1, 8):
        df = spark_hyp.createDataFrame(rows).repartition(parts)
        words = (
            df.select(F.explode(tokenize_canonical("text")).alias("w"))
            .filter(F.length("w") > 0))
        total = words.count()
        summed = (words.groupBy("w").count()
                  .agg(F.sum("count")).collect()[0][0]) or 0
        assert summed == total


@pytest.fixture(scope="module")
def spark_hyp(spark):
    """Alias fixture so hypothesis doesn't see a function-scoped spark."""
    return spark
