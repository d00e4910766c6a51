"""The flagship query: distributed word count (reference O1–O13).

The reference's entire program is this one query — scan a corpus,
tokenize, normalize, count by word, emit sorted (word, count) pairs
(sendFileByFile.cpp:69-392, SURVEY.md §2.1). Here it is one declarative
expression; Catalyst inserts exactly one exchange between partial and
final hash aggregation, replacing the reference's hand-built two-level
shuffle (byte-sum mod numP at :259-264, then the skewed ``hv*3*c*11``
mod 4 at :314-319) with a single Murmur3 hash partitioning.

Scale posture: tokenize/normalize are codegen'd string expressions; the
aggregation is partial/final HashAggregate with spill (the reference's
``std::map`` state is unbounded — :150, :353); no driver-side state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from mapreducewordcounting_spark.catalog import load_table
from mapreducewordcounting_spark.functions.text import (
    tokenize_canonical,
    tokenize_fidelity,
)
from mapreducewordcounting_spark.registry import register

WORD_COUNT_SCHEMA = StructType([
    StructField("word", StringType(), False),
    StructField("cnt", LongType(), False),
])

_ORACLE_WORDCOUNT = """
WITH toks AS (
    SELECT regexp_replace(
               unnest(regexp_split_to_array(lower(text), '[\\s\\v]+')),
               '[^a-z'']', '', 'g') AS word
    FROM documents
)
SELECT word, count(*) AS cnt
FROM toks
WHERE length(word) > 0
GROUP BY word
"""


@register(
    "wordcount_canonical",
    oracle=_ORACLE_WORDCOUNT,
    tags=("flagship", "text"),
    doc="Flagship word count, canonical tokenizer (reference O1-O13).",
)
def word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scan → tokenize → normalize → filter → groupBy(word).count()."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokenize_canonical("text")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


@register(
    "wordcount_rdd",
    oracle=_ORACLE_WORDCOUNT,
    tags=("flagship", "text", "rdd"),
    doc="Same query as RDD map/reduceByKey (BASELINE.json spark_approach), "
        "converted back to a DataFrame for checking.",
)
def word_count_rdd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDD rendition: map → reduceByKey, the canonical Spark MapReduce.

    reduceByKey performs map-side combining — the exact analog of the
    reference's per-file partial aggregation (sendFileByFile.cpp:150-200)
    before its MPI exchange (:256-268).
    """
    import re

    docs = load_table(spark, sf_dir, "documents").select("text")
    strip = re.compile(r"[^a-z']")
    # Java's \s, as in tokenize_canonical's split: str.split() would
    # also split on NBSP, U+2003, U+0085 and \x1c-\x1f.
    space = re.compile(r"[ \t\n\x0b\f\r]+")

    def tokens(row):
        if row.text is None:  # NULL text: match split(NULL) semantics
            return
        for tok in space.split(row.text.lower()):
            w = strip.sub("", tok)
            if w:
                yield w

    counts = (
        docs.rdd.flatMap(tokens)
        .map(lambda w: (w, 1))
        .reduceByKey(lambda a, b: a + b)
        .map(lambda kv: (kv[0], kv[1]))
    )
    return spark.createDataFrame(counts, WORD_COUNT_SCHEMA)


@register(
    "wordcount_fidelity",
    oracle=r"""
WITH toks AS (
    SELECT lower(regexp_extract(
               unnest(regexp_split_to_array(text, '[\s\v]+')),
               '^[A-Za-z''\[\\\]\^_`]*')) AS word
    FROM documents
)
SELECT word, count(*) AS cnt
FROM toks
WHERE length(word) > 0
GROUP BY word
""",  # the same truncation regex expressed in DuckDB — verified to
    # reproduce the reference's erase-to-end semantics on the golden
    # corpus (tests/test_tokenizer.py pins both engines' behavior).
    tags=("flagship", "text", "fidelity"),
    doc="Word count with reference-faithful truncation tokenizer "
        "(sendFileByFile.cpp:89-91 semantics).",
)
def word_count_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokenize_fidelity("text")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """entry() target: full reference pipeline including the O12 sort."""
    return word_count(spark, sf_dir).orderBy("word")
