"""Tokenization column expressions — the reference's O3–O6 pipeline.

The reference tokenizes with ``inFile >> word`` (whitespace split,
sendFileByFile.cpp:82-88), normalizes by truncating each token at the
first char outside ``A-Z a-z [ \\ ] ^ _ ` '`` (sendFileByFile.cpp:89-91,
an accidental erase-to-end), lowercases (:93), and drops empties (:92).

Two modes (SURVEY.md §7.0):

- **canonical** (default, oracle-checked): lower + strip every char
  outside ``[a-z']`` — clean semantics, expressible identically in
  DuckDB for the differential oracle.
- **fidelity** (golden-tested only): truncate at the first disallowed
  char, reproducing the reference's observed behavior
  (``foo-bar → foo``, ``a1b2c3 → a``) minus its ``char word[30]``
  buffer overflow (sendFileByFile.h:6, not reproduced).

Both are pure built-in column expressions — no Python UDF; they stay
inside whole-stage codegen at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# The reference's allowed set is ASCII 65..122 plus apostrophe
# (sendFileByFile.cpp:90) = A-Z, [ \ ] ^ _ `, a-z, '.
_FIDELITY_CLASS = r"A-Za-z'\[\\\]\^_`"


def tokenize_canonical(text: str | Column) -> Column:
    """text → array<string> of cleaned lowercase words (empties kept;
    filter downstream so the expression stays composable)."""
    toks = F.split(F.lower(text), r"\s+")
    return F.transform(toks, lambda t: F.regexp_replace(t, "[^a-z']", ""))


def tokenize_fidelity(text: str | Column) -> Column:
    """text → array<string>, reference-faithful truncation semantics:
    each whitespace token is cut at its first char outside the
    reference's allowed set, then lowercased (the reference lowercases
    *after* truncation — sendFileByFile.cpp:89-93)."""
    toks = F.split(F.col(text) if isinstance(text, str) else text, r"\s+")
    return F.transform(
        toks,
        lambda t: F.lower(F.regexp_extract(t, f"^[{_FIDELITY_CLASS}]*", 0)),
    )


def words_canonical(text: str | Column) -> Column:
    """Convenience: explode-ready canonical tokens (still an array)."""
    return F.filter(tokenize_canonical(text), lambda w: F.length(w) > 0)


def doc_marker(doc_id: str, has_terms: Column) -> Column:
    """``array<string>`` of one marker term for ``doc_id`` when
    ``has_terms``, else empty: concatenated onto a document's term array
    before the explode, it gives tf one marker row per distinct doc_id,
    so the document count is ``count_if(is_doc_marker(word))`` above the
    term exchange instead of a distinct over a doc_id exchange. Markers
    start with ``#``, which no canonical token (``[a-z']+``, n-grams
    joined by single spaces) contains, and are keyed by the document so
    they spread across the term partitions. A NULL doc_id gives a NULL
    term, which no marker test counts, as ``count(DISTINCT)`` skips it."""
    marker = F.concat(F.lit("#"), F.col(doc_id).cast("string"))
    return F.when(has_terms, F.array(marker)).otherwise(
        F.array().cast("array<string>"))


def is_doc_marker(word: str) -> Column:
    """True for the terms :func:`doc_marker` emits."""
    return F.col(word).startswith("#")
