"""Shared pure-Python corpus model for the mirrored-oracle brute-force
differentials (VERDICT r5 item 4).

The operators covered by tests/test_bruteforce_*.py have oracles that
MIRROR the Spark construction (generated from shared format strings,
or the same custom hash/band/grid algorithm written in both dialects),
so the DuckDB gate cannot catch a shared construction bug. These
helpers rebuild the documented SEMANTICS in plain Python — hashlib,
collections, math — with none of the SQL, none of the Spark expression
trees, and none of the shared strings. Everything here follows the
documented spec only:

  tokens  = lowercase, split on whitespace, strip [^a-z'], drop empty
            (functions/text.py docstring, SURVEY.md tokenizer contract)
  shingle = word n-gram joined by single spaces
"""

from __future__ import annotations

import math
import re
from collections import Counter, defaultdict

import pyarrow.parquet as pq

_WS = re.compile(r"[ \t\n\x0b\f\r]+")  # Java's \s, as tokenize_canonical
_NON_WORD = re.compile(r"[^a-z']")


def canon_tokens(text: str) -> list[str]:
    toks = (_NON_WORD.sub("", t) for t in _WS.split(text.lower()))
    return [t for t in toks if t]


def word_ngrams(toks: list[str], n: int) -> list[str]:
    return [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]


def distinct_ngrams(toks: list[str], n: int) -> list[str]:
    """Distinct n-grams in first-occurrence order."""
    return list(dict.fromkeys(word_ngrams(toks, n)))


def load_documents(sf_dir: str) -> list[dict]:
    return pq.read_table(f"{sf_dir}/documents.parquet").to_pylist()


def load_table_rows(sf_dir: str, table: str) -> list[dict]:
    return pq.read_table(f"{sf_dir}/{table}.parquet").to_pylist()


def doc_tokens(sf_dir: str) -> dict[int, list[str]]:
    return {d["doc_id"]: canon_tokens(d["text"])
            for d in load_documents(sf_dir)}


def rows_as_tuples(df, cols: list[str]) -> list[tuple]:
    """Collect a Spark DataFrame to sorted tuples of the given cols."""
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def counter_tokens(toks: list[str]) -> Counter:
    return Counter(toks)


def round6(x: float) -> float:
    """round(x, 6) with HALF-UP ties — Spark's F.round semantics.
    Python's built-in round() is banker's (half-to-even), which
    diverges on exact half-way values like 1/128 = 0.0078125."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.000001"),
                                           rounding=ROUND_HALF_UP))


def tfidf_pair_cosines(toks: dict[int, list[str]], df_cap: int,
                       cos_min: float) -> list[tuple[int, int, float]]:
    """Sparse tf-idf cosine over 3-shingle terms, from the definition:
    tf = shingle count in a doc, idf = ln((n_docs + 1) / (df + 1)) over
    the docs with at least one shingle, only terms with df <= df_cap
    weighted; sorted ``(id_a, id_b, cos)`` for id_a < id_b at rounded
    cosine >= cos_min."""
    tf = {d: Counter(word_ngrams(t, 3)) for d, t in toks.items()}
    tf = {d: c for d, c in tf.items() if c}
    df: Counter = Counter()
    for c in tf.values():
        df.update(c.keys())
    n_docs = len(tf)
    w = {d: {g: f * math.log((n_docs + 1.0) / (df[g] + 1.0))
             for g, f in c.items() if df[g] <= df_cap}
         for d, c in tf.items()}
    nrm = {d: math.sqrt(sum(x * x for x in ws.values()))
           for d, ws in w.items() if ws}
    inv: dict[str, list[int]] = defaultdict(list)
    for d, ws in w.items():
        for g in ws:
            inv[g].append(d)
    dots: dict[tuple[int, int], float] = defaultdict(float)
    for g, ds in inv.items():
        ds.sort()
        for i, a in enumerate(ds):
            for b in ds[i + 1:]:
                dots[(a, b)] += w[a][g] * w[b][g]
    return sorted(
        (a, b, round(dot / (nrm[a] * nrm[b]), 6))
        for (a, b), dot in dots.items()
        if round(dot / (nrm[a] * nrm[b]), 6) >= cos_min)
