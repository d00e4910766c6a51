"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, size)``: the same seed
gives the same tables. Both write a ``documents`` table with the
fixture schema of FIXTURES.md (``doc_id, text, lang, source,
n_chars``), so the registered queries and their DuckDB oracles run on
it unchanged. The table is a directory of part files, as a corpus on
disk is, so the scan splits into several tasks.

- :func:`wordcount_corpus`: Zipf-distributed words over a large
  synthetic vocabulary, with capitalised and punctuated surface forms
  so the canonical and fidelity tokenizers both do real work.
- :func:`neardup_corpus`: a set share of the documents are copies of
  earlier ones with 1-3 tokens replaced. Each original is copied at
  most once, so near-duplicate cliques stay at two documents.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ("en", "de", "fr", "es", "zh")
PARTS = 8


def _vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct lowercase words of 2-10 letters; one in fifty
    carries an apostrophe (``don't``-style), which both tokenizers keep."""
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        m = n - len(words) + 64
        lens = rng.integers(2, 11, size=m)
        letters = rng.integers(97, 123, size=(m, 10), dtype=np.uint8)
        apos = rng.random(m) < 0.02
        for row, k, a in zip(letters, lens, apos):
            w = row[:k].tobytes().decode()
            if a and k > 2:
                w = w[:-1] + "'" + w[-1]
            if w not in seen:
                seen.add(w)
                words.append(w)
    return words[:n]


def _zipf_tokens(rng: np.random.Generator, vocab: int, n: int,
                 exponent: float) -> np.ndarray:
    """``n`` word ids drawn from a Zipf-Mandelbrot law over ``vocab``."""
    p = 1.0 / (np.arange(vocab) + 2.7) ** exponent
    return rng.choice(vocab, size=n, p=p / p.sum())


def _write_documents(out_dir: str, rng: np.random.Generator,
                     texts: list[str]) -> None:
    n = len(texts)
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    path = os.path.join(out_dir, "documents.parquet")
    os.makedirs(path)
    step = -(-n // PARTS)
    for i in range(PARTS):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def wordcount_corpus(out_dir: str, seed: int, docs: int, vocab: int) -> dict:
    """``docs`` documents of 20-100 tokens. 80% of tokens are plain
    words, 10% Capitalised and 10% carry trailing punctuation; every
    form keeps a letter, so the canonical token count equals the
    number of tokens written."""
    rng = np.random.default_rng([seed, 1])
    words = _vocabulary(rng, vocab)
    forms = [f for w in words
             for f in (w, w[0].upper() + w[1:], w + ",", w + ".", w + ";")]
    lens = rng.integers(20, 101, size=docs)
    n_tok = int(lens.sum())
    word_ids = _zipf_tokens(rng, vocab, n_tok, exponent=1.0)
    form = rng.choice(5, size=n_tok, p=[0.8, 0.1, 0.04, 0.03, 0.03])
    ids = (word_ids * 5 + form).tolist()
    ends = np.cumsum(lens).tolist()
    texts = [" ".join(forms[i] for i in ids[e - k:e])
             for e, k in zip(ends, lens.tolist())]
    _write_documents(out_dir, rng, texts)
    return {"docs": docs, "tokens": n_tok,
            "distinct_words": int(np.unique(word_ids).size),
            "neardup_rate": 0.0, "tables": {"documents": docs}}


def neardup_corpus(out_dir: str, seed: int, docs: int, vocab: int,
                   dup_rate: float) -> dict:
    """``docs`` documents of 30-80 tokens; ``dup_rate`` of them copy a
    distinct earlier original with 1-3 token positions replaced."""
    rng = np.random.default_rng([seed, 2])
    words = _vocabulary(rng, vocab)
    n_dup = int(round(docs * dup_rate))
    n_orig = docs - n_dup
    lens = rng.integers(30, 81, size=n_orig)
    ids = _zipf_tokens(rng, vocab, int(lens.sum()), exponent=0.9)
    rows = np.split(ids, np.cumsum(lens)[:-1])
    for src in rng.choice(n_orig, size=n_dup, replace=False).tolist():
        copy = rows[src].copy()
        k = int(rng.integers(1, 4))
        copy[rng.choice(len(copy), size=k, replace=False)] = \
            rng.integers(0, vocab, size=k)
        rows.append(copy)
    # shuffle the originals among themselves and the copies among
    # themselves, so every copy keeps a larger doc_id than its original
    order = np.concatenate([rng.permutation(n_orig),
                            n_orig + rng.permutation(n_dup)])
    texts = [" ".join(words[i] for i in rows[j].tolist()) for j in order]
    _write_documents(out_dir, rng, texts)
    return {"docs": docs, "tokens": int(sum(len(r) for r in rows)),
            "distinct_words": int(np.unique(np.concatenate(rows)).size),
            "neardup_rate": n_dup / docs, "tables": {"documents": docs}}
