"""Invariants for the training-data pipeline operators beyond the
registry oracle (which covers chunk_documents / pii_redact /
contamination_5gram / sample_stratified_hash / pack_sequences_offset
differentially): chunk reassembly, greedy-pack budget respect, and
sampler determinism.
"""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from mapreducewordcounting_spark.catalog import load_table
from mapreducewordcounting_spark.operators.training_ops import (
    _POIS_THRESHOLDS,
    CHUNK_LEN,
    CHUNK_STRIDE,
    PACK_BUDGET,
    _double_lit,
    chunk_documents,
    pack_sequences_greedy,
    pack_sequences_offset,
    sample_stratified_hash,
)
from mapreducewordcounting_spark.registry import all_queries
from tests.oracle_util import assert_matches_oracle, derived_fixture


def test_chunks_reassemble_to_original(spark, sf_dir):
    """Concatenating each doc's chunks with the overlap removed must
    reproduce the original text exactly (no bytes lost at cut points)."""
    docs = {r["doc_id"]: r["text"]
            for r in load_table(spark, sf_dir, "documents").collect()}
    chunks = chunk_documents(spark, sf_dir).collect()
    by_doc: dict[int, list] = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(docs)
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r["chunk_start"])
        rebuilt = rows[0]["chunk_text"]
        for r in rows[1:]:
            # drop the part of this chunk already covered by the
            # rebuilt prefix (the overlap), then append the rest
            rebuilt += r["chunk_text"][len(rebuilt) - r["chunk_start"]:]
        assert rebuilt == docs[doc_id], doc_id
        # every chunk respects the geometry
        assert all(len(r["chunk_text"]) <= CHUNK_LEN for r in rows)
        assert all(r["chunk_start"] % CHUNK_STRIDE == 0 for r in rows)


def test_greedy_pack_respects_budget(spark, sf_dir):
    """No pack exceeds the budget unless it is a single oversized doc,
    packs are consecutive per lang, and greedy never beats the offset
    variant's density (offset binning lets docs straddle boundaries,
    so its pack count is the lower bound)."""
    out = pack_sequences_greedy(spark, sf_dir).collect()
    per_pack: dict[tuple, list[int]] = {}
    for r in out:
        per_pack.setdefault((r["lang"], r["pack_id"]), []).append(r["n_tokens"])
    for (lang, pid), toks in per_pack.items():
        assert sum(toks) <= PACK_BUDGET or len(toks) == 1, (lang, pid)
    for lang in {r["lang"] for r in out}:
        pids = sorted({pid for (l, pid) in per_pack if l == lang})
        assert pids == list(range(len(pids))), lang
    off = pack_sequences_offset(spark, sf_dir).collect()
    n_off = len({(r["lang"], r["pack_id"]) for r in off})
    assert n_off <= len(per_pack)


def test_stratified_sample_deterministic_and_rated(spark, sf_dir):
    """Same rows on a rerun (hash, not RNG), and the en keep-rate is
    roughly its configured 80% (md5 buckets are uniform)."""
    a = {r["doc_id"] for r in sample_stratified_hash(spark, sf_dir).collect()}
    b = {r["doc_id"] for r in sample_stratified_hash(spark, sf_dir).collect()}
    assert a == b and a
    docs = load_table(spark, sf_dir, "documents")
    n_en = docs.filter(F.col("lang") == "en").count()
    kept_en = (sample_stratified_hash(spark, sf_dir)
               .filter(F.col("lang") == "en").count())
    assert 0.6 * n_en <= kept_en / 0.8 <= 1.4 * n_en


def test_cogroup_asof_count_equals_collect(spark, sf_dir):
    """Regression: under a count()-only plan, Catalyst prunes the
    cogroup's input columns down to the grouping key (it knows only the
    UDF's cardinality is consumed), so the pandas function receives
    key-only frames. The UDF must tolerate that — cardinality here is
    len(left) by construction — and both plans must agree."""
    from mapreducewordcounting_spark.operators.udfs import cogroup_asof_pandas

    n_count = cogroup_asof_pandas(spark, sf_dir).count()
    n_collect = len(cogroup_asof_pandas(spark, sf_dir).collect())
    assert n_count == n_collect > 0


def test_poisson_thresholds_bit_equal_across_engines(spark):
    """Every inverse-CDF threshold of ``sample_poisson_det`` parses to
    the bit-identical double in Spark, DuckDB and Python. A literal
    such as ``1.0/6`` is DECIMAL in Spark and DOUBLE in DuckDB, which
    moves a threshold by about 2.5e-7."""
    exprs = ", ".join(f"{_double_lit(t)} AS t{k}"
                      for k, t in enumerate(_POIS_THRESHOLDS))
    srow = spark.sql(f"SELECT {exprs}").collect()[0]
    drow = duckdb.sql(f"SELECT {exprs}").fetchone()
    for k, t in enumerate(_POIS_THRESHOLDS):
        assert isinstance(srow[k], float), f"t{k} not DOUBLE in Spark"
        assert srow[k].hex() == t.hex() == drow[k].hex(), (
            k, srow[k].hex(), t.hex(), drow[k].hex())


def test_constant_stratum_neyman_matches_oracle(spark, sf_dir,
                                                tmp_path):
    """A documents source whose ``n_chars`` is constant: its variance
    cancels to about 0, possibly a tiny negative double, where Spark's
    sqrt gives NaN and DuckDB's raises. ``sample_stratified_neyman``
    clamps the variance at 0 on both engines, so it still matches."""
    con = derived_fixture(str(tmp_path), sf_dir, "documents", """
        SELECT * REPLACE (
          CASE WHEN source = (SELECT min(source) FROM {src})
               THEN 4097 ELSE n_chars END AS n_chars)
        FROM {src}""")
    try:
        assert con.sql("""
            SELECT count(DISTINCT n_chars) FROM documents
            WHERE source = (SELECT min(source) FROM documents)
            """).fetchone()[0] == 1
        spec = all_queries()["sample_stratified_neyman"]
        assert_matches_oracle(spec.fn(spark, str(tmp_path)), con,
                              spec.oracle)
    finally:
        con.close()


#: (doc_id, text, lang): two langs plus a NULL-lang group, with token
#: counts that make the greedy fold roll at least one pack over
_NULL_LANG_DOCS = [
    (0, "alpha beta gamma delta", "en"),
    (1, "one two three", "en"),
    (2, "uno dos", "fr"),
    (3, "tres cuatro cinco seis", "fr"),
    (4, "null lang doc one", None),
    (5, "null lang doc two here", None),
]


def test_pack_oracle_keeps_null_lang_docs():
    """``pack_sequences_greedy``'s oracle keeps NULL-lang documents as
    their own group, as the Spark side's ``groupBy('lang')`` does: over
    a documents table with NULL langs, every doc comes back with the
    pack id of an independent Python greedy fold (per lang, doc_id
    order, a new pack when the next doc would overflow the budget)."""
    expect = {}
    by_lang: dict = {}
    for doc_id, text, lang in _NULL_LANG_DOCS:
        # canonical tokens == whitespace words for these fixtures
        by_lang.setdefault(lang, []).append((doc_id, len(text.split())))
    for lang, docs in by_lang.items():
        pid, used = 0, 0
        for doc_id, t in sorted(docs):
            if used > 0 and used + t > PACK_BUDGET:
                pid, used = pid + 1, 0
            expect[doc_id] = (lang, t, pid)
            used += t
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents (doc_id BIGINT, text VARCHAR, "
        "lang VARCHAR, source VARCHAR, n_chars BIGINT)")
    for doc_id, text, lang in _NULL_LANG_DOCS:
        con.execute("INSERT INTO documents VALUES (?, ?, ?, ?, ?)",
                    [doc_id, text, lang, "s", len(text)])
    got = con.execute(all_queries()["pack_sequences_greedy"].oracle
                      ).fetchall()
    assert {doc_id: (lang, n_tokens, pack_id)
            for doc_id, lang, n_tokens, pack_id in got} == expect, got
    assert len(got) == len(_NULL_LANG_DOCS)
