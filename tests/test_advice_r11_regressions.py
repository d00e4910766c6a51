"""Regression gate for the four ADVICE r11 findings.

1. ``registry.py`` window-layout comment drift — prose, reconciled in
   place (the r12 rotation rewrote the layout narrative); no runtime
   behavior to gate.
2. ``text_analysis.py`` / ``test_plans.py`` BPE job accounting — the
   two comments now state ONE accounting (12 logical materializations
   == <= 22 statusTracker jobs under AQE); the committed assertion is
   unchanged (``test_plans.py::test_bpe_loop_job_count``).
3. ``pack_sequences_greedy`` oracle joined assignments back on
   ``a.lang = n.lang``, silently dropping NULL-lang documents that
   the Spark side's ``groupBy('lang')`` keeps as a NULL group. The
   fixtures carry zero NULL langs, so the driver differential could
   never see it — the test below rebuilds the pathological input
   (a documents table WITH a NULL-lang row) and runs the committed
   oracle SQL against an independent Python greedy fold.
4. ``bench.control_adjudication`` failed OPEN on a missing control
   timing; it is tri-state now: ``host_contended`` is null and
   ``control.status='unadjudicated'`` when it cannot adjudicate.
"""

from __future__ import annotations

import duckdb

import bench
from mapreducewordcounting_spark.registry import all_queries

# ---------------------------------------------------------------- #
# finding 3: NULL-lang documents must survive the pack oracle        #
# ---------------------------------------------------------------- #

_NULL_LANG_DOCS = [
    # (doc_id, text, lang) — two langs plus a NULL-lang group; token
    # counts chosen so the greedy fold rolls at least one pack over
    (0, "alpha beta gamma delta", "en"),
    (1, "one two three", "en"),
    (2, "uno dos", "fr"),
    (3, "tres cuatro cinco seis", "fr"),
    (4, "null lang doc one", None),
    (5, "null lang doc two here", None),
]


def _python_greedy_pack(rows, budget):
    """Independent greedy fold: per lang (NULL is a group), doc_id
    order, new pack when adding the next doc would overflow."""
    out = {}
    by_lang: dict = {}
    for doc_id, toks, lang in rows:
        by_lang.setdefault(lang, []).append((doc_id, toks))
    for lang, docs in by_lang.items():
        pid, used = 0, 0
        for doc_id, t in sorted(docs):
            if used > 0 and used + t > budget:
                pid, used = pid + 1, 0
            out[doc_id] = (lang, t, pid)
            used += t
    return out


def test_pack_oracle_keeps_null_lang_docs(tmp_path):
    """ADVICE r11 item 3: run the COMMITTED pack_sequences_greedy
    oracle SQL over a documents table containing NULL-lang rows; every
    doc (including the NULL-lang ones) must appear, with pack ids
    matching an independent Python fold."""
    from mapreducewordcounting_spark.operators.training_ops import (
        PACK_BUDGET,
    )

    spec = all_queries()["pack_sequences_greedy"]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents (doc_id BIGINT, text VARCHAR, "
        "lang VARCHAR, source VARCHAR, n_chars BIGINT)")
    for doc_id, text, lang in _NULL_LANG_DOCS:
        con.execute("INSERT INTO documents VALUES (?, ?, ?, ?, ?)",
                    [doc_id, text, lang, "s", len(text)])
    got = con.execute(spec.oracle).fetchall()
    # token counts under the canonical tokenizer == whitespace words
    # here (all-lowercase ascii fixtures)
    expect = _python_greedy_pack(
        [(d, len(t.split()), lang) for d, t, lang in _NULL_LANG_DOCS],
        PACK_BUDGET)
    assert len(got) == len(_NULL_LANG_DOCS), (
        f"oracle dropped rows: {got}")
    for doc_id, lang, n_tokens, pack_id in got:
        e_lang, e_tokens, e_pid = expect[doc_id]
        assert (lang, n_tokens, pack_id) == (e_lang, e_tokens, e_pid), (
            f"doc {doc_id}: oracle ({lang}, {n_tokens}, {pack_id}) "
            f"!= python ({e_lang}, {e_tokens}, {e_pid})")
    # the pathological rows specifically
    null_rows = [r for r in got if r[1] is None]
    assert len(null_rows) == 2, f"NULL-lang rows dropped: {got}"


# ---------------------------------------------------------------- #
# finding 4: control adjudication must fail CLOSED                  #
# ---------------------------------------------------------------- #

def test_control_adjudication_adjudicated_cases():
    pin = bench.CONTROL_PINS[bench.CONTROL_QUERY]
    hot = bench.control_adjudication({bench.CONTROL_QUERY: pin * 2.0})
    assert hot["host_contended"] is True
    assert hot["control"]["status"] == "adjudicated"
    assert hot["drift_kind"] == "unclassified"
    cool = bench.control_adjudication({bench.CONTROL_QUERY: pin * 1.0})
    assert cool["host_contended"] is False
    assert cool["control"]["status"] == "adjudicated"


def test_control_adjudication_missing_timing_is_unadjudicated():
    out = bench.control_adjudication({})
    assert out["host_contended"] is None
    assert out["control"]["status"] == "unadjudicated"
