"""Regression gate for the three ADVICE r10 findings.

1. ``tools/rotate_window.py`` — the round-boundary auto-excuse was
   vacuous when only ONE CORRECTNESS_r*.json artifact exists:
   ``skip_newest`` left an empty history whose audit is trivially
   clean, so ANY wasted window was excused and ``--check`` passed.
   Fixed by requiring >= 2 artifacts before granting the excuse.
   The tests below stage fabricated artifact sets in a tmp dir (via
   the ``ROTATE_WINDOW_ARTIFACT_DIR`` override) and pin both sides:
   single-artifact waste now FAILS the check; the legitimate
   two-artifact boundary state still PASSES.
2. ``registry._PRIORITY`` permutation guard — covered by the
   strengthened assertion in ``test_survey_coverage.py``
   (``test_priority_window_is_broad_and_oracled``): a duplicate
   entry would silently drop another query to the registry tail and
   shift the driver's sampled window.
3. ``dq_ks_two_sample`` dead ``asc_nulls_last`` — dropped (the
   symmetric isNotNull upstream guarantees no NULL reaches the
   window); behavioral coverage lives in
   ``test_advice_r9_regressions.py::test_null_event_values_still_match_oracle``
   which rebuilds the NULL-value input and re-runs the oracle
   differential.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from mapreducewordcounting_spark.registry import all_queries

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_TOOL = os.path.join(_REPO, "tools", "rotate_window.py")

_FULL_PASS = {"rows_match": True, "schema_match": True,
              "hash_match": True, "spark_rows": 1, "oracle_rows": 1,
              "err": None}
_CANARY = ("probe_env_duckdb_version", "probe_type_hugeint_sum_uncast")


def _run_check(artifact_dir: str) -> int:
    env = dict(os.environ, ROTATE_WINDOW_ARTIFACT_DIR=artifact_dir)
    return subprocess.run(
        [sys.executable, _TOOL, "--check"],
        env=env, capture_output=True, text=True, cwd=_REPO,
    ).returncode


def _wasteful_artifact() -> dict[str, dict]:
    """An artifact that makes the CURRENT window head wasteful: it
    marks one non-canary head slot already-full-pass while leaving
    every other oracled query never-sampled (so never-sampled oracled
    queries sit displaced outside the head)."""
    window_head = [n for n in list(all_queries())[:48] if n not in _CANARY]
    return {window_head[0]: dict(_FULL_PASS)}


def test_single_artifact_waste_is_not_excused(tmp_path):
    """ADVICE r10: with exactly one artifact on disk, a wasted window
    slot must FAIL --check (the old code auto-excused it because the
    pre-round history was empty and therefore vacuously clean)."""
    art = _wasteful_artifact()
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(art))
    assert _run_check(str(tmp_path)) == 1


def test_two_artifact_round_boundary_still_excused(tmp_path):
    """The legitimate boundary state keeps passing: the committed
    window was clean against every artifact that existed when it was
    planned (older artifact shows the head slot NOT yet full-pass),
    and only the NEWEST artifact harvested it."""
    older = {n: {**_FULL_PASS, "hash_match": False}
             for n in _wasteful_artifact()}
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(older))
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps(_wasteful_artifact()))
    assert _run_check(str(tmp_path)) == 0


def test_two_artifact_preexisting_waste_still_fails(tmp_path):
    """The excuse is for the boundary ONLY: when the waste already
    existed before the newest artifact (older artifact also shows the
    head slot full-pass), --check must still fail."""
    art = _wasteful_artifact()
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(art))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps(art))
    assert _run_check(str(tmp_path)) == 1


def test_bench_control_adjudication_thresholds():
    """VERDICT r10 item 8: the bench artifact self-adjudicates host
    drift — control > 1.5x pin tags the run host_contended, at/below
    stays clean, and a missing control timing never raises."""
    import bench

    pin = bench.CONTROL_PINS[bench.CONTROL_QUERY]
    hot = bench.control_adjudication(
        {bench.CONTROL_QUERY: pin * 2.0})
    assert hot["host_contended"] is True
    assert hot["control"]["ratio"] == 2.0
    cool = bench.control_adjudication(
        {bench.CONTROL_QUERY: pin * 1.4})
    assert cool["host_contended"] is False
    # ADVICE r11 tightened the missing-control case from False to the
    # tri-state null — test_advice_r11_regressions covers it in full
    absent = bench.control_adjudication({})
    assert absent["host_contended"] is None
    assert absent["control"]["ratio"] is None
