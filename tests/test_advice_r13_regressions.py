"""Regression gates for the ADVICE r13 findings (mechanized in r14).

Finding 1 (tools/bench_outliers.py): the 9-entry r13 host-drift
ACKNOWLEDGED block silences rows citing host drift, but the 2-job
controls are structurally insensitive to per-job-scheduling drift —
so the advice ordered an explicit expiry: on a sweep whose own
control adjudicated the host CLEAN, a still-flagging host-drift ack
must convert to the real regression it deferred instead of silencing
the row. ``ack_disposition`` is that rule, pure; these tests pin it.

Findings 2-3 (tools/bench_scale.py warmup dir + per-tier ratios):
the warmup dir is tools/measure.py's, pinned in tests/test_measure.py;
the ratios are ``decade_ratios``, pinned here.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.bench_outliers import ack_disposition  # noqa: E402
from tools.bench_scale import decade_ratios  # noqa: E402

HOST_DRIFT_ACK = "HOST-DRIFT: r13 block (see above)"
STRUCTURAL_ACK = "footer-stats full listing is the feature"
#: structural reason whose prose mentions host drift
STRUCTURAL_NOT_DRIFT_ACK = ("plan-inherent: the second scan is the "
                            "feature, not host-drift")


def test_host_drift_ack_expires_on_clean_sweep():
    # clean-adjudicated sweep + still-flagging host-drift ack = the
    # deferred regression: must read EXPIRED (fails --check)
    assert ack_disposition(HOST_DRIFT_ACK, False) == "expired"


def test_host_drift_ack_holds_on_contended_or_unadjudicated_sweep():
    # the drift the ack cites is still plausible: keep silencing
    assert ack_disposition(HOST_DRIFT_ACK, True) == "acknowledged"
    assert ack_disposition(HOST_DRIFT_ACK, None) == "acknowledged"


def test_structural_ack_never_expires():
    # only host-drift acks carry the "clean sweep un-flags me" claim;
    # the HOST-DRIFT: prefix marks them, not a word in the prose
    for ack in (STRUCTURAL_ACK, STRUCTURAL_NOT_DRIFT_ACK):
        for contended in (False, True, None):
            assert ack_disposition(ack, contended) == "acknowledged"


def test_no_ack_is_unresolved():
    for contended in (False, True, None):
        assert ack_disposition(None, contended) == "none"


def test_decade_ratio_reported_without_sf01():
    results = {"/x/scale_scratch/sf1": {"q": 2.0},
               "/x/scale_scratch/sf10": {"q": 7.0}}
    assert decade_ratios(["q"], results) == {
        "q": {"sf1": 2.0, "sf10": 7.0, "ratio_sf10_vs_sf1": 3.5}}


def test_decade_ratios_per_adjacent_tier_pair():
    results = {"/t/sf0.1": {"q": 1.0, "r": 1.0},
               "/x/sf1": {"q": 3.0},
               "/x/sf10": {"q": 6.0, "r": 5.0}}
    ratios = decade_ratios(["q", "r"], results)
    assert ratios["q"]["ratio_sf1"] == 3.0
    assert ratios["q"]["ratio_sf10_vs_sf1"] == 2.0
    # r has no sf1 sample: neither ratio spans the missing tier
    assert ratios["r"] == {"sf0.1": 1.0, "sf1": None, "sf10": 5.0}
