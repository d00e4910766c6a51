"""Family-peer outlier detection over the registry-wide sweep.

    python tools/bench_outliers.py [--check]

VERDICT r5 item 3's standing rule: every query has a recorded sf0.1
wall time (BENCH_FULL_sf01.json, from tools/bench_full.py), and any
row >2x the median of its family peers gets an explicit look (the
join_interval_overlap / stream_stream_join treatment). This tool
computes that comparison from the registry's own tags so the rule is
mechanical rather than eyeballed.

Family = first tag of each QuerySpec (the same grouping
test_priority_window_is_broad_and_oracled counts). Families with < 3
members have no meaningful peer median and are skipped. Iterative /
ML-fit queries (tagged 'iterative' or 'ml-fit' anywhere in tags) are
reported separately: multi-pass algorithms are not comparable to
single-pass peers and carry their own tier in BENCH_DETAIL.json.

--check exits non-zero when a NON-exempt outlier exists AND is not in
ACKNOWLEDGED below (each entry names the reason it is allowed to stay
slow; remove the entry when the query is fixed).

Accepted pins (round 9): the family-peer median keeps DROPPING as new
sub-second operators join a family, which mechanically re-flags
stable multi-stage queries that are at or below their own historical
times — outlier churn with no information. ``tools/bench_pins.json``
records the accepted sf0.1 time of every row that has had its
explicit look (the r5 rule's "look" made durable): a row only flags
if it ALSO exceeds 1.3x its accepted pin (a real own-history
regression), or has no pin yet (a new query, which gets the family
comparison until accepted). ``--accept-pins`` records the current
sweep as accepted — run it deliberately after reviewing the report,
never as part of a gate.

Stale-acknowledgement aging (VERDICT r8 item 8): an ACKNOWLEDGED entry
that is no longer an outlier is reported, and its staleness is
recorded in ``tools/ack_stale_state.json`` keyed by the digest of the
BENCH_FULL sweep that observed it — one digest per regenerated sweep,
so re-running the tool within a round cannot inflate the count. Once
an entry has been stale across >= 3 DISTINCT sweeps (~2+ rounds; a
round may legitimately sweep twice), --check fails: the ack list
stays tight instead of accreting dead debt.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

THRESHOLD = 2.0
#: sub-absolute-floor rows never flag: at sf0.1 a <1.5 s query is
#: dominated by fixed per-query overhead (job setup, codegen, the
#: single-sample sweep's variance), and "2x a 0.2 s filter" is not a
#: scale signal. The floor is for triage; the ratio is the rule.
ABS_FLOOR_SEC = 1.5

#: name -> reason this >2x-of-peers row is accepted (reviewed, not
#: ignored). Keep this list SHORT — every entry is a standing debt.
#: A reason that defers to host drift starts with HOST_DRIFT.
ACKNOWLEDGED: dict[str, str] = {
    # EMPTY from round 9 through round 12: tools/bench_pins.json took
    # over steady-state silencing (a reviewed row only re-flags when
    # it regresses >1.3x its accepted pin), which made every prior
    # structural ack permanently stale — the explanations live in git
    # history and BASELINE.md. New entries belong here only for a row
    # that exceeds BOTH thresholds and stays slow for a documented
    # reason.
    #
    # The r13 9-entry HOST-DRIFT block was RESOLVED in r14 against the
    # first clean-adjudicated sweep since r12 (controls 1.06x/1.08x):
    # every row was re-timed median-of-3 (provenance in BENCH_FULL's
    # "repinned" map). Seven landed at/under 1.3x their clean pins —
    # drift, as the acks claimed. One (similarity_ann_ivf) stayed 2x
    # over IN the clean window, which the r14 expiry rule correctly
    # refused to silence: it was a real r13 regression (the fail-fast
    # guard double-evaluating the argmax fold, fixed in r14 — see
    # OPTIMIZATION_r14.md §9; post-fix median 2.93 s vs 2.879 pin).
    # similarity_ann_recall_report received its first pin.
    # basket_pair_affinity's pin moved 1.676 -> 2.24 with recorded
    # provenance (the r14 multi-consumer checkpoint trades ~15% at
    # sf0.1 for 16-corpus-scans -> 0 at scale; OPTIMIZATION_r14.md
    # §5). The block is EMPTY again, as from r9 through r12.
}


PIN_SLACK = 1.3
#: reason prefix that marks an ACKNOWLEDGED entry as a host-drift
#: deferral (see ack_disposition); every other reason is structural
HOST_DRIFT = "HOST-DRIFT:"


def ack_disposition(ack: str | None, host_contended: bool | None) -> str:
    """How an ACKNOWLEDGED entry reads for a still-flagging row, pure
    so the regression test can drive it (ADVICE r13, mechanized as the
    expiry alternative): a host-drift acknowledgement is a deferral,
    not an explanation — it asserts the row will stop flagging once
    the host is clean. On a sweep whose own control adjudicated the
    host CLEAN (``host_contended is False``), a still-flagging
    host-drift ack is therefore the real regression it deferred:
    report it EXPIRED and fail ``--check``. On a contended (True) or
    unadjudicated (None) sweep the ack keeps silencing, because the
    drift it cites is still plausible. A host-drift ack is one whose
    reason starts with the ``HOST-DRIFT:`` prefix; any other reason is
    structural, whatever its prose says."""
    if ack is None:
        return "none"
    if ack.startswith(HOST_DRIFT) and host_contended is False:
        return "expired"
    return "acknowledged"


PINS_PATH = os.path.join(REPO, "tools", "bench_pins.json")
#: --accept-pins drift band: a pin may move this factor from its
#: predecessor only with median-of-3 provenance (see the r12 lesson
#: in the accept branch below).
ACCEPT_DRIFT = 1.25


def accept_pins(times: dict[str, float], pins: dict[str, float],
                repinned: set[str]) -> tuple[dict[str, float], list[str]]:
    """The --accept-pins drift guard (r12), pure so the regression
    test can drive it: a row whose single-sample time moved more than
    ACCEPT_DRIFT from its existing pin is accepted only when the
    sweep's median-of-3 provenance map (``repinned``) backs it;
    otherwise the old pin is held and the name returned for
    ``tools/measure.py repin``. New rows (no pin) are always accepted.

    A non-positive sweep time (ADVICE r12: a row rounded to 0.0)
    can never replace an existing pin — not even with median-of-3
    provenance — since a 0.0 pin would poison every later ratio
    (ZeroDivisionError here, meaningless drift bands downstream).
    Such a row is held/unprovenanced like any other suspect sample."""
    held: list[str] = []
    accepted: dict[str, float] = {}
    for name, t in times.items():
        old = pins.get(name)
        if old and old > 0 and (
                t <= 0 or (name not in repinned
                           and max(t / old, old / t) > ACCEPT_DRIFT)):
            accepted[name] = old
            held.append(name)
        else:
            accepted[name] = t
    return accepted, held


def main() -> int:
    check = "--check" in sys.argv
    with open(os.path.join(REPO, "BENCH_FULL_sf01.json")) as f:
        bench = json.load(f)
    times = bench["queries"]
    # Self-adjudicated host-contention flag (VERDICT r10 item 8): when
    # the sweep's control query ran > slack x its pin, every row is
    # drift-inflated — surface the signal so a flagged outlier in a
    # contended sweep is read as "re-run idle first", not regression.
    if bench.get("host_contended"):
        print(f"HOST CONTENDED sweep: control = {bench.get('control')} "
              f"— re-run on an idle box before treating any row below "
              f"as a regression")
    elif bench.get("host_contended") is None:
        # tri-state (ADVICE r11): null means the control could not be
        # adjudicated (no pin / no control timing) — say so explicitly
        # instead of letting the sweep read as affirmatively clean
        print(f"UNADJUDICATED sweep: control = {bench.get('control')} "
              f"— no control pin/timing was available, so rows below "
              f"carry no host-drift adjudication")
    try:
        with open(PINS_PATH) as f:
            pins: dict[str, float] = json.load(f)
    except FileNotFoundError:
        pins = {}
    if "--accept-pins" in sys.argv:
        # Single-sample drift guard (r12 lesson): the r12 sweep ran
        # under a CLEAN control (0.994x) yet its single samples still
        # inflated ~20 untouched rows 1.3-1.7x — and accepting them
        # wholesale baked the drift into the pins, moving the headline
        # pin-sum 50.6 -> 55.3 s with zero plan changes. A pin only
        # moves more than ACCEPT_DRIFT from its predecessor if the
        # row is backed by a recorded median-of-3 (the sweep's
        # "repinned" provenance map); otherwise the old pin is HELD
        # and the row is listed for `tools/measure.py repin`.
        accepted, held = accept_pins(
            times, pins, set(bench.get("repinned", {})))
        with open(PINS_PATH, "w") as f:
            json.dump(dict(sorted(accepted.items())), f, indent=1)
        print(f"accepted {len(accepted) - len(held)} pins into "
              f"{PINS_PATH}")
        if held:
            print(f"HELD {len(held)} single-sample rows that moved "
                  f"> {ACCEPT_DRIFT}x from their pins without "
                  f"median-of-3 provenance — re-pin them: "
                  "python tools/measure.py repin " + " ".join(sorted(held)))
        return 0

    from mapreducewordcounting_spark import registry
    specs = registry.all_queries()

    fams: dict[str, list[str]] = {}
    exempt: set[str] = set()
    for name, spec in specs.items():
        if name not in times:
            continue
        tags = tuple(spec.tags or ("untagged",))
        if any(t in ("iterative", "ml-fit", "ml") for t in tags):
            exempt.add(name)
        fams.setdefault(tags[0], []).append(name)

    rows = []
    for fam, names in sorted(fams.items()):
        if len(names) < 3:
            continue
        med = statistics.median(times[n] for n in names)
        if med <= 0:
            continue
        for n in names:
            ratio = times[n] / med
            if ratio <= THRESHOLD or times[n] < ABS_FLOOR_SEC:
                continue
            pin = pins.get(n)
            if pin is not None and times[n] <= PIN_SLACK * pin:
                continue  # at/below its accepted own-history pin
            rows.append((n, fam, times[n], med, ratio,
                         n in exempt, ACKNOWLEDGED.get(n)))

    unresolved = []
    for n, fam, t, med, ratio, is_exempt, ack in sorted(
            rows, key=lambda r: -r[4]):
        disp = ack_disposition(ack, bench.get("host_contended"))
        status = ("iterative/ml tier" if is_exempt
                  else "EXPIRED host-drift ack (sweep adjudicated the "
                       f"host clean, row still flags): {ack}"
                  if disp == "expired"
                  else f"acknowledged: {ack}" if disp == "acknowledged"
                  else "UNRESOLVED")
        print(f"{n}: {t:.2f}s vs family '{fam}' median {med:.2f}s "
              f"({ratio:.1f}x) — {status}")
        if not is_exempt and disp in ("none", "expired"):
            unresolved.append(n)

    stale = [n for n in ACKNOWLEDGED
             if n in times
             and all(n != r[0] for r in rows)]
    for n in stale:
        print(f"stale acknowledgement (no longer an outlier): {n}")

    # Age staleness across distinct BENCH_FULL sweeps; fail --check at
    # >= 2 (VERDICT r8 item 8).
    state_path = os.path.join(REPO, "tools", "ack_stale_state.json")
    # Sweep identity = the full sweep's own wall clock + size, which
    # bench_full.py sets once per regeneration and a repin
    # preserves — so a within-round repin does NOT count as a second
    # sweep, but each round's fresh sweep does.
    digest = hashlib.sha256(
        f"{bench.get('wall_sec')}|{bench.get('n_queries')}|"
        f"{bench.get('sf')}".encode()).hexdigest()[:16]
    try:
        with open(state_path) as f:
            state: dict[str, list[str]] = json.load(f)
    except FileNotFoundError:
        state = {}
    state = {n: v for n, v in state.items() if n in stale}
    overdue = []
    for n in stale:
        seen = state.setdefault(n, [])
        if digest not in seen:
            seen.append(digest)
        # 3 distinct sweeps ≈ 2+ rounds: a single round may
        # legitimately regenerate the sweep twice (e.g. once at open,
        # once after new operators land), and one round's noise should
        # not force an ack removal by itself.
        if len(seen) >= 3:
            overdue.append(n)
            print(f"OVERDUE acknowledgement ({len(seen)} sweeps stale) "
                  f"— remove from ACKNOWLEDGED: {n}")
    with open(state_path, "w") as f:
        json.dump(state, f, indent=1, sort_keys=True)

    if not rows:
        print("no family-peer outliers")
    return 1 if (check and (unresolved or overdue)) else 0


if __name__ == "__main__":
    raise SystemExit(main())
