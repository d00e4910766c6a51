"""One-command evidence regeneration (VERDICT r5 item 6):

    python tools/check.py [sf_dir]

runs, in order, the two tools that write the evidence artifacts, each
in a FRESH interpreter (the driver simulation wants a clean
SparkSession), then the staleness gate:

  1. tools/forensics.py     -> FORENSICS.json     (env + oracle digest)
  2. tools/verify_full.py   -> CORRECTNESS_local_full.json
                               (registry-wide driver simulation, sf0.01)
  3. tools/sync_check.py    (committed counts agree with the registry)

Exit code is non-zero if ANY stage regresses: a forensic probe
mismatches, any registry query fails its oracle, or a committed count
is stale. The plan invariants are checked on every executed plan by
tests/test_registry_oracle.py. `make check` (Makefile at the repo
root) runs this, then every test tier.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    stages = [
        ("forensics", [sys.executable, os.path.join(REPO, "tools", "forensics.py"), sf_dir]),
        ("verify_full", [sys.executable, os.path.join(REPO, "tools", "verify_full.py"), sf_dir]),
        # staleness gate LAST: it reads the artifacts the stages above
        # regenerate, plus BENCH_FULL / README / SURVEY / TESTDATA
        # (VERDICT r8 item 2)
        ("sync_check", [sys.executable, os.path.join(REPO, "tools", "sync_check.py")]),
    ]
    results = {}
    rc_total = 0
    for name, cmd in stages:
        t0 = time.time()
        print(f"== {name}: {' '.join(cmd[1:])}", flush=True)
        rc = subprocess.call(cmd, cwd=REPO)
        results[name] = {"rc": rc, "sec": round(time.time() - t0, 1)}
        print(f"== {name}: rc={rc} ({results[name]['sec']}s)", flush=True)
        rc_total |= rc
    # forensics exits 0 even on mismatch (it is a *measurement*);
    # gate on its recorded mismatches explicitly.
    try:
        with open(os.path.join(REPO, "FORENSICS.json")) as f:
            rep = json.load(f)
        bad = sorted(k for k, v in rep.get("queries", {}).items()
                     if v.get("mismatched") or v.get("error"))
        if bad:
            print(f"forensics mismatches/errors: {bad}", flush=True)
            rc_total |= 1
    except Exception as exc:  # missing/corrupt report is itself a failure
        print(f"forensics report unreadable: {exc!r}", flush=True)
        rc_total |= 1
    print(json.dumps({"check": results, "ok": rc_total == 0}), flush=True)
    return 1 if rc_total else 0


if __name__ == "__main__":
    raise SystemExit(main())
