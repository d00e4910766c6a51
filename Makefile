# Evidence + gates (VERDICT r5 item 6). `make check` reproduces the
# registry-wide driver simulation (CORRECTNESS_local_full.json), runs
# the staleness gate and every test tier, and fails non-zero on any
# regression; `make test` / `make bench` are the other two gates.

SF_DIR ?= /root/testdata/sf0.01
SEED ?= 1

.PHONY: check test test-deep bench perfbench sync-check

check:
	python tools/verify_full.py $(SF_DIR)
	python tools/sync_check.py
	python -m pytest tests/ -q -m ""

# Artifact-staleness gate (VERDICT r8 item 2): committed counts must
# agree with the live registry. Also the second stage of `make check`.
sync-check:
	python tools/sync_check.py

# Default tier (pytest.ini deselects the `deep` hardening tier so
# the driver's budget-bound run completes; VERDICT r13 item 2).
test:
	python -m pytest tests/ -q

# Every tier, including the hypothesis/adversarial/bruteforce/
# invariance differentials (~26 min clean host, 55 min degraded).
test-deep:
	python -m pytest tests/ -q -m ""

bench:
	python bench.py

# The repository benchmark (BENCHMARK.json): one untraced run of each
# workload, printing the gated setup_s, jobs and shuffle_mb.
perfbench:
	python3 perfbench/run.py --workload wordcount_corpus --seed $(SEED) --seconds 8 --trace 0
	python3 perfbench/run.py --workload neardup_corpus --seed $(SEED) --seconds 8 --trace 0
