# Engine CI lanes. The unit lane runs at sf0.001 (fast differential
# coverage); the driver grades at sf0.01, so run `make test-driver-scale`
# before any handoff to catch sf-dependent drift (e.g. guards that only
# trigger on larger fixtures) at the graded scale. `make verify` is the
# independent driver simulation (the real correctness gate), `make bench`
# the perf surface vs BASELINE.md.
#
# Test lanes (r14, r13 verdict #2): the default `make test` is the FAST
# GATE (deep-marked suites deselected by tests/conftest.py — r15: an
# explicitly named node id always runs, unlike the old addopts form);
# `make test-deep` runs the exhaustive randomized interleaving/fuzz
# suites. `make record` runs BOTH at driver scale and logs both times —
# no coverage lost, the union of the lanes is the old 35-minute suite.

PY ?= python

.PHONY: test test-deep test-driver-scale verify verify-sf01 bench perfbench perfbench-selfcheck verify-sf1-probe all record archive-evidence

# Evidence retention (r13): move rounds older than the newest two into
# evidence/archive/ (one-line index regenerated there). `make record`
# runs it LAST — after the round's artifacts exist — so the root ends a
# record holding exactly the newest two rounds.
archive-evidence:
	$(PY) tools/archive_evidence.py

test:
	$(PY) -m pytest tests/ -q

test-deep:
	$(PY) -m pytest tests/ -q -m deep

test-driver-scale:
	TES_TEST_SF_DIR=/root/testdata/sf0.01 $(PY) -m pytest tests/ -q

verify:
	$(PY) .claude/skills/verify/driver_sim.py

verify-sf01:
	TES_VERIFY_SF_DIR=/root/testdata/sf0.1 $(PY) .claude/skills/verify/driver_sim.py

bench:
	$(PY) bench.py

# The repository benchmark (BENCHMARK.json, perfbench/README.md): one
# untraced run per workload, each printing its record and contract line.
PERFBENCH_SEED ?= 1
PERFBENCH_SECONDS ?= 10

perfbench:
	$(PY) perfbench/run.py --workload analytics_sf01 --seed $(PERFBENCH_SEED) --seconds $(PERFBENCH_SECONDS) --trace 0
	$(PY) perfbench/run.py --workload bridge_stream --seed $(PERFBENCH_SEED) --seconds $(PERFBENCH_SECONDS) --trace 0

# The benchmark's own self-check, about 5 minutes.
perfbench-selfcheck:
	$(PY) perfbench/selfcheck.py

# 10x scale-probe lane (r5 verdict #3): synthesizes a ~sf1 fixture in tmp
# from sf0.1 and asserts ~linear scaling + clean plans on the most
# expensive query shapes. ~5-10 min; not part of `all` (run per-round via
# `make record`).
verify-sf1-probe:
	$(PY) tools/scale_probe.py

all: test test-driver-scale verify verify-sf01 bench

# One-shot per-round evidence recording: make record ROUND=06
# Writes the five committed artifacts (unit-scale pytest log stays in /tmp;
# driver-scale pytest + sweeps at all THREE fixture scales) at the current
# sha. Run AFTER the last code commit of the round so the artifacts
# describe HEAD.
record:
	test -n "$(ROUND)" || (echo "usage: make record ROUND=NN" && false)
	$(PY) -m pytest tests/ -q > /tmp/tes_record_unit.txt 2>&1 || (tail -5 /tmp/tes_record_unit.txt && false)
	tail -1 /tmp/tes_record_unit.txt
	echo "=== FAST GATE (driver scale, deep lane deselected via conftest) ===" > PYTEST_DRIVER_SCALE_r$(ROUND).txt
	TES_TEST_SF_DIR=/root/testdata/sf0.01 $(PY) -m pytest tests/ -q >> PYTEST_DRIVER_SCALE_r$(ROUND).txt 2>&1 || (tail -5 PYTEST_DRIVER_SCALE_r$(ROUND).txt && false)
	tail -1 PYTEST_DRIVER_SCALE_r$(ROUND).txt
	echo "=== DEEP LANE (driver scale, -m deep: exhaustive interleavings/fuzz) ===" >> PYTEST_DRIVER_SCALE_r$(ROUND).txt
	TES_TEST_SF_DIR=/root/testdata/sf0.01 $(PY) -m pytest tests/ -q -m deep >> PYTEST_DRIVER_SCALE_r$(ROUND).txt 2>&1 || (tail -5 PYTEST_DRIVER_SCALE_r$(ROUND).txt && false)
	tail -1 PYTEST_DRIVER_SCALE_r$(ROUND).txt
	TES_VERIFY_JSON=CORRECTNESS_FULL_r$(ROUND).json $(PY) .claude/skills/verify/driver_sim.py > CORRECTNESS_FULL_r$(ROUND).txt 2>&1 || (tail -5 CORRECTNESS_FULL_r$(ROUND).txt && false)
	tail -2 CORRECTNESS_FULL_r$(ROUND).txt
	TES_VERIFY_SF_DIR=/root/testdata/sf0.1 TES_VERIFY_JSON=CORRECTNESS_FULL_SF01_r$(ROUND).json $(PY) .claude/skills/verify/driver_sim.py > CORRECTNESS_FULL_SF01_r$(ROUND).txt 2>&1 || (tail -5 CORRECTNESS_FULL_SF01_r$(ROUND).txt && false)
	tail -2 CORRECTNESS_FULL_SF01_r$(ROUND).txt
	TES_VERIFY_SF_DIR=/root/testdata/sf0.001 TES_VERIFY_JSON=CORRECTNESS_FULL_SF0001_r$(ROUND).json $(PY) .claude/skills/verify/driver_sim.py > CORRECTNESS_FULL_SF0001_r$(ROUND).txt 2>&1 || (tail -5 CORRECTNESS_FULL_SF0001_r$(ROUND).txt && false)
	tail -2 CORRECTNESS_FULL_SF0001_r$(ROUND).txt
	$(PY) tools/scale_probe.py > SCALE_PROBE_r$(ROUND).txt 2>&1 || (tail -8 SCALE_PROBE_r$(ROUND).txt && false)
	tail -4 SCALE_PROBE_r$(ROUND).txt
	TES_BENCH_FULL_JSON=BENCH_FULL_r$(ROUND).json $(PY) bench.py > /tmp/tes_record_bench.txt 2>&1 || (tail -5 /tmp/tes_record_bench.txt && false)
	tail -1 /tmp/tes_record_bench.txt
	$(PY) tools/archive_evidence.py
