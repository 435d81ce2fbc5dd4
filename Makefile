# Developer entry points — the engine's analog of the reference's
# justfile task surface (/root/reference/justfile: check/fix/test/run).
# No venv management here: the runtime ships pinned in the container
# (pyspark 4.1.2, duckdb, pyarrow, pandas, pytest).

PY ?= python

.PHONY: test contract contract-big contract-sf1 contract-sf1p contract-all spill-probe roundclose bench bench-full profile fuzz fuzz-skew plans scaling sfbig bench-sfbig run help

help:
	@echo "test         - full pytest suite"
	@echo "contract     - driver-style contract: every query vs its DuckDB oracle (sf0.01)"
	@echo "contract-big - same contract at bench scale (sf0.1)"
	@echo "contract-sf1 - same contract at 10x bench scale (/tmp/sf1; builds it if absent)"
	@echo "contract-sf1p- content-diversity slice at /tmp/sf1p (tools/sf1p_slice.txt)"
	@echo "contract-all - sf0.01 + sf0.1 + sf1 + sf1p contracts, fail on any non-green"
	@echo "roundclose   - pytest at HEAD + contract-all + bench (the close gate)"
	@echo "bench        - headline 25-query benchmark (one JSON line)"
	@echo "bench-full   - full-registry timing sweep"
	@echo "profile      - traced cold sweep of the headline queries -> stdout (redirect to PROFILE_rNN.json)"
	@echo "plans        - regenerate PLANS.md executed-plan receipts"
	@echo "scaling      - regenerate SCALING.md cross-SF probes"
	@echo "sfbig        - build 10x bench-scale data at /tmp/sf1 (key-shifted replication)"
	@echo "bench-sfbig  - headline bench against /tmp/sf1"
	@echo "run          - live E2E pipeline (needs GITHUB_WORKFLOW_RUNS_TOKEN)"

test:
	$(PY) -m pytest tests/ -q

# Run from /tmp so cwd-relative path assumptions surface (the external
# driver does not run from the repo root).
contract:
	cd /tmp && $(PY) $(CURDIR)/tools/drive_contract.py

contract-big:
	cd /tmp && DRIVE_SF_DIR=/root/testdata/sf0.1 $(PY) $(CURDIR)/tools/drive_contract.py

# 10x bench scale on driver-shaped knobs scaled for the data (4g heap,
# 64 shuffle partitions — see tools/drive_contract.py header for why).
# Builds /tmp/sf1 first if it is not already materialized. The _DONE
# marker is written after the LAST table, so a build interrupted
# mid-loop (or a partial leftover) triggers a rebuild instead of a
# contract drive against truncated data.
contract-sf1:
	@test -f /tmp/sf1/_DONE || $(PY) tools/make_sfbig.py 10 /tmp/sf1
	cd /tmp && DRIVE_SF_DIR=/tmp/sf1 DRIVE_DRIVER_MEM=4g \
		DRIVE_SHUFFLE_PARTITIONS=64 $(PY) $(CURDIR)/tools/drive_contract.py

# Content-diversity slice at 10x DISTINCT text (/tmp/sf1p, --perturb):
# the queries whose semantics depend on corpus CONTENT (dedup, gates,
# trained models, codecs, capstone pipelines) — the list is versioned
# in tools/sf1p_slice.txt so the slice can only grow deliberately.
contract-sf1p:
	@test -f /tmp/sf1p/_DONE || $(PY) tools/make_sfbig.py 10 /tmp/sf1p --perturb
	cd /tmp && DRIVE_SF_DIR=/tmp/sf1p DRIVE_DRIVER_MEM=4g \
		DRIVE_SHUFFLE_PARTITIONS=64 \
		DRIVE_ONLY=$$(paste -sd, $(CURDIR)/tools/sf1p_slice.txt) \
		$(PY) $(CURDIR)/tools/drive_contract.py

# The round-close gate: every registered query green against its
# oracle at three scales, so a scale regression is caught the round
# it is introduced, not one round later.
contract-all: contract contract-big contract-sf1 contract-sf1p

# Full round-close checklist: pytest AT HEAD (round 4 shipped a red
# fence because receipts were regenerated but pytest was not), then
# the three-scale contract, then the bench line.
roundclose: test contract-all bench

bench:
	$(PY) bench.py

# bench-full, profile, spill-probe and scaling share tools/harness.py:
# one session launcher, cold eviction before every rep, arms alternated
# rep by rep.
bench-full:
	$(PY) tools/bench_full.py

# Per-query layer record (jobs, stages, tasks, CPU, single-task stages,
# stages with a task over 200 ms, shuffle, spill, skew, JIT/Janino
# compile) from the Spark event log, for bench.py's 25 HEADLINE queries.
# Prints the JSON record (the recipe is silent, so stdout is only the
# record); redirect it to the round's own file, make profile >
# PROFILE_rNN.json, so no committed receipt is overwritten.
profile:
	@$(PY) tools/harness.py

# The fuzz session's driver heap is bounded (SPARK_DRIVER_MEMORY, 4g
# unless the caller sets it) so a fuzz run fits beside the test suite:
# get_spark's 16g default let the kernel OOM-kill the fuzz JVM there.
fuzz:
	SPARK_DRIVER_MEMORY=$${SPARK_DRIVER_MEMORY:-4g} $(PY) tools/fuzz_parity.py 10

# Hot-key skew receipt: 12k docs, one template duplicated 10^4x,
# all document queries vs oracle + the df histogram (SCALING.md).
fuzz-skew:
	SPARK_DRIVER_MEMORY=$${SPARK_DRIVER_MEMORY:-4g} $(PY) tools/fuzz_parity.py 1 --skew

# Memory-pressure receipt: heaviest queries under a starved execution
# pool must SPILL (not OOM, not emergency-broadcast) — SCALING.md
# 'Memory-pressure receipts' documents the tiers and the anatomy.
spill-probe:
	cd /tmp && SPARK_GRAFT_CPUS=8 $(PY) $(CURDIR)/tools/spill_probe.py /tmp/sf1 0.3 4

plans:
	$(PY) tools/plan_audit.py

scaling:
	$(PY) tools/scaling_probe.py

# 10x bench-scale dataset by FK-consistent key-shifted replication,
# then the headline bench against it — the local stand-in for "does
# the slope hold another decade up" (results recorded in SCALING.md).
sfbig:
	$(PY) tools/make_sfbig.py 10 /tmp/sf1

bench-sfbig:
	SPARK_GRAFT_SF_DIR=/tmp/sf1 $(PY) bench.py

run:
	$(PY) -m etl_spark
