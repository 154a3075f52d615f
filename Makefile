# Round-end verification: the full driver-gate replica + the bench, with
# logs committed under BENCH/.  Run before every round-end commit so the
# shipped artifacts always carry a fresh full-set run (the external driver
# samples a subset; these logs are the full-coverage backstop evidence).

# pipes must propagate failure: without pipefail `check_oracle | tee` would
# exit 0 on a gate mismatch and the round would ship green on a broken gate
SHELL := /bin/bash
.SHELLFLAGS := -o pipefail -c

SF_DIR ?= /root/testdata/sf0.01

# targets that write BENCH/*_$(ROUND).* name their evidence explicitly
# (make gate ROUND=<tag>): a default would overwrite committed logs
define need_round
$(if $(ROUND),,$(error ROUND is not set: run e.g. `make $@ ROUND=<tag>`; the log goes to BENCH/ under that tag))
endef

.PHONY: gate gate-shacl bench verify test dist submit-smoke many-shapes perf-pairs

# Package the engine for spark-submit --py-files (north rule: the pipeline
# must run via spark-submit on a multi-executor cluster).  Single zip
# builder shared with scaling_bench and tests/test_packaging.py.
dist:
	python -c "import sys; sys.path.insert(0,'scripts'); \
	  from scaling_bench import build_engine_zip; print(build_engine_zip())"

# Prove the spark-submit path end-to-end at small scale.  Full log kept in
# BENCH/submit_smoke.log; the JSON metrics line (not an arbitrary trailing
# log line) is what gets echoed.
submit-smoke: dist
	rm -rf /tmp/kg_submit_smoke
	spark-submit --master local[8] --driver-memory 4g \
	  --py-files dist/engine.zip scripts/submit_pipeline.py \
	  --input /root/testdata/sf0.001 --output /tmp/kg_submit_smoke \
	  > BENCH/submit_smoke.log 2>&1 \
	  || { tail -30 BENCH/submit_smoke.log; exit 1; }
	grep -E '^\{"input"' BENCH/submit_smoke.log | tail -1

gate:
	$(need_round)
	python scripts/check_oracle.py $(SF_DIR) 2>&1 | grep -v -E "WARN|FutureWarning|serializers.py" | tee BENCH/full_gate_$(ROUND).log

# SHACL subset of the gate: every shacl_* and dash_* query against its
# independent DuckDB reference (covers every Engine-backed constraint
# component, built-in and DASH)
gate-shacl:
	python scripts/check_oracle.py $(SF_DIR) 'shacl_*' 'dash_*' 2>&1 | grep -v -E "WARN|FutureWarning|serializers.py"

bench:
	$(need_round)
	python bench.py 2>&1 | tail -1 | tee BENCH/bench_$(ROUND).json

# SHACL report wall and report_df() plan-build time at 2 / 10 / 50 shapes
# (plus a violation-bearing 50) over one replicated KG corpus
many-shapes:
	$(need_round)
	python scripts/many_shapes_bench.py 2>&1 | tail -1 | tee BENCH/many_shapes_$(ROUND).json

# alternating parent/change perfbench runs of one workload, written to
# BENCH/perfbench_$(ROUND)_$(WORKLOAD)_pairs.jsonl and summarized
# (make perf-pairs ROUND=<tag> PARENT=<parent checkout> WORKLOAD=<name>)
PAIRS ?= 10
perf-pairs:
	$(need_round)
	$(if $(PARENT),,$(error PARENT is not set: give the parent checkout, e.g. PARENT=../parent))
	$(if $(WORKLOAD),,$(error WORKLOAD is not set: e.g. WORKLOAD=shacl_incremental))
	python scripts/perf_pairs.py --parent $(PARENT) --workload $(WORKLOAD) \
	  --tag $(ROUND) --pairs $(PAIRS)

# the tier-1 command of ROADMAP.md: the whole suite, run past failures and
# collection errors, with one Spark core per host core
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	  timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

verify: gate bench
