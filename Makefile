.PHONY: test slow verify bench perftest

# The tier-1 suite with the exports and flags of ROADMAP's tier-1 verify.
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

# The crash/race/compaction sweeps pytest.ini excludes by default; run
# them after any change near layout, commit or streaming state.
slow:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	python -m pytest tests/ -m slow -q -p no:cacheprovider

# Full pre-submit gate: unit/property tests + every registered query vs
# its DuckDB oracle through the driver-faithful comparison path.
verify: test
	python tools/verify_queries.py

bench:
	python bench.py

# The benchmark's own tests (perfbench/tests).
perftest:
	python3 -m pytest perfbench/tests -q
