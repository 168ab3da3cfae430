.PHONY: dist test selftest bench oracle

dist:
	mkdir -p dist && python -c "import shutil; shutil.make_archive('dist/lyra_spark', 'zip', root_dir='.', base_dir='lyra_spark')"

# the tier-1 environment: size local[N] to this host's cores (get_spark
# otherwise defaults to local[32]) and keep Spark scratch in one place
test: export SPARK_GRAFT_CPUS := $(shell env -u OMP_NUM_THREADS nproc)
test: export SPARK_LOCAL_DIRS := /tmp/spark-local
test:
	python -m pytest tests/ -x -q

# checks that the benchmark's traced spans still resolve to library functions
selftest:
	python3 lyrabench/selftest.py

bench:
	python bench.py
