.PHONY: test bench dist scaling clean loc kernel pytask

# Tier-1: the whole suite, one Spark core per CPU, shuffle spill in a
# scratch dir, no .pytest_cache left in the tree
test:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
	  timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

bench:
	python bench.py

# package line count, the figure each CHANGES.md entry records
loc:
	@find sparkdedup -name '*.py' | xargs cat | wc -l

# signature/word-gram kernel digests and best-of-5 seconds on the
# perfbench pipeline workloads (equal digests = byte-identical kernels)
SEED ?= 1
kernel:
	python tools/kernel_digest.py --seed $(SEED)

# fixed cost of a Python task: median of 10 warm trivial 4-task
# mapInArrow jobs, and each worker's zip directory reads per task (0 when
# the worker set-up in sparkdedup/zipcache.py holds)
pytask:
	python tools/pytask_probe.py

scaling:
	python tools/scaling_bench.py

dist:
	mkdir -p dist
	cd . && rm -f dist/sparkdedup.zip && zip -qr dist/sparkdedup.zip sparkdedup -i '*.py'

# example cluster submission (local master here; swap for yarn/k8s master)
submit: dist
	spark-submit --master 'local[8]' --py-files dist/sparkdedup.zip \
	  jobs/dedup.py --input $(INPUT) --workdir $(WORKDIR)

clean:
	rm -rf dist BENCH/__pycache__ .pytest_cache
