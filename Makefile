.PHONY: test bench dist scaling clean

# Tier-1: the whole suite, one Spark core per CPU, shuffle spill in a
# scratch dir, no .pytest_cache left in the tree
test:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
	  timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

bench:
	python bench.py

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
