.PHONY: help install develop test test-fast tier1 bench zip clean

help: ## Show targets
	@awk 'BEGIN {FS = ":.*?## "} /^[a-zA-Z0-9_-]+:.*?## / {printf "  %-12s %s\n", $$1, $$2}' $(MAKEFILE_LIST)

install: ## Install the package (pip; needs the 'wheel' package present)
	pip install .

develop: ## Editable install without wheel (legacy setup.py path)
	python setup.py develop

zip: ## Build the spark-submit --py-files artifact (dist/mysql_data_quality_spark.zip)
	python scripts/build_pyfiles_zip.py

test: ## Run the full suite
	python -m pytest tests/ -q

test-fast: ## Fail-fast suite run
	python -m pytest tests/ -x -q

tier1: ## ROADMAP tier-1 verify, with the 25 slowest tests listed
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider --durations=25

bench: ## Run the benchmark harness (SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS honored)
	python bench.py

clean: ## Remove build artifacts
	rm -rf dist build *.egg-info mysql_data_quality_spark.egg-info
