# Developer entrypoints (reference has make test / make build, Makefile:18-35)

.PHONY: test test-fast parity bench perfbench perfbench-ab scaling golden-update

test:
	python -m pytest tests/ -x -q

test-fast:
	python -m pytest tests/ -x -q -m "not slow" --ignore=tests/test_streaming.py

parity:
	PARITY_SF_DIR=/root/testdata/sf0.01 python -m pytest tests/test_oracle_parity.py -q

bench:
	python bench.py

# both BENCHMARK.json workloads for one seed: make perfbench SEED=11 [SECONDS=10 TRACE=0]
SEED ?= 1
SECONDS ?= 10
TRACE ?= 0
perfbench:
	for w in stateful_pairs batch_queries; do \
		python3 perfbench/run.py --workload $$w --seed $(SEED) --seconds $(SECONDS) --trace $(TRACE) || exit 1; \
	done

# interleaved A/B of BASE against the working tree, one perfbench/run.py per
# side per seed: make perfbench-ab BASE=HEAD WORKLOAD=stateful_pairs SEEDS="1 2 3"
BASE ?= HEAD
WORKLOAD ?= stateful_pairs
SEEDS ?= 1 2 3
perfbench-ab:
	python3 perfbench_ab.py --base $(BASE) --workload $(WORKLOAD) --seeds "$(SEEDS)" --seconds $(SECONDS)

scaling:
	SPARK_GRAFT_DRIVER_MEM=16g python bench_scaling.py

golden-update:
	GOLDEN_UPDATE=1 python -m pytest tests/test_golden.py -q

submit-smoke:
	rm -rf /tmp/submit_smoke && mkdir -p /tmp/submit_smoke
	python -c "import shutil; shutil.make_archive('/tmp/submit_smoke/pkg', 'zip', '.', 'stellar_etl_spark')"
	printf 'import sys\nfrom stellar_etl_spark.jobs import main\nsys.exit(main(sys.argv[1:]))\n' > /tmp/submit_smoke/launch.py
	cd /tmp/submit_smoke && spark-submit --master 'local[4]' --py-files pkg.zip launch.py generate --out src --n-convs 50
	cd /tmp/submit_smoke && spark-submit --master 'local[4]' --py-files pkg.zip launch.py export_turns --source src --sink turns --checkpoint ck
