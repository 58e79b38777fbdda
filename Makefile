.PHONY: test gate bench perfbench scale package job clean

test:            ## tier-1: the full suite (ROADMAP.md "Tier-1 verify")
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
		timeout -k 10 2670 python -m pytest tests/ -q \
		--continue-on-collection-errors -p no:cacheprovider --durations=25

gate:            ## Spark vs DuckDB parity for every query (driver replica)
	python scripts/check_oracle.py /root/testdata/sf0.01

bench:           ## one-JSON-line throughput benchmark
	python bench.py

perfbench:       ## one BENCHMARK.json run (perfbench/README.md) on the mixed workload
	python3 perfbench/run.py --workload mixed --seed 1 --seconds 20 --trace 0

scale:           ## N vs 4N scaling efficiency → BENCH.md
	python scripts/scaling_bench.py --reps 100

package:         ## build dist/engine.zip for spark-submit --py-files
	python scripts/package.py

job: package     ## resumable extraction job via spark-submit
	spark-submit --master local[16] \
		--conf spark.driver.memory=8g \
		--conf "spark.driver.extraJavaOptions=-Xms8g -XX:+AlwaysPreTouch" \
		--py-files dist/engine.zip job.py \
		--sf-dir /root/testdata/sf0.1 --out /tmp/extract_out

clean:
	rm -rf dist spark-warehouse derby.log .pytest_cache \
		/tmp/paddleocr_spark_corpus_cache
