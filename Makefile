.PHONY: test bench package goldens scaling oracle-check

# the tier-1 command (ROADMAP.md): every test runs, a failure does not stop the rest
test:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

bench:
	python bench.py

goldens:
	python tests/gen_goldens.py

oracle-check:
	python tools/check_oracles.py /root/testdata/sf0.01

scaling:
	python tools/run_scaling.py

# ship the package for spark-submit --py-files (north_rule requirement)
package:
	rm -f dist/invoice_ocr_reconciler_spark.zip
	mkdir -p dist
	cd . && zip -qr dist/invoice_ocr_reconciler_spark.zip invoice_ocr_reconciler_spark -x '*__pycache__*'
	@echo "submit example:"
	@echo "  spark-submit --py-files dist/invoice_ocr_reconciler_spark.zip \\"
	@echo "    jobs/run_extract_reconcile.py --pages <parquet> --ledger <csv> --out <dir>"
