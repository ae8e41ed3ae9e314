# Developer entry points (the reference drives everything via make;
# reference Makefile:33-36 runs tests with search mocked — here the
# oracle takes that role and needs nothing external).

.PHONY: test test-fast test-query test-refresh selfcheck bench perfbench scaling package submit-smoke

# zip for spark-submit --py-files on a real cluster
package:
	cd $(CURDIR) && python -c "import shutil; shutil.make_archive('sotohp_spark', 'zip', '.', 'sotohp_spark')"

# the north rule's deployment shape, end-to-end: build then query an
# index through spark-submit --py-files, with the index on a file://
# URI so the Hadoop-FS control plane is exercised too
submit-smoke: package
	rm -rf /tmp/submit_idx
	/opt/spark/bin/spark-submit --master 'local[8]' \
	  --py-files sotohp_spark.zip scripts/build_index.py \
	  --sf 0.05 --index file:///tmp/submit_idx --fingerprint smoke
	/opt/spark/bin/spark-submit --master 'local[8]' \
	  --py-files sotohp_spark.zip scripts/query_index.py \
	  --index file:///tmp/submit_idx --query "error retry timeout" --k 5

test:
	python -m pytest tests/ -x -q

test-fast:
	python -m pytest tests/test_tokenizer.py tests/test_varbyte.py \
	  tests/test_wand.py -q -k "not spark"

# the suites that drive the per-range executor (QueryEngine.
# _apply_per_range) on both legs, driver-local and distributed, and
# the scored sets (top_k_bool(_no_cut=True), scored_matches) that the
# query_string and aggregation surfaces run through it
test-query:
	python -m pytest tests/test_rank_identity.py tests/test_postings_cache.py \
	  tests/test_query_paths.py tests/test_multifield.py \
	  tests/test_bool_query.py tests/test_positional.py \
	  tests/test_phrase_ranked.py tests/test_search_features.py \
	  tests/test_query_string.py tests/test_aggregations.py -q

# what a refresh reuses across engines (tests/test_refresh_reuse.py)
# and the index lifecycle suites whose writes it must see through
test-refresh:
	python -m pytest tests/test_refresh_reuse.py tests/test_visibility.py \
	  tests/test_incremental.py tests/test_deletes.py \
	  tests/test_compact_buckets.py tests/test_merge_segments.py \
	  tests/test_compact_crash.py -q

selfcheck:
	python scripts/selfcheck.py

bench:
	python bench.py

# end-to-end benchmark, both workloads, one JSON line each (see
# perfbench/README.md); e.g. `make perfbench SEED=3 TRACE=1`
SEED ?= 1
TRACE ?= 0
perfbench:
	python3 perfbench/run.py --workload search-hot --seed $(SEED) --seconds 10 --trace $(TRACE)
	python3 perfbench/run.py --workload ingest --seed $(SEED) --seconds 10 --trace $(TRACE)

scaling:
	python scripts/scaling.py --n 2 --sf 100
