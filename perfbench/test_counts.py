"""Exact-count self-test: two traced runs with one seed must report
identical per-layer counts (Spark jobs, stages and tasks per operation,
payload bytes and file counts, wrapper call counts).  Ledger bytes
(``_meta/``) are excluded: the build's partition_state records each
batch's wall time.

    python3 -m pytest perfbench/test_counts.py -q      # ~5 minutes
    python3 perfbench/test_counts.py                  # same, as a script

Also checks that BENCHMARK.json lists exactly the metrics run.py prints.
"""

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 7

COUNT_SUFFIXES = (".spark_jobs", ".spark_stages", ".spark_tasks", ".calls",
                  ".decode_calls", ".count", "_files", "_per_text_byte")
COUNT_NAMES = {"storage.postings_bytes", "storage.docs_bytes",
               "storage.term_stats_bytes", "storage.deletes_bytes",
               "storage.text_bytes"}


def is_count(name: str) -> bool:
    return name in COUNT_NAMES or name.endswith(COUNT_SUFFIXES)


def traced_run(workload: str) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "10", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0, out.stderr[-2000:]
    return {k: v["value"] for k, v in result["metrics"].items()}


def check_workload(workload: str) -> None:
    first, second = traced_run(workload), traced_run(workload)
    counts = sorted(n for n in first if is_count(n))
    assert "storage.ledger_bytes" not in counts
    differ = {n: (first[n], second[n]) for n in counts if first[n] != second[n]}
    assert not differ, f"{workload}: counts differ between runs: {differ}"


def test_counts_search_hot():
    check_workload("search-hot")


def test_counts_ingest():
    check_workload("ingest")


def test_benchmark_json_matches_run():
    sys.path.insert(0, HERE)
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


if __name__ == "__main__":
    test_benchmark_json_matches_run()
    for wl in ("search-hot", "ingest"):
        check_workload(wl)
        print(f"{wl}: per-layer counts identical across two runs")
