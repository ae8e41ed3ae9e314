"""Benchmark entry point.

    python3 perfbench/run.py --workload search-hot --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout.  Prints, as the last line of
standard output, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``).  See perfbench/README.md.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")

WORKLOADS = ("search-hot", "ingest")

END_TO_END = {
    "setup_s": "s",
    "ids_p50_ms": "ms",
    "ids_p90_ms": "ms",
    "hits_p50_ms": "ms",
    "bool_p50_ms": "ms",
    "write_turns_per_s": "turns/s",
    "refresh_p50_ms": "ms",
    "index_bytes_per_text_byte": "B/B",
    "driver_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "build.wall_s": "s",
    "build.spark_jobs": "count",
    "build.spark_stages": "count",
    "build.spark_tasks": "count",
    "storage.postings_bytes": "B",
    "storage.docs_bytes": "B",
    "storage.term_stats_bytes": "B",
    "storage.deletes_bytes": "B",
    "storage.ledger_bytes": "B",
    "storage.text_bytes": "B",
    "storage.postings_files": "count",
    "open.ms": "ms",
    "open.preload_ms": "ms",
    "open.pin_ms": "ms",
    "refresh.probe_ms": "ms",
    **{f"{op}.{m}": u for op in ("ids", "hits", "bool") for m, u in (
        ("call_ms", "ms"), ("collect_ms", "ms"),
        ("spark_jobs", "count"), ("spark_tasks", "count"))},
    **{f"{layer}.{op}.{m}": u for op in ("ids", "hits", "bool")
       for layer, m, u in (
        ("wand", "score_ms", "ms"), ("wand", "self_ms", "ms"),
        ("wand", "calls", "count"), ("postings", "decode_ms", "ms"),
        ("postings", "decode_calls", "count"), ("tokenizer", "ms", "ms"))},
    "append.wall_s": "s",
    "append.spark_jobs": "count",
    "merge.wall_s": "s",
    "merge.count": "count",
    "delete.ms": "ms",
    "delete.spark_jobs": "count",
    "append.bytes_written_per_text_byte": "B/B",
    "fsio.calls": "count",
    "fsio.ms": "ms",
    "trace.overhead_s": "s",
    "trace.overhead_share": "ratio",
    "trace.ids_p50_ms": "ms",
}

# Fixed so that two runs with one seed hash strings identically, in the
# driver and in the Spark workers that inherit its environment.
HASH_SEED = "0"


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _reexec_if_needed(workdir: str) -> None:
    """Re-run this script with a fixed hash seed and every scratch
    directory (Spark local dirs, temp files) inside the checkout."""
    if os.environ.get("PERFBENCH_WORKDIR") == workdir:
        return
    env = dict(os.environ)
    env.update({
        "PYTHONHASHSEED": HASH_SEED,
        "PERFBENCH_WORKDIR": workdir,
        "SPARK_LOCAL_DIRS": os.path.join(workdir, "spark-local"),
        "TMPDIR": os.path.join(workdir, "tmp"),
        # no hsperfdata file in /tmp: the run writes only inside the checkout
        "JAVA_TOOL_OPTIONS": (f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')}"
                              " -XX:-UsePerfData"),
        "SPARK_DRIVER_MEMORY": "2g",
    })
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(workdir, d), exist_ok=True)
    sys.stdout.flush()
    os.execve(sys.executable, [sys.executable, os.path.abspath(__file__)]
              + sys.argv[1:], env)


def _start_spark(nproc: int):
    from sotohp_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{nproc}]",
                      shuffle_partitions=nproc,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv) -> int:
    args = _parse(argv)
    # the work dir is removed at exit, so it is only ever one under OUT
    workdir = os.environ.get("PERFBENCH_WORKDIR", "")
    if os.path.dirname(workdir) != OUT:
        workdir = os.path.join(OUT, f"work-{os.getpid()}")
    _reexec_if_needed(workdir)
    try:
        result = _run(args, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _run(args, workdir: str) -> dict:
    sys.path[:0] = [ROOT, HERE]
    import measure
    import workloads

    nproc = len(os.sched_getaffinity(0))
    tracer = measure.Tracer(enabled=bool(args.trace))
    if args.trace:
        workloads.install_wrappers(tracer)
    with tracer.span("session.start") as s:
        spark = _start_spark(nproc)
    # The client thread runs on one fixed CPU (Spark keeps all of them):
    # left to the scheduler, its placement against the JVM threads it
    # talks to over Py4J moved driver-local query latency by up to 30%
    # from one process to the next.
    os.sched_setaffinity(0, {nproc - 1})
    try:
        bench = workloads.Bench(spark, tracer, workdir, args.seed, T0, nproc)
        bench.layer["session.start_s"] = s.seconds
        live_text = workloads.WORKLOADS[args.workload](bench, args.seconds)
        print(f"perfbench: {args.workload} set-up {bench.acc['setup_s']:.1f} s, "
              f"timed {bench.acc['timed_s']:.1f} s, checks done at "
              f"{time.perf_counter() - T0:.1f} s", file=sys.stderr)
        if args.trace:
            values = bench.per_layer(live_text)
            names = PER_LAYER
            tracer.restore()
            tracer.dump(os.path.join(
                OUT, "spans", f"{args.workload}-seed{args.seed}.jsonl"))
        else:
            values = bench.end_to_end(live_text)
            names = END_TO_END
    finally:
        _stop_spark(spark)
    return {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {n: {"value": float(values[n]), "unit": u}
                    for n, u in names.items()},
    }


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
