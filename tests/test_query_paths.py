"""Query-side scale paths: block-max skip evidence and the
vocabulary-scale term-df lookup.

- The WAND pruning machinery was equivalence-tested (test_wand) but
  nothing proved it actually SKIPS block decodes on a Zipf-head term;
  `score_range(stats=...)` now emits blocks_total/decoded/skipped and
  this pins skipping > 0 on a corpus with per-range heavy hitters.
- `preload_term_stats` collects the whole vocabulary — fine to tens of
  millions of terms, not beyond.  Without preload, term df resolution
  must cost at most ONE pruned parquet job per query, and ZERO jobs
  for terms already seen this session (LRU with negative caching).
"""

import datetime
import uuid

from sotohp_spark.config import EngineConfig
from sotohp_spark.generator import generate_transcripts_pdf
from sotohp_spark.index import IndexBuilder, QueryEngine

TS = datetime.datetime(2025, 1, 1)


def _jobs_during(spark, fn):
    gid = uuid.uuid4().hex
    sc = spark.sparkContext
    sc.setJobGroup(gid, "job-count probe")
    try:
        fn()
    finally:
        sc.setJobGroup("default", "")
    return len(sc.statusTracker().getJobIdsForGroup(gid))


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_blockmax_skips_blocks_on_zipf_head(spark, tmp_path):
    """Every 64-doc range holds one high-tf doc: after its block is
    decoded, theta exceeds the remaining blocks' upper bounds and they
    must never be decoded (strict-< pruning keeps exact-tie safety)."""
    rows = []
    for i in range(2048):
        heavy = i % 64 == 0
        rows.append(
            (
                f"c{i:05d}",
                0,
                TS + datetime.timedelta(seconds=i),
                " ".join(["hot"] * (50 if heavy else 1)),
            )
        )
    turns = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts timestamp, text string"
    )
    path = str(tmp_path / "zipf_idx")
    cfg = EngineConfig(
        range_size=64, block_size=8, ranges_per_batch=4, shuffle_partitions=4
    )
    IndexBuilder(spark, path, cfg).build(turns, input_fingerprint="zipf")
    engine = QueryEngine(spark, path)

    top = engine.top_k("hot", k=1, with_docs=False).collect()
    st = engine.last_query_stats
    assert st["blocks_total"] > 0
    assert st["blocks_decoded"] + st["blocks_skipped"] == st["blocks_total"]
    assert st["blocks_skipped"] > 0, st
    # most blocks skipped: one heavy block per 8-block range suffices
    assert st["blocks_decoded"] <= st["blocks_total"] // 2, st
    # and the winner is a heavy doc (correctness alongside the skips)
    assert top[0]["doc_id"] % 64 == 0


def test_term_lookup_without_preload_is_one_job_then_zero(spark, tmp_path):
    pdf = generate_transcripts_pdf(0.05)
    path = str(tmp_path / "lru_idx")
    cfg = EngineConfig(
        range_size=8, block_size=4, ranges_per_batch=2, shuffle_partitions=4
    )
    IndexBuilder(spark, path, cfg).build(
        spark.createDataFrame(pdf), input_fingerprint="base"
    )

    cold = QueryEngine(spark, path)  # NO preload_term_stats
    got = {}
    n1 = _jobs_during(
        spark, lambda: got.update(cold.query_weights("error retry timeout")[0])
    )
    assert n1 == 1  # one pruned term_stats lookup for all terms at once
    n2 = _jobs_during(
        spark, lambda: cold.query_weights("error retry timeout")
    )
    assert n2 == 0  # LRU hit, including repeat queries
    # absent terms are negative-cached too
    cold.query_weights("zzznotaterm error")
    n3 = _jobs_during(spark, lambda: cold.query_weights("zzznotaterm"))
    assert n3 == 0

    warm = QueryEngine(spark, path)
    warm.preload_term_stats()
    want, _ = warm.query_weights("error retry timeout")
    assert got == want  # LRU path computes identical weights


def test_local_gate_routes_concurrent_queries_distributed(spark, tmp_path):
    """Serving concurrency: the driver-LOCAL fast path is gated to ONE
    in-flight query (concurrent local decodes serialize on the GIL —
    measured 0.6 QPS at 4 clients vs 7.1 distributed).  A single call
    keeps the local path (block-skip stats populated); while the gate
    is held the SAME call must route distributed and return identical
    ranks and scores."""
    rows = [
        (f"c{i:05d}", 0, TS + datetime.timedelta(seconds=i),
         "alpha beta " + ("gamma " * (1 + i % 5)))
        for i in range(512)
    ]
    turns = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts timestamp, text string"
    )
    path = str(tmp_path / "gate_idx")
    cfg = EngineConfig(
        range_size=64, block_size=8, ranges_per_batch=4, shuffle_partitions=4
    )
    IndexBuilder(spark, path, cfg).build(turns, input_fingerprint="gate")
    engine = QueryEngine(spark, path)

    local = engine.top_k("gamma beta", k=10, with_docs=False).collect()
    assert engine.last_query_stats.get("blocks_total", 0) > 0  # local ran

    assert engine._local_gate.acquire(blocking=False)
    try:
        routed = engine.top_k("gamma beta", k=10, with_docs=False).collect()
        # distributed path never populates driver-side skip stats
        assert engine.last_query_stats == {}
    finally:
        engine._local_gate.release()
    assert [(r["doc_id"], r["score"]) for r in local] == [
        (r["doc_id"], r["score"]) for r in routed
    ]
    # gate released: the local path is available again
    out = engine.top_k("gamma beta", k=10, with_docs=False).collect()
    assert engine.last_query_stats.get("blocks_total", 0) > 0
    assert [(r["doc_id"], r["score"]) for r in out] == [
        (r["doc_id"], r["score"]) for r in local
    ]
    # the other executor surfaces route the same way: with the gate
    # held they run the distributed plan and return the free-gate rows
    for call in (
        lambda: engine.scored_matches("gamma beta"),
        lambda: engine.top_k_multi_match("gamma beta", k=10,
                                         with_docs=False),
    ):
        free = call()
        assert "FlatMapGroupsInPandas" not in _plan(free)
        assert engine._local_gate.acquire(blocking=False)
        try:
            held = call()
        finally:
            engine._local_gate.release()
        assert "FlatMapGroupsInPandas" in _plan(held)
        assert sorted(held.collect()) == sorted(free.collect())
