"""End-to-end rank-identity: Spark engine top-k (doc_ids + BM25
scores) must match the single-node pure-pandas oracle on the full
reference query set, in both disjunctive (WAND) and conjunctive
(intersection) modes.  Mirrors the reference's golden end-to-end sync
test discipline (MediaServiceSynchronizeTest.scala:17-71)."""

import numpy as np
import pytest

from sotohp_spark.config import EngineConfig
from sotohp_spark.generator import generate_transcripts_pdf, reference_queries
from sotohp_spark.index.build import IndexBuilder
from sotohp_spark.index.query import QueryEngine
from sotohp_spark.oracle.bm25_oracle import Bm25Oracle

SF = 0.05  # ~50 conversations, ~1k turns — small but multi-range


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("index"))
    pdf = generate_transcripts_pdf(SF)
    turns = spark.createDataFrame(pdf)
    # tiny ranges/blocks so multiple shards+blocks are exercised
    cfg = EngineConfig(range_size=8, block_size=4, ranges_per_batch=2,
                       shuffle_partitions=8)
    builder = IndexBuilder(spark, path, cfg)
    meta = builder.build(turns, input_fingerprint="rank-identity")
    oracle = Bm25Oracle(pdf)
    engine = QueryEngine(spark, path)
    return engine, oracle, meta


def test_global_stats_match(built):
    engine, oracle, meta = built
    assert meta["n_docs"] == oracle.n_docs
    assert meta["avgdl"] == pytest.approx(oracle.avgdl, abs=1e-12)


def test_doc_ids_match_oracle(built):
    engine, oracle, _ = built
    docs = engine._snap.docs.orderBy("doc_id").toPandas()
    assert list(docs["doc_id"]) == list(range(oracle.n_docs))
    assert list(docs["conv_id"]) == list(oracle.docs["conv_id"])


def test_df_matches_oracle(built):
    engine, oracle, _ = built
    df = {r["term"]: r["df"] for r in engine._snap.term_stats.collect()}
    assert df == dict(oracle.df)


@pytest.mark.parametrize(
    "conjunctive,local_path",
    [(False, True), (True, True), (False, False), (True, False)],
)
def test_rank_identity_full_query_set(built, conjunctive, local_path):
    engine, oracle, _ = built
    engine.LOCAL_PATH_MAX_POSTINGS = 2_000_000 if local_path else 0
    queries = reference_queries()
    if not local_path:
        queries = queries.iloc[::3]  # distributed path: subsample (slow jobs)
    for _, q in queries.iterrows():
        got = engine.top_k_pdf(q["query_text"], int(q["k"]), conjunctive=conjunctive)
        want = oracle.top_k(q["query_text"], int(q["k"]), conjunctive=conjunctive)
        assert list(got["doc_id"]) == list(want["doc_id"]), (
            f"{q['query_id']} ({q['query_text']!r}) docs mismatch "
            f"(conjunctive={conjunctive})\n got={got}\nwant={want}"
        )
        assert np.allclose(
            got["score"].to_numpy(dtype=np.float64),
            want["score"].to_numpy(dtype=np.float64),
            rtol=0,
            atol=1e-9,
        ), f"{q['query_id']} scores diverge"


def test_batch_matches_per_query(built):
    engine, oracle, _ = built
    queries = reference_queries().iloc[:20]
    batch = engine.top_k_batch(
        [(q["query_id"], q["query_text"], int(q["k"])) for _, q in queries.iterrows()]
    ).toPandas()
    for _, q in queries.iterrows():
        got = batch[batch["query_id"] == q["query_id"]].sort_values("rank")
        want = oracle.top_k(q["query_text"], int(q["k"]))
        assert list(got["doc_id"]) == list(want["doc_id"]), q["query_id"]
        if len(want):
            assert np.allclose(
                got["score"].to_numpy(np.float64),
                want["score"].to_numpy(np.float64),
                atol=1e-9,
                rtol=0,
            )


def test_empty_query_and_absent_terms(built):
    engine, oracle, _ = built
    assert len(engine.top_k_pdf("")) == 0
    assert len(engine.top_k_pdf("zzzqx qqqabsent")) == 0


def test_time_filtered_topk_matches_filtered_oracle(spark, tmp_path_factory):
    """ts_min/ts_max restrict membership only (global stats): the
    engine's doc-id-interval implementation must equal the oracle's
    score-then-filter-by-doc_ts, on both the local and the distributed
    path."""
    import datetime

    import numpy as np

    from sotohp_spark.config import EngineConfig
    from sotohp_spark.generator import generate_transcripts_pdf
    from sotohp_spark.index import IndexBuilder, QueryEngine
    from sotohp_spark.oracle.bm25_oracle import Bm25Oracle

    cfg = EngineConfig(range_size=8, block_size=4, ranges_per_batch=2,
                       shuffle_partitions=4)
    path = str(tmp_path_factory.mktemp("tsidx"))
    pdf = generate_transcripts_pdf(0.05)
    IndexBuilder(spark, path, cfg).build(
        spark.createDataFrame(pdf), input_fingerprint="ts"
    )
    engine = QueryEngine(spark, path)
    oracle = Bm25Oracle(pdf)

    lo = datetime.datetime(2025, 2, 1)
    hi = datetime.datetime(2025, 2, 28, 23, 59, 59)
    in_window = set(
        oracle.docs.index[
            (oracle.docs["doc_ts"] >= lo) & (oracle.docs["doc_ts"] <= hi)
        ]
    )
    assert 0 < len(in_window) < oracle.n_docs  # the window actually filters

    for qt in ["error retry timeout", "search query", "retryTimeout"]:
        full = oracle.top_k(qt, k=oracle.n_docs)
        want = full[full["doc_id"].isin(in_window)].head(10)
        for forced_distributed in (False, True):
            engine.LOCAL_PATH_MAX_POSTINGS = (
                0 if forced_distributed else QueryEngine.LOCAL_PATH_MAX_POSTINGS
            )
            got = engine.top_k(
                qt, 10, with_docs=False, ts_min=lo, ts_max=hi
            ).toPandas()
            assert list(got["doc_id"]) == list(want["doc_id"]), (
                qt, forced_distributed)
            assert np.allclose(
                got["score"].to_numpy(np.float64),
                want["score"].to_numpy(np.float64),
                atol=1e-9, rtol=0,
            )

    # empty window -> empty result, no error
    assert (
        engine.top_k(
            "error", 10, with_docs=False,
            ts_min=datetime.datetime(2030, 1, 1),
        ).count()
        == 0
    )
    # window filter composes with conjunctive mode
    conj = engine.top_k(
        "error retry", 10, conjunctive=True, with_docs=False,
        ts_min=lo, ts_max=hi,
    ).toPandas()
    full_c = oracle.top_k("error retry", k=oracle.n_docs, conjunctive=True)
    want_c = full_c[full_c["doc_id"].isin(in_window)].head(10)
    assert list(conj["doc_id"]) == list(want_c["doc_id"])


def test_time_filter_correct_after_append_segments(spark, tmp_path):
    """Appends put NEW doc ids at the top of the id space regardless of
    their timestamps, so a single doc-id envelope would sweep in
    out-of-window docs.  meta segments must keep the window exact:
    appended February conversations are found by a February window and
    NEVER returned by a March window (and vice versa)."""
    import datetime

    import pandas as pd

    from sotohp_spark.config import EngineConfig
    from sotohp_spark.generator import generate_transcripts_pdf
    from sotohp_spark.index import IndexBuilder, QueryEngine
    from sotohp_spark.streaming.incremental import append_conversations

    cfg = EngineConfig(range_size=8, block_size=4, ranges_per_batch=2,
                       shuffle_partitions=4)
    path = str(tmp_path / "segidx")
    base = generate_transcripts_pdf(0.04)  # conv starts span Jan-Mar 2025
    IndexBuilder(spark, path, cfg).build(
        spark.createDataFrame(base), input_fingerprint="seg"
    )

    # appended batch: NEW conversations, all timestamps mid-February,
    # carrying a marker term
    feb = datetime.datetime(2025, 2, 15, 12, 0, 0)
    extra = pd.DataFrame(
        [
            (f"late-conv-{i:03d}", j, "user", f"zzfeb marker turn {j}", None,
             feb + datetime.timedelta(minutes=10 * i + j))
            for i in range(5)
            for j in range(3)
        ],
        columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"],
    )
    append_conversations(spark, path, spark.createDataFrame(extra), cfg)

    engine = QueryEngine(spark, path)
    assert len(engine.meta["segments"]) == 2  # build + append

    feb_lo, feb_hi = (datetime.datetime(2025, 2, 1),
                      datetime.datetime(2025, 2, 28, 23, 59, 59))
    mar_lo, mar_hi = (datetime.datetime(2025, 3, 1),
                      datetime.datetime(2025, 3, 31, 23, 59, 59))

    # the appended Feb conversations are visible through a Feb window
    feb_hits = engine.top_k("zzfeb", 10, ts_min=feb_lo, ts_max=feb_hi)
    assert feb_hits.count() == 5
    # ... and invisible through a March window
    assert engine.top_k("zzfeb", 10, with_docs=False,
                        ts_min=mar_lo, ts_max=mar_hi).count() == 0

    # no window leakage in either direction: every result's doc_ts is
    # inside the requested window (this is exactly what a single
    # envelope interval gets wrong after the append)
    for lo, hi in [(feb_lo, feb_hi), (mar_lo, mar_hi)]:
        got = engine.top_k("error retry", 50, ts_min=lo, ts_max=hi)
        rows = got.select("doc_ts").collect()
        assert rows, "window should match something"
        assert all(lo <= r["doc_ts"] <= hi for r in rows)

    # local and distributed paths agree under segmented bounds
    a = engine.top_k("error retry", 10, with_docs=False,
                     ts_min=feb_lo, ts_max=feb_hi).toPandas()
    engine.LOCAL_PATH_MAX_POSTINGS = 0
    b = engine.top_k("error retry", 10, with_docs=False,
                     ts_min=feb_lo, ts_max=feb_hi).toPandas()
    assert list(a["doc_id"]) == list(b["doc_id"])

    # multi-interval bounds must still PARTITION-prune (the bucket
    # predicate has to be a top-level conjunct on the partition column
    # alone — an OR mixing range_id would defeat the pruner)
    import re

    from sotohp_spark.plans.checks import formatted_plan

    plan = formatted_plan(
        engine.top_k("error retry", 10, with_docs=False,
                     ts_min=feb_lo, ts_max=feb_hi)
    )
    pf = re.findall(r"PartitionFilters: \[(.*?)\]", plan)
    assert any(
        "range_bucket" in f
        and any(op in f for op in (" = ", "INSET", " IN ", ">=", "<="))
        for f in pf
    ), f"multi-segment window lost partition pruning:\n{plan}"
