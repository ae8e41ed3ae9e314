"""Physical-plan regression tests: pushdown, pruning, broadcast, no
row-at-a-time Python — optimizer properties asserted like results."""

import pytest

from pyspark.sql import functions as F

from sotohp_spark.config import EngineConfig
from sotohp_spark.generator import transcripts_df
from sotohp_spark.index import IndexBuilder, QueryEngine
from sotohp_spark.plans.checks import (
    assert_broadcast_join,
    assert_column_pruned,
    assert_no_cartesian,
    assert_no_python_row_udf,
    assert_pushed_filter,
    assert_whole_stage_codegen,
)


@pytest.fixture(scope="module")
def _engine(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("planidx"))
    cfg = EngineConfig(range_size=32, block_size=8, ranges_per_batch=4,
                       shuffle_partitions=4)
    IndexBuilder(spark, path, cfg).build(
        transcripts_df(spark, 0.03), input_fingerprint="plans"
    )
    return QueryEngine(spark, path)


@pytest.fixture
def engine(_engine):
    """Per-test view of the module engine that RESTORES class-level
    threshold overrides — a test forcing the distributed plan
    (LOCAL_PATH_MAX_POSTINGS = 0) must not leak it into later tests."""
    saved = _engine.LOCAL_PATH_MAX_POSTINGS
    yield _engine
    _engine.LOCAL_PATH_MAX_POSTINGS = saved


def test_postings_scan_pushes_term_filter(engine):
    df = engine._snap.postings.where(F.col("term").isin(["error", "retry"]))
    assert_pushed_filter(df, "In(term")


def test_docs_scan_prunes_tf_maps(engine):
    assert_column_pruned(engine._snap.docs, "tfs")


def test_topk_plan_no_row_python_no_cartesian(engine):
    engine.LOCAL_PATH_MAX_POSTINGS = 0  # force the distributed plan
    df = engine.top_k("error retry", 5, with_docs=True)
    assert_no_python_row_udf(df)
    assert_no_cartesian(df)


def test_time_filtered_search_prunes_partitions(engine):
    """A timestamp window becomes a doc-id interval; the postings scan
    must carry a range_bucket PARTITION filter (hive pruning) so
    out-of-window buckets are never read."""
    import datetime
    import re

    from sotohp_spark.plans.checks import formatted_plan

    engine.LOCAL_PATH_MAX_POSTINGS = 0  # force the distributed plan
    df = engine.top_k(
        "error retry", 5, with_docs=False,
        ts_min=datetime.datetime(2025, 2, 1),
        ts_max=datetime.datetime(2025, 2, 28),
    )
    plan = formatted_plan(df)
    pf = re.findall(r"PartitionFilters: \[(.*?)\]", plan)
    # the bucket predicate may fold to =, IN/INSET, or range bounds
    assert any(
        "range_bucket" in f
        and any(op in f for op in (" = ", "INSET", " IN ", ">=", "<="))
        for f in pf
    ), f"no range_bucket partition pruning:\n{plan}"


def test_positional_access_no_single_partition_window(spark):
    """every_nth_event / random_events must never funnel the table
    through one task: no Exchange SinglePartition anywhere in the plan
    (the prefix-sum offsets are a collected O(partitions) vector, not
    a window over the data)."""
    import pandas as pd

    from sotohp_spark.operators.analytics import every_nth_event, random_events
    from sotohp_spark.plans.checks import formatted_plan

    events = spark.createDataFrame(
        pd.DataFrame(
            {
                "event_id": range(1000),
                "user_id": [i % 7 for i in range(1000)],
                "event_type": ["view"] * 1000,
            }
        )
    )
    df = every_nth_event(events, 100)
    assert "Exchange SinglePartition" not in formatted_plan(df)
    rows = df.orderBy("pos").collect()
    assert [r["pos"] for r in rows] == list(range(0, 1000, 100))
    assert [r["event_id"] for r in rows] == list(range(0, 1000, 100))

    rnd = random_events(events, n_pick=5, seed=7)
    assert "Exchange SinglePartition" not in formatted_plan(rnd)
    # independent mirror of the LCG draw (iterate past collisions)
    x, seen = 7 % 1000, set()
    while len(seen) < 5:
        x = (48271 * x + 12345) % 1000
        seen.add(x)
    picks = sorted(seen)
    assert [r["event_id"] for r in rnd.collect()] == picks
    assert len(picks) == 5


def test_attach_docs_uses_dpp_and_broadcast(engine):
    """The doc-metadata join must (a) broadcast the k-row side into a
    BroadcastHashJoin (the old broadcast-left left-outer hint was
    silently unsupported) and (b) dynamic-partition-prune the docs scan
    via the derived range_bucket key — only partitions holding result
    docs are read."""
    import re

    from sotohp_spark.plans.checks import formatted_plan

    engine.LOCAL_PATH_MAX_POSTINGS = 0  # force the distributed plan
    df = engine.top_k("error retry", 5, with_docs=True)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    pf = re.findall(r"PartitionFilters: \[(.*?)\]", plan)
    assert any(
        "range_bucket" in f and "dynamicpruning" in f for f in pf
    ), f"no dynamic partition pruning on the docs scan:\n{plan}"


def test_postings_scan_masks_uncommitted_appends(engine):
    """The committed-snapshot guard (first_doc <= meta.max_doc) must
    reach the postings parquet scan as a pushed filter."""
    engine.LOCAL_PATH_MAX_POSTINGS = 0  # force the distributed plan
    df = engine.top_k("error retry", 5, with_docs=False)
    assert_pushed_filter(df, "first_doc")


def test_ann_index_probe_prunes_partitions(spark, sf_dir, tmp_path):
    """The materialized ANN index must (a) rank-match the on-the-fly
    LSH path and (b) read only probed buckets: the scan carries a
    bucket PARTITION filter."""
    import re

    from sotohp_spark.operators.ann import cosine_topk_lsh
    from sotohp_spark.operators.ann_index import ann_index_topk, build_ann_index
    from sotohp_spark.plans.checks import formatted_plan

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [float((i * 37 % 13) - 6) / 7.0 for i in range(64)]
    path = str(tmp_path / "annidx")
    meta = build_ann_index(emb, path, bits=6, seed=42)
    assert meta["n_vectors"] == emb.count()

    got = ann_index_topk(spark, path, qv, k=10, multiprobe_hamming=2)
    want = cosine_topk_lsh(emb, qv, k=10, bits=6, multiprobe_hamming=2, seed=42)
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]

    plan = formatted_plan(got)
    pf = re.findall(r"PartitionFilters: \[(.*?)\]", plan)
    assert any("bucket" in f and ("INSET" in f or " IN " in f) for f in pf), (
        f"no bucket partition pruning:\n{plan}"
    )


def test_jaccard_no_forced_broadcast_of_sizes(spark):
    """The O(n_docs) sizes table must not be force-broadcast (driver
    OOM at scale) — only hint-free joins allowed in the pair plan."""
    import pandas as pd

    from sotohp_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": range(10), "text": [f"a b c d{i} e{i} f{i}" for i in range(10)]}
        )
    )
    plan = ngram_jaccard_pairs(docs, 0.3, max_shingle_df=50)._jdf.queryExecution()
    optimized = plan.optimizedPlan().toString()
    # no ResolvedHint/UnresolvedHint broadcast remnants on sizes
    assert "broadcast" not in optimized.lower()


def test_flagship_bm25_broadcasts_and_codegens(spark, sf_dir):
    from sotohp_spark.operators.topk import bm25_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = bm25_topk(docs, ["shuffle", "join"], k=10)
    # r08: the per-doc dl join was eliminated (dl rides the candidate
    # tf stream), so the only remaining equi-join is the broadcast of
    # the per-term df stats; the 1-row n_avg crossJoin broadcasts as a
    # nested-loop join (not counted by this helper)
    assert_broadcast_join(df, 1)
    assert_whole_stage_codegen(df)
    assert_no_python_row_udf(df)
    # the full-token explode must never feed a shuffle: every explode
    # in the plan runs over the query-term-filtered array, so only
    # matching tokens are ever exploded (r08 shuffle-bytes fix)
    from sotohp_spark.plans.checks import formatted_plan

    plan = formatted_plan(df)
    n_explode = plan.count("explode(")
    assert n_explode >= 1, plan
    assert n_explode == plan.count("explode(filter("), plan


def test_star_join_broadcasts_dims(spark, sf_dir):
    from sotohp_spark.operators.analytics import order_customer_nation

    df = order_customer_nation(
        spark.read.parquet(f"{sf_dir}/orders.parquet"),
        spark.read.parquet(f"{sf_dir}/customer.parquet"),
        spark.read.parquet(f"{sf_dir}/nation.parquet"),
    )
    assert_broadcast_join(df, 2)
    assert_no_cartesian(df)


def test_q1_is_pure_jvm(spark, sf_dir):
    from sotohp_spark.operators.analytics import pricing_summary

    df = pricing_summary(spark.read.parquet(f"{sf_dir}/lineitem.parquet"))
    assert_whole_stage_codegen(df)
    assert_no_python_row_udf(df)
    # the shipdate filter reaches the scan
    assert_pushed_filter(df, "l_shipdate")


def test_ann_ivf_index_probe_prunes_partitions(spark, sf_dir, tmp_path):
    """The materialized IVF index must (a) rank-match the on-the-fly
    IVF path at the same training (centroids stored in meta == the
    pipeline's), and (b) read only probed centroid partitions: the
    scan carries a centroid_id PARTITION filter."""
    import re

    from sotohp_spark.operators.ann import cosine_topk_ivf
    from sotohp_spark.operators.ann_index import (
        ann_index_ivf_topk,
        build_ann_index_ivf,
    )
    from sotohp_spark.plans.checks import formatted_plan

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [float((i * 37 % 13) - 6) / 7.0 for i in range(64)]
    path = str(tmp_path / "ivfidx")
    meta = build_ann_index_ivf(emb, path, n_centroids=8, lloyd_iters=1)
    assert meta["n_vectors"] == emb.count()
    assert len(meta["centroids"]) == 8

    got = ann_index_ivf_topk(spark, path, qv, k=10, n_probe=4)
    want = cosine_topk_ivf(
        emb, qv, k=10, n_centroids=8, n_probe=4, lloyd_iters=1
    )
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]

    plan = formatted_plan(got)
    pf = re.findall(r"PartitionFilters: \[(.*?)\]", plan)
    assert any(
        "centroid_id" in f and ("INSET" in f or " IN " in f) for f in pf
    ), f"no centroid_id partition pruning:\n{plan}"
