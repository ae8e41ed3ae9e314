"""Tombstone deletes (delete-by-id sink): deleted conversations vanish
from results; surviving docs keep their exact scores (Lucene-style:
global stats unchanged until compaction); reindex compacts."""

import numpy as np
import pytest

from sotohp_spark.config import EngineConfig
from sotohp_spark.generator import generate_transcripts_pdf
from sotohp_spark.index import IndexBuilder, QueryEngine
from sotohp_spark.oracle.bm25_oracle import Bm25Oracle
from sotohp_spark.streaming.incremental import delete_conversations

CFG = EngineConfig(range_size=8, block_size=4, ranges_per_batch=2, shuffle_partitions=4)


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("delidx"))
    pdf = generate_transcripts_pdf(0.04)
    IndexBuilder(spark, path, CFG).build(
        spark.createDataFrame(pdf), input_fingerprint="del"
    )
    return path, pdf


@pytest.mark.parametrize("conjunctive", [False, True])
def test_deleted_docs_filtered_scores_preserved(spark, built, conjunctive):
    path, pdf = built
    oracle = Bm25Oracle(pdf)
    before = QueryEngine(spark, path).top_k_pdf("error retry", 20, conjunctive)
    assert len(before) > 2

    # delete the top-2 conversations
    doomed_docs = set(before["doc_id"].iloc[:2])
    doomed_convs = [
        oracle.docs.loc[oracle.docs["doc_id"] == d, "conv_id"].iloc[0]
        for d in doomed_docs
    ]
    n = delete_conversations(spark, path, doomed_convs)
    assert n == 2

    after = QueryEngine(spark, path).top_k_pdf("error retry", 20, conjunctive)
    assert doomed_docs.isdisjoint(set(after["doc_id"]))
    # surviving docs: identical scores, ranks shifted up
    merged = before[~before["doc_id"].isin(doomed_docs)].reset_index(drop=True)
    m = min(len(merged), len(after))
    assert list(after["doc_id"].iloc[:m])[: len(merged)] == list(
        merged["doc_id"].iloc[:m]
    )
    assert np.allclose(
        after["score"].iloc[:m].to_numpy(np.float64),
        merged["score"].iloc[:m].to_numpy(np.float64),
        atol=1e-12,
        rtol=0,
    )


def test_large_delete_sets_stay_distributed(spark, tmp_path):
    """At cluster scale the tombstone table cannot be collected: with
    the driver cache disabled, scoring must cogroup deletes with the
    postings per range (visible in the plan) and stay rank-identical
    to the collected-array path."""
    from sotohp_spark.plans.checks import formatted_plan

    pdf = generate_transcripts_pdf(0.04, seed=45)
    path = str(tmp_path / "bigdel")
    IndexBuilder(spark, path, CFG).build(
        spark.createDataFrame(pdf), input_fingerprint="d"
    )
    victims = sorted(pdf["conv_id"].unique())[:5]
    delete_conversations(spark, path, victims)

    cached = QueryEngine(spark, path)                      # collected array
    dist = QueryEngine(spark, path, max_driver_deletes=0)  # forced cogroup
    assert cached._snap.deletes is not None and cached._snap.deletes.size == 5
    assert dist._snap.deletes is None  # nothing ever collected to the driver

    for qt in ["error retry", "search query", "timeout"]:
        for conj in (False, True):
            a = cached.top_k_pdf(qt, 10, conj)
            b = dist.top_k_pdf(qt, 10, conj)
            assert list(a["doc_id"]) == list(b["doc_id"]), (qt, conj)
            assert np.allclose(
                a["score"].to_numpy(np.float64),
                b["score"].to_numpy(np.float64),
                atol=1e-12, rtol=0,
            ), (qt, conj)

    # the distributed path's plan cogroups shards with per-range deletes
    plan = formatted_plan(dist.top_k("error retry", 10, with_docs=False))
    assert "FlatMapCoGroupsInPandas" in plan

    # batch path under distributed deletes matches per-query top_k
    batch = (
        dist.top_k_batch([("q1", "error retry", 5), ("q2", "timeout", 5)])
        .toPandas()
        .sort_values(["query_id", "rank"])
    )
    single = cached.top_k_pdf("error retry", 5)
    q1 = batch[batch["query_id"] == "q1"]
    assert list(q1["doc_id"]) == list(single["doc_id"])


def test_tombstone_layout_backward_compatible(spark, tmp_path):
    """Tombstone files written before the range_bucket column existed
    (flat, doc_id-only) must keep working next to new-format files in
    the same deletes dir."""
    pdf = generate_transcripts_pdf(0.04, seed=46)
    path = str(tmp_path / "mixdel")
    IndexBuilder(spark, path, CFG).build(
        spark.createDataFrame(pdf), input_fingerprint="m"
    )
    # legacy flat file: doc_id only
    spark.createDataFrame([(0,)], "doc_id long").write.mode("append").parquet(
        f"{path}/deletes"
    )
    # new-format delete on top
    victims = [pdf["conv_id"].iloc[-1]]
    delete_conversations(spark, path, victims)

    engine = QueryEngine(spark, path)
    assert engine._snap.deletes.size == 2  # both formats read together
    assert 0 not in set(engine.top_k_pdf("error", 50)["doc_id"])


def test_tombstone_hive_layout_normalized(spark, tmp_path):
    """A deletes dir written hive-partitioned (intermediate format)
    must be normalized to flat BEFORE a flat append can create the
    mixed-depth layout Spark partition discovery rejects."""
    pdf = generate_transcripts_pdf(0.04, seed=47)
    path = str(tmp_path / "hivedel")
    IndexBuilder(spark, path, CFG).build(
        spark.createDataFrame(pdf), input_fingerprint="h"
    )
    # simulate the intermediate hive-partitioned tombstone layout
    spark.createDataFrame([(0, 0)], "doc_id long, range_bucket int").write.mode(
        "append"
    ).partitionBy("range_bucket").parquet(f"{path}/deletes")

    victims = [pdf["conv_id"].iloc[-1]]
    delete_conversations(spark, path, victims)  # normalizes, then appends flat

    import os

    assert not any(
        d.startswith("range_bucket=") for d in os.listdir(f"{path}/deletes")
    )
    engine = QueryEngine(spark, path)
    assert engine._snap.deletes.size == 2
    assert 0 not in set(engine.top_k_pdf("error", 50)["doc_id"])


def test_delete_then_reappend_is_an_update(spark, tmp_path):
    """The reference's delete + re-sync flow: deleting a conversation
    and appending a corrected version must index the NEW version (not
    silently skip it), and compaction must keep it."""
    from sotohp_spark.streaming.incremental import (
        append_conversations,
        compact_index,
    )

    pdf = generate_transcripts_pdf(0.04, seed=44)
    path = str(tmp_path / "upidx")
    IndexBuilder(spark, path, CFG).build(
        spark.createDataFrame(pdf), input_fingerprint="u"
    )
    victim = pdf["conv_id"].iloc[0]
    delete_conversations(spark, path, [victim])

    # corrected version: same conv_id, distinctive new text
    corrected = pdf[pdf["conv_id"] == victim].copy()
    corrected["text"] = "zzcorrected unique marker token " + corrected[
        "turn_idx"
    ].astype(str)
    meta = append_conversations(spark, path, spark.createDataFrame(corrected), CFG)
    n_before = len(pdf["conv_id"].unique())
    assert meta["n_docs"] == n_before + 1  # old row tombstoned, new appended

    hits = QueryEngine(spark, path).top_k_pdf("zzcorrected", 5)
    assert len(hits) == 1
    engine = QueryEngine(spark, path)
    got = engine.top_k(
        "zzcorrected", 5
    ).select("conv_id").collect()
    assert got[0]["conv_id"] == victim

    # compaction physically drops the old version, keeps the update
    compact_index(spark, path, CFG)
    post = QueryEngine(spark, path)
    assert post.meta["n_docs"] == n_before
    hits2 = post.top_k("zzcorrected", 5, with_docs=True).select("conv_id").collect()
    assert len(hits2) == 1 and hits2[0]["conv_id"] == victim


def test_delete_then_compact(spark, tmp_path):
    from sotohp_spark.streaming.incremental import compact_index

    pdf = generate_transcripts_pdf(0.04, seed=43)
    path = str(tmp_path / "cidx")
    IndexBuilder(spark, path, CFG).build(
        spark.createDataFrame(pdf), input_fingerprint="c"
    )
    oracle = Bm25Oracle(pdf)
    victims = list(oracle.docs["conv_id"].iloc[:3])
    n = delete_conversations(spark, path, victims)
    assert n == 3

    meta = compact_index(spark, path, CFG)
    assert meta["n_docs"] == oracle.n_docs - 3

    # post-compaction index == fresh build over the surviving corpus:
    # identical doc ids, ranking AND scores (stats fully recomputed)
    surviving = pdf[~pdf["conv_id"].isin(victims)]
    want = Bm25Oracle(surviving).top_k("error retry", 10)
    engine = QueryEngine(spark, path)
    got = engine.top_k_pdf("error retry", 10)
    assert list(got["doc_id"]) == list(want["doc_id"])
    assert np.allclose(
        got["score"].to_numpy(np.float64),
        want["score"].to_numpy(np.float64),
        atol=1e-9,
        rtol=0,
    )
    # tombstones cleared by the swap
    assert engine._snap.deletes.size == 0
