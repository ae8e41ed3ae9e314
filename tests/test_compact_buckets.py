"""Bucket-local compaction: physically drops tombstoned docs while
rewriting ONLY the affected bucket directories, keeping sparse doc ids
and the exact tombstone-filtered ranks/scores (global stats are not
recomputed — the Lucene merge-vs-optimize distinction).  Crash at any
protocol point must recover to the same result on the next open.
"""

import os

import numpy as np
import pytest

from pyspark.sql import functions as F

from sotohp_spark import fsio
from sotohp_spark.config import EngineConfig
from sotohp_spark.generator import generate_transcripts_pdf
from sotohp_spark.index import IndexBuilder, QueryEngine
from sotohp_spark.streaming.incremental import (
    append_conversations,
    compact_buckets,
    delete_conversations,
)

CFG = EngineConfig(range_size=8, block_size=4, ranges_per_batch=2, shuffle_partitions=4)
SPAN = CFG.range_size * CFG.ranges_per_batch

QUERIES = ["error retry timeout", "search query", "tool call"]


def _file_listing(base):
    out = {}
    for bucket_dir in sorted(os.listdir(base)):
        if not bucket_dir.startswith("range_bucket="):
            continue
        d = os.path.join(base, bucket_dir)
        out[bucket_dir] = sorted(
            (f, os.path.getmtime(os.path.join(d, f)))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )
    return out


def _build_with_bucket0_deletes(spark, path):
    pdf = generate_transcripts_pdf(0.06)
    IndexBuilder(spark, path, CFG).build(
        spark.createDataFrame(pdf), input_fingerprint="cb"
    )
    engine = QueryEngine(spark, path)
    # doom 3 conversations whose doc ids live in bucket 0 only
    doomed_convs = [
        r["conv_id"]
        for r in engine._snap.docs.where(F.col("doc_id") < 6)
        .select("conv_id").distinct().collect()
    ]
    delete_conversations(spark, path, doomed_convs)
    return pdf, doomed_convs


def test_bucket_compact_score_identity_and_locality(spark, tmp_path):
    path = str(tmp_path / "bidx")
    _build_with_bucket0_deletes(spark, path)

    eng_before = QueryEngine(spark, path)
    before = {qt: eng_before.top_k_pdf(qt, 15) for qt in QUERIES}
    meta_before = dict(eng_before.meta)
    pre_docs = _file_listing(f"{path}/docs")
    pre_post = _file_listing(f"{path}/postings")
    n_buckets = len(pre_post)
    assert n_buckets >= 3, "need multiple buckets for a locality check"

    meta = compact_buckets(spark, path, CFG)

    # (a) rank AND score identity vs the tombstone-filtered index
    eng = QueryEngine(spark, path)
    assert eng._snap.deletes is not None and eng._snap.deletes.size == 0  # no tombstones left
    for qt in QUERIES:
        got = eng.top_k_pdf(qt, 15)
        assert list(got["doc_id"]) == list(before[qt]["doc_id"]), qt
        assert np.allclose(
            got["score"].to_numpy(np.float64),
            before[qt]["score"].to_numpy(np.float64),
            atol=0, rtol=0,
        ), qt

    # (b) only the affected bucket directories were rewritten
    post_docs = _file_listing(f"{path}/docs")
    post_post = _file_listing(f"{path}/postings")
    for listing_pre, listing_post in ((pre_docs, post_docs), (pre_post, post_post)):
        assert listing_pre["range_bucket=0"] != listing_post["range_bucket=0"]
        for bucket in listing_pre:
            if bucket != "range_bucket=0":
                assert listing_pre[bucket] == listing_post[bucket], bucket

    # global stats intentionally unchanged (score identity); ids sparse
    for key in ("n_docs", "avgdl", "max_doc", "segments"):
        assert meta[key] == meta_before[key]
    docs = spark.read.parquet(f"{path}/docs")
    assert docs.count() < meta["n_docs"]  # rows physically gone
    assert not fsio.exists(spark, f"{path}/deletes")
    # doomed docs physically absent from the postings too
    assert docs.where(F.col("doc_id") < 6).count() == 0
    assert (
        spark.read.option("basePath", f"{path}/postings")
        .parquet(f"{path}/postings").count()
        > 0
    )

    # the index still appends normally after a bucket compaction
    extra = generate_transcripts_pdf(0.06)
    extra = extra[extra["conv_id"].isin(sorted(extra["conv_id"].unique())[:2])]
    extra = extra.assign(conv_id=extra["conv_id"] + "-post-compact")
    meta2 = append_conversations(spark, path, spark.createDataFrame(extra), CFG)
    assert meta2["max_doc"] > meta["max_doc"]


def test_bucket_compact_ignores_mismatched_caller_cfg(spark, tmp_path):
    """Bucket geometry must come from META: a caller cfg whose
    range_size/ranges_per_batch differ from the build's (e.g. the
    DEFAULT arg) would stage survivors under different bucket ids than
    `affected` and the swap would delete live buckets it never staged
    — silent data loss."""
    from sotohp_spark.config import DEFAULT

    path = str(tmp_path / "cfgidx")
    _build_with_bucket0_deletes(spark, path)
    before = {qt: QueryEngine(spark, path).top_k_pdf(qt, 15) for qt in QUERIES}

    compact_buckets(spark, path, DEFAULT)  # span 2^17*8, not CFG's 16

    eng = QueryEngine(spark, path)
    for qt in QUERIES:
        got = eng.top_k_pdf(qt, 15)
        assert list(got["doc_id"]) == list(before[qt]["doc_id"]), qt
    assert not fsio.exists(spark, f"{path}/deletes")
    assert spark.read.parquet(f"{path}/docs").where(F.col("doc_id") < 6).count() == 0


def test_stale_bucket_marker_cannot_bite_rebuilt_index(spark, tmp_path):
    """A bucket-compact marker left by a crash must be reconciled (and
    removed) by a later rebuild — otherwise the next engine open would
    replay its empty-bucket deletions against the NEW index."""
    path = str(tmp_path / "staleidx")
    pdf, _ = _build_with_bucket0_deletes(spark, path)
    with pytest.raises(RuntimeError, match="kill-switch"):
        compact_buckets(spark, path, CFG, _fail_after="stage")
    assert fsio.exists(spark, f"{path}/_meta/pending_compact_buckets.json")

    # full rebuild over a fresh corpus (new fingerprint)
    pdf2 = generate_transcripts_pdf(0.06, seed=99)
    IndexBuilder(spark, path, CFG).build(
        spark.createDataFrame(pdf2), input_fingerprint="rebuilt"
    )
    assert not fsio.exists(spark, f"{path}/_meta/pending_compact_buckets.json")

    eng = QueryEngine(spark, path)  # open must NOT delete any bucket
    n_docs = spark.read.parquet(f"{path}/docs").count()
    assert n_docs == eng.meta["n_docs"] == len(pdf2["conv_id"].unique())
    assert eng.top_k_pdf("error retry timeout", 5).shape[0] == 5


def test_append_refuses_pre_v3_layout(spark, tmp_path):
    """Appending v3 hive docs into a flat pre-v3 docs dir would create
    the mixed-depth layout partition discovery rejects forever — the
    append must refuse up front."""
    path = str(tmp_path / "v2idx")
    pdf, _ = _build_with_bucket0_deletes(spark, path)
    b = IndexBuilder(spark, path, CFG)
    flat = spark.read.parquet(b.docs_path).drop("range_bucket").localCheckpoint()
    flat.write.mode("overwrite").parquet(b.docs_path)
    meta = b._read_meta()
    meta["schema_version"] = 2
    b._write_meta(meta)

    extra = generate_transcripts_pdf(0.03, seed=7)
    extra = extra.assign(conv_id=extra["conv_id"] + "-new")
    with pytest.raises(ValueError, match="migrate"):
        append_conversations(spark, path, spark.createDataFrame(extra), CFG)
    with pytest.raises(ValueError, match="migrate"):
        compact_buckets(spark, path, CFG)
    # the flat docs dir is still readable (nothing was half-appended)
    assert spark.read.parquet(b.docs_path).count() > 0


@pytest.mark.parametrize("crash_point", ["stage", "docs_swap"])
def test_bucket_compact_crash_recovers(spark, tmp_path, crash_point):
    path = str(tmp_path / f"bidx_{crash_point}")
    _build_with_bucket0_deletes(spark, path)
    before = {qt: QueryEngine(spark, path).top_k_pdf(qt, 15) for qt in QUERIES}

    with pytest.raises(RuntimeError, match="kill-switch"):
        compact_buckets(spark, path, CFG, _fail_after=crash_point)
    assert fsio.exists(spark, f"{path}/_meta/pending_compact_buckets.json")

    # engine open = recovery point; results identical to pre-compaction
    eng = QueryEngine(spark, path)
    for qt in QUERIES:
        got = eng.top_k_pdf(qt, 15)
        assert list(got["doc_id"]) == list(before[qt]["doc_id"]), qt
        assert np.allclose(
            got["score"].to_numpy(np.float64),
            before[qt]["score"].to_numpy(np.float64),
            atol=0, rtol=0,
        ), qt
    assert not fsio.exists(spark, f"{path}/_meta/pending_compact_buckets.json")
    assert not fsio.exists(spark, f"{path}/deletes")
    assert not fsio.exists(spark, f"{path}/_staging/compact_buckets")
    assert spark.read.parquet(f"{path}/docs").where(F.col("doc_id") < 6).count() == 0
