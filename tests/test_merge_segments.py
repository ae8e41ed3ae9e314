"""Segment merging (round-5 directive #2): the streaming steady state
creates one index segment per append — hundreds of small segments mean
hundreds of doc-id intervals for every time-windowed query and
append-fragmented buckets (duplicate (term, range) shards, many small
files).  `merge_segments` is the Lucene-style merge policy:

- METADATA: adjacent segments whose concatenation stays time-ordered
  coalesce (coalesce_segments) — in-order appends collapse to ONE
  segment, restoring O(1) window planning;
- PHYSICAL: buckets fragmented past a file threshold are rewritten
  bucket-locally through the compact_buckets protocol, consolidating
  shards with IDENTICAL scores (no re-densify, ids stay put).

These tests pin: the pure coalesce rules (in-order merges,
out-of-order boundaries and unknown-ts segments never merge), full
rank/score/window identity across the merge on BOTH storage legs, and
the physical consolidation (duplicate shards gone, fewer files).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sotohp_spark.config import EngineConfig
from sotohp_spark.generator import generate_transcripts_pdf
from sotohp_spark.index import IndexBuilder, QueryEngine
from sotohp_spark.streaming.incremental import (
    append_conversations,
    coalesce_segments,
    merge_segments,
)

CFG = EngineConfig(range_size=8, block_size=4, ranges_per_batch=2,
                   shuffle_partitions=4)


def _time_chunks(pdf, n_chunks):
    """Split a transcript pdf into n_chunks conversation sets in
    ascending first-turn-timestamp order (disjoint time ranges)."""
    first_ts = pdf.groupby("conv_id")["ts"].min().sort_values()
    convs = list(first_ts.index)
    size = (len(convs) + n_chunks - 1) // n_chunks
    return [
        pdf[pdf["conv_id"].isin(set(convs[i:i + size]))]
        for i in range(0, len(convs), size)
    ]


# ---------------------------------------------------------------- pure
def test_coalesce_segments_rules():
    # in-order adjacent segments merge to one
    meta = {
        "segments": [[0, 9], [10, 19], [20, 29]],
        "segment_ts": [
            ["2025-01-01 00:00:00", "2025-01-31 00:00:00"],
            ["2025-01-31 00:00:00", "2025-02-15 00:00:00"],  # tie: <= ok
            ["2025-03-01 00:00:00", "2025-03-10 00:00:00"],
        ],
    }
    assert coalesce_segments(meta) == 2
    assert meta["segments"] == [[0, 29]]
    assert meta["segment_ts"] == [["2025-01-01 00:00:00",
                                   "2025-03-10 00:00:00"]]

    # out-of-order boundary must NOT merge (ids would stop being
    # time-ordered within the merged segment)
    meta = {
        "segments": [[0, 9], [10, 19]],
        "segment_ts": [
            ["2025-02-01 00:00:00", "2025-02-28 00:00:00"],
            ["2025-01-01 00:00:00", "2025-01-15 00:00:00"],
        ],
    }
    assert coalesce_segments(meta) == 0
    assert meta["segments"] == [[0, 9], [10, 19]]

    # unknown ts bounds: no evidence, no merge — on either side
    meta = {
        "segments": [[0, 9], [10, 19], [20, 29]],
        "segment_ts": [
            ["2025-01-01 00:00:00", "2025-01-31 00:00:00"],
            None,
            ["2025-03-01 00:00:00", "2025-03-10 00:00:00"],
        ],
    }
    assert coalesce_segments(meta) == 0

    # id gaps (sparse ids after bucket compaction) still merge
    meta = {
        "segments": [[0, 9], [14, 19]],
        "segment_ts": [
            ["2025-01-01 00:00:00", "2025-01-31 00:00:00"],
            ["2025-02-01 00:00:00", "2025-02-10 00:00:00"],
        ],
    }
    assert coalesce_segments(meta) == 1
    assert meta["segments"] == [[0, 19]]


# ------------------------------------------------------------- parquet
@pytest.fixture(scope="module")
def appended(spark, tmp_path_factory):
    """Base build + 5 in-order appends -> 6 segments, fragmented
    buckets."""
    path = str(tmp_path_factory.mktemp("seg_idx"))
    pdf = generate_transcripts_pdf(0.05)
    chunks = _time_chunks(pdf, 6)
    IndexBuilder(spark, path, CFG).build(
        spark.createDataFrame(chunks[0]), input_fingerprint="base"
    )
    for c in chunks[1:]:
        append_conversations(spark, path, spark.createDataFrame(c), CFG)
    return path, pdf


def test_merge_segments_collapses_inorder_appends(spark, appended):
    import datetime

    path, pdf = appended
    eng = QueryEngine(spark, path)
    n_before = len(eng.meta["segments"])
    assert n_before == 6

    w = dict(ts_min=datetime.datetime(2025, 2, 1),
             ts_max=datetime.datetime(2025, 6, 30))
    before_top = eng.top_k_pdf("error retry timeout", 10)
    before_win = (
        eng.top_k("error retry", 10, with_docs=False, **w).toPandas()
    )
    dup_before = (
        spark.read.parquet(f"{path}/postings")
        .groupBy("term", "range_id").count()
        .where(F.col("count") > 1).count()
    )
    assert dup_before > 0  # appends really fragmented shards

    meta = merge_segments(spark, path, CFG, fragment_files=4)
    assert len(meta["segments"]) == 1  # in-order appends -> one segment
    # envelope covers the whole corpus
    lo, hi = meta["segments"][0]
    assert lo == 0 and hi == meta["max_doc"]

    eng2 = QueryEngine(spark, path)
    after_top = eng2.top_k_pdf("error retry timeout", 10)
    after_win = (
        eng2.top_k("error retry", 10, with_docs=False, **w).toPandas()
    )
    assert list(before_top["doc_id"]) == list(after_top["doc_id"])
    assert np.allclose(before_top["score"], after_top["score"],
                       rtol=0, atol=0)
    assert list(before_win["doc_id"]) == list(after_win["doc_id"])
    assert np.allclose(before_win["score"], after_win["score"],
                       rtol=0, atol=0)
    # physical consolidation: duplicate (term, range) shards are gone
    # in the rewritten (fragmented) buckets — corpus-wide none remain
    dup_after = (
        spark.read.parquet(f"{path}/postings")
        .groupBy("term", "range_id").count()
        .where(F.col("count") > 1).count()
    )
    assert dup_after < dup_before


def test_merge_segments_keeps_out_of_order_boundary(spark, tmp_path):
    """An append whose data PRECEDES the previous segment in event time
    must keep its segment boundary — merging it would break the
    within-segment time ordering window planning relies on."""
    import datetime

    path = str(tmp_path / "ooo_idx")
    pdf = generate_transcripts_pdf(0.05)
    chunks = _time_chunks(pdf, 3)
    # build with the MIDDLE of the timeline, then append the latest,
    # then the EARLIEST (out of order)
    IndexBuilder(spark, path, CFG).build(
        spark.createDataFrame(chunks[1]), input_fingerprint="base"
    )
    append_conversations(spark, path, spark.createDataFrame(chunks[2]), CFG)
    append_conversations(spark, path, spark.createDataFrame(chunks[0]), CFG)

    eng = QueryEngine(spark, path)
    w = dict(ts_min=datetime.datetime(2025, 1, 15),
             ts_max=datetime.datetime(2025, 8, 15))
    before = eng.top_k("error retry", 10, with_docs=False, **w).toPandas()

    meta = merge_segments(spark, path, CFG, fragment_files=4)
    # chunk1+chunk2 merge (in order); chunk0 appended last stays apart
    assert len(meta["segments"]) == 2

    eng2 = QueryEngine(spark, path)
    after = eng2.top_k("error retry", 10, with_docs=False, **w).toPandas()
    assert list(before["doc_id"]) == list(after["doc_id"])
    assert np.allclose(before["score"], after["score"], rtol=0, atol=0)


def test_merge_segments_with_tombstones_also_compacts(spark, tmp_path):
    """merge_segments' physical pass rides the compact_buckets
    protocol — live tombstones in a fragmented index are honored in
    the same rewrite (union of affected buckets)."""
    from sotohp_spark.streaming.incremental import delete_conversations

    path = str(tmp_path / "mixed_idx")
    pdf = generate_transcripts_pdf(0.05)
    chunks = _time_chunks(pdf, 3)
    IndexBuilder(spark, path, CFG).build(
        spark.createDataFrame(chunks[0]), input_fingerprint="base"
    )
    for c in chunks[1:]:
        append_conversations(spark, path, spark.createDataFrame(c), CFG)
    doomed_conv = sorted(pdf["conv_id"].unique())[0]
    delete_conversations(spark, path, [doomed_conv])

    eng = QueryEngine(spark, path)
    before = eng.top_k_pdf("error retry timeout", 10)
    merge_segments(spark, path, CFG, fragment_files=0)
    eng2 = QueryEngine(spark, path)
    after = eng2.top_k_pdf("error retry timeout", 10)
    assert list(before["doc_id"]) == list(after["doc_id"])
    assert np.allclose(before["score"], after["score"], rtol=0, atol=0)
    # tombstoned docs physically gone, tombstone table cleared
    assert eng2._snap.docs.where(
        F.col("conv_id") == doomed_conv
    ).count() == 0
    import os

    assert not os.path.exists(f"{path}/deletes")


# ------------------------------------------------------------- catalog
def test_merge_segments_catalog_leg(spark, tmp_path):
    import sys as _sys
    import os as _os

    _sys.path.insert(0, _os.path.dirname(_os.path.abspath(__file__)))
    from fake_catalog import FakeCatalogStore

    from sotohp_spark.index import QueryEngine
    from sotohp_spark.index.catalog_build import CatalogIndexBuilder

    fcfg = EngineConfig(range_size=16, block_size=8, ranges_per_batch=2,
                        shuffle_partitions=8)
    pdf = generate_transcripts_pdf(0.05)
    chunks = _time_chunks(pdf, 4)
    store = FakeCatalogStore(spark, str(tmp_path / "cat"), fcfg)
    cb = CatalogIndexBuilder(spark, store, fcfg)
    cb.build(spark.createDataFrame(chunks[0]), input_fingerprint="fp")
    for c in chunks[1:]:
        cb.append_conversations(spark.createDataFrame(c))
    meta = store.read_meta()
    assert len(meta["segments"]) == 4

    eng = QueryEngine(spark, store=store)
    before = eng.top_k_pdf("error retry timeout", 10)

    meta = cb.merge_segments()
    assert len(meta["segments"]) == 1
    # duplicate (term, range) shards consolidated
    dup = (
        store.read_postings().groupBy("term", "range_id").count()
        .where(F.col("count") > 1).count()
    )
    assert dup == 0

    eng2 = QueryEngine(spark, store=store)
    after = eng2.top_k_pdf("error retry timeout", 10)
    assert list(before["doc_id"]) == list(after["doc_id"])
    assert np.allclose(before["score"], after["score"], rtol=0, atol=0)


def test_auto_merge_segments_knob(spark, tmp_path):
    """cfg.auto_merge_segments: the append path coalesces time-ordered
    segment runs in metadata once the list outgrows the knob — the
    automatic half of the merge policy (physical consolidation stays
    an explicit merge_segments call)."""
    cfg = EngineConfig(range_size=8, block_size=4, ranges_per_batch=2,
                       shuffle_partitions=4, auto_merge_segments=2)
    path = str(tmp_path / "auto_idx")
    pdf = generate_transcripts_pdf(0.05)
    chunks = _time_chunks(pdf, 6)
    IndexBuilder(spark, path, cfg).build(
        spark.createDataFrame(chunks[0]), input_fingerprint="base"
    )
    counts = []
    for c in chunks[1:]:
        meta = append_conversations(spark, path, spark.createDataFrame(c),
                                    cfg)
        counts.append(len(meta["segments"]))
    # the post-append view never exceeds the knob (coalesce fires the
    # moment the list outgrows it) ...
    assert all(n <= 2 for n in counts), counts
    # ... and in-order appends DO collapse fully whenever it fires
    assert 1 in counts, counts
    # and the index still answers identically to an un-merged twin
    plain_cfg = EngineConfig(range_size=8, block_size=4,
                             ranges_per_batch=2, shuffle_partitions=4)
    twin = str(tmp_path / "twin_idx")
    IndexBuilder(spark, twin, plain_cfg).build(
        spark.createDataFrame(chunks[0]), input_fingerprint="base"
    )
    for c in chunks[1:]:
        append_conversations(spark, twin, spark.createDataFrame(c),
                             plain_cfg)
    a = QueryEngine(spark, path).top_k_pdf("error retry timeout", 10)
    b = QueryEngine(spark, twin).top_k_pdf("error retry timeout", 10)
    assert list(a["doc_id"]) == list(b["doc_id"])
    assert list(a["score"]) == list(b["score"])


def test_auto_merge_default_keeps_files_bounded(spark, tmp_path):
    """The background-merge policy is ON by default (round 7,
    auto_merge_segments=8): many small appends through the DEFAULT cfg
    must leave a bounded postings file count and a coalesced segment
    list — and stay rank-identical to a from-scratch build of the full
    corpus (the policy is maintenance, never semantics)."""
    import glob as pyglob

    pdf = generate_transcripts_pdf(0.05)
    chunks = _time_chunks(pdf, 12)
    auto_cfg = EngineConfig(range_size=8, block_size=4,
                            ranges_per_batch=2, shuffle_partitions=4,
                            auto_merge_segments=2)  # tiny threshold
    raw_cfg = EngineConfig(range_size=8, block_size=4,
                           ranges_per_batch=2, shuffle_partitions=4,
                           auto_merge_segments=None)
    assert EngineConfig().auto_merge_segments == 8  # the default is ON
    p_auto, p_raw, p_full = (str(tmp_path / n)
                             for n in ("auto", "raw", "full"))
    for path, cfg in ((p_auto, auto_cfg), (p_raw, raw_cfg)):
        IndexBuilder(spark, path, cfg).build(
            spark.createDataFrame(chunks[0]), input_fingerprint="am"
        )
        for c in chunks[1:]:
            append_conversations(spark, path, spark.createDataFrame(c),
                                 cfg)

    def files(path):
        return len(pyglob.glob(
            f"{path}/postings/range_bucket=*/*.parquet"
        ))

    # the policy visibly triggered: fewer files and fewer segments
    # than the no-policy steady state
    assert files(p_auto) < files(p_raw)
    meta_auto = QueryEngine(spark, p_auto).meta
    meta_raw = QueryEngine(spark, p_raw).meta
    assert len(meta_auto["segments"]) <= 3 < len(meta_raw["segments"])

    # semantics untouched: rank/score identity with a fresh full build
    IndexBuilder(spark, p_full, raw_cfg).build(
        spark.createDataFrame(pdf), input_fingerprint="full"
    )
    ea, ef = QueryEngine(spark, p_auto), QueryEngine(spark, p_full)
    for qt in ["error retry timeout", "search query", "tool call"]:
        a = ea.top_k(qt, 10, with_docs=False).collect()
        b = ef.top_k(qt, 10, with_docs=False).collect()
        assert sorted(round(r["score"], 9) for r in a) == sorted(
            round(r["score"], 9) for r in b
        ), qt


def test_top_k_recent_many_segments_join_path(spark, appended):
    """top_k_recent's segment tagging: past 16 segments the literal
    CASE chain becomes a broadcast (seg, lo, hi) bounds join (plan
    size O(1) instead of a per-query expression tree growing with the
    segment count).  Splitting the real segments into finer contiguous
    intervals is semantics-preserving (per-interval top-k then global
    sort), so the join path must return exactly the CASE-chain rows."""
    path, _ = appended
    engine = QueryEngine(spark, path)
    base = [(r.doc_id, r.conv_id, r.doc_ts) for r in
            engine.top_k_recent("error retry", k=7).collect()]
    assert base
    segs = [list(map(int, s)) for s in
            (engine.meta.get("segments")
             or [[0, engine.meta["max_doc"]]])]
    fine = []
    for lo, hi in segs:
        mid = (lo + hi) // 2
        if mid > lo and mid + 1 <= hi and len(fine) < 30:
            fine.append([lo, mid])
            fine.append([mid + 1, hi])
        else:
            fine.append([lo, hi])
    while len(fine) <= 16:  # force the join path
        lo, hi = fine[-1]
        if hi > lo:
            fine[-1] = [lo, hi - 1]
            fine.append([hi, hi])
        else:
            fine.append([hi + 1, hi])  # empty interval, harmless
    engine.meta["segments"] = fine
    got = [(r.doc_id, r.conv_id, r.doc_ts) for r in
           engine.top_k_recent("error retry", k=7).collect()]
    assert got == base
