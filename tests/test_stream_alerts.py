"""Streaming percolator alerting (streaming/alerts.py): per-batch
alert rows equal percolate_registered over the same conversations
(the alert tokenizer IS the index tokenizer), checkpointed source
progress makes re-runs no-ops, and epoch ids ride the sink rows."""

import pytest

from sotohp_spark.config import EngineConfig
from sotohp_spark.generator import generate_transcripts_pdf
from sotohp_spark.index import IndexBuilder, QueryEngine
from sotohp_spark.streaming.alerts import (
    percolate_turns_batch,
    stream_alerts_available_now,
)

CFG = EngineConfig(range_size=8, block_size=4, ranges_per_batch=2,
                   shuffle_partitions=4)

QUERIES = [
    ("q_err", "error retry"),
    ("q_to", "timeout"),
    ("q_none", "zzqxnope"),
    ("q_dropped", "2024"),  # all tokens dropped: never registers
]


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("alerts")
    idx = str(base / "idx")
    pdf = generate_transcripts_pdf(0.05)
    turns = spark.createDataFrame(pdf)
    IndexBuilder(spark, idx, CFG).build(turns, input_fingerprint="al")
    engine = QueryEngine(spark, idx)
    n = engine.register_percolator_queries(QUERIES, name="alerts")
    assert n == 3  # the all-dropped query is not stored
    registry = f"{idx}/percolator/alerts"
    src = str(base / "turns_src")
    # conversation-aligned source files (the bounded-trigger contract)
    turns.repartition(3, "conv_id").write.parquet(src)
    return base, engine, registry, src, turns


def test_batch_percolate_matches_registered(spark, setup):
    _, engine, registry, _, turns = setup
    got = {
        (r.conv_id, r.query_id)
        for r in percolate_turns_batch(spark, turns, registry).collect()
    }
    id_map = {
        r.doc_id: r.conv_id
        for r in engine._snap.docs.select("doc_id", "conv_id").collect()
    }
    want = {
        (id_map[r.doc_id], r.query_id)
        for r in engine.percolate_registered(name="alerts").collect()
    }
    assert got == want and got
    assert not any(q == "q_none" for _, q in got)


def test_stream_alerts_end_to_end_and_idempotent(spark, setup):
    base, engine, registry, src, turns = setup
    alerts_dir = str(base / "alerts_out")
    ckpt = str(base / "ckpt")
    stream_alerts_available_now(
        spark, src, registry, alerts_dir, ckpt,
        max_files_per_trigger=1,
    )
    out = spark.read.parquet(alerts_dir)
    assert set(out.columns) == {"conv_id", "query_id", "doc_ts",
                                "epoch_id"}
    got = {(r.conv_id, r.query_id) for r in out.collect()}
    want = {
        (r.conv_id, r.query_id)
        for r in percolate_turns_batch(spark, turns, registry).collect()
    }
    assert got == want and got
    assert out.count() == len(got)  # conv-aligned files: no dup rows
    assert out.select("epoch_id").distinct().count() >= 2  # bounded
    # re-run with the same checkpoint: source drained, nothing appends
    stream_alerts_available_now(
        spark, src, registry, alerts_dir, ckpt,
        max_files_per_trigger=1,
    )
    assert spark.read.parquet(alerts_dir).count() == len(got)
