"""Offline schema migration (MediaMigrationTool analog): a v1 index
(docs without the `source` column) migrates to the current version
with full source/target parity — identical stats, docs digests, term
dfs, and probe-query ranks/scores.  Parity must also FAIL loudly on a
corrupted target."""

import json
import shutil

import pytest

from pyspark.sql import functions as F

from sotohp_spark.config import EngineConfig
from sotohp_spark.generator import transcripts_df
from sotohp_spark.index import IndexBuilder, QueryEngine, migrate_index, verify_parity
from sotohp_spark.index.build import SCHEMA_VERSION
from sotohp_spark.index.migrate import ParityError

CFG = EngineConfig(range_size=8, block_size=4, ranges_per_batch=2, shuffle_partitions=4)


@pytest.fixture(scope="module")
def v1_index(spark, tmp_path_factory):
    """Build a current index, then rewrite it into the v1 on-disk shape
    (no `source` column, no schema_version in meta)."""
    path = str(tmp_path_factory.mktemp("mig") / "v1idx")
    b = IndexBuilder(spark, path, CFG)
    b.build(transcripts_df(spark, 0.04).localCheckpoint(), input_fingerprint="m")

    # faithful v1 shape: no source column, FLAT layout (no hive
    # range_bucket partitioning — that arrived in v3)
    docs_v1 = (
        spark.read.parquet(b.docs_path)
        .drop("source", "range_bucket")
        .localCheckpoint()
    )
    docs_v1.write.mode("overwrite").parquet(b.docs_path)
    meta = b._read_meta()
    meta.pop("schema_version", None)
    b._write_meta(meta)
    return path


def test_migrate_v1_to_current_with_parity(spark, v1_index, tmp_path):
    dst = str(tmp_path / "v2idx")
    report = migrate_index(spark, v1_index, dst)
    assert report["ok"] is True
    assert report["term_df_mismatches"] == 0

    with open(f"{dst}/_meta/meta.json") as f:
        meta = json.load(f)
    assert meta["schema_version"] == SCHEMA_VERSION
    # v2 docs carry the (null) source column
    assert "source" in spark.read.parquet(f"{dst}/docs").columns

    # migrated index answers identically to the source
    q1 = QueryEngine(spark, v1_index).top_k_pdf("error retry", 10)
    q2 = QueryEngine(spark, dst).top_k_pdf("error retry", 10)
    assert q1.equals(q2)


def test_parity_detects_corruption(spark, v1_index, tmp_path):
    dst = str(tmp_path / "broken")
    migrate_index(spark, v1_index, dst)

    # corrupt the target: drop one docs row
    docs = spark.read.parquet(f"{dst}/docs")
    docs.where(F.col("doc_id") != 0).localCheckpoint().write.mode(
        "overwrite"
    ).parquet(f"{dst}/docs")
    with pytest.raises(ParityError):
        verify_parity(spark, v1_index, dst)


def test_migrate_rejects_newer_schema(spark, v1_index, tmp_path):
    newer = str(tmp_path / "newer")
    shutil.copytree(v1_index, newer)
    b = IndexBuilder(spark, newer)
    meta = b._read_meta()
    meta["schema_version"] = SCHEMA_VERSION + 1
    b._write_meta(meta)
    with pytest.raises(ValueError, match="newer"):
        migrate_index(spark, newer, str(tmp_path / "out"))


def test_migrate_carries_tombstones(spark, tmp_path):
    """Deleted conversations must stay deleted on the migrated target
    (and parity must compare the tombstone sets)."""
    from sotohp_spark.streaming.incremental import delete_conversations

    src = str(tmp_path / "delsrc")
    b = IndexBuilder(spark, src, CFG)
    b.build(transcripts_df(spark, 0.03).localCheckpoint(), input_fingerprint="d")
    engine = QueryEngine(spark, src)
    victim_doc = int(engine.top_k_pdf("error", 1)["doc_id"].iloc[0])
    victim = engine._snap.docs.where(F.col("doc_id") == victim_doc).collect()[0][
        "conv_id"
    ]
    delete_conversations(spark, src, [victim])

    dst = str(tmp_path / "deldst")
    report = migrate_index(spark, src, dst)
    assert report["ok"] is True
    assert report["deletes_digest"][0] == report["deletes_digest"][1] != (0, 0)
    assert victim_doc not in set(
        QueryEngine(spark, dst).top_k_pdf("error", 50)["doc_id"]
    )
