"""Phrase-ranked search: exact-phrase membership + BM25 relevance in
one API (QueryEngine.phrase_ranked) — the ES/Lucene ``match_phrase``
scoring analog (round-5 directive #3).

Pins:
- rank AND score identity vs the brute composition
  phrase_match_doc_ids ∩ exhaustive top_k over the same terms;
- the verify mode (texts=...) equals "regex phrase matches of the raw
  text, BM25-ranked" — with verification BEFORE the limit, so a
  superset-only candidate can never displace a true match;
- the all-dropped-token fallback (scored 0.0 full verify scan);
- a warm phrase_ranked query costs exactly as many Spark jobs as a
  warm phrase_match_doc_ids (membership + relevance share ONE
  per-range pass — ranking is not a second job).
"""

import re
import uuid

import numpy as np
import pytest

from sotohp_spark.config import EngineConfig
from sotohp_spark.generator import generate_transcripts_pdf
from sotohp_spark.index import IndexBuilder, QueryEngine
from sotohp_spark.operators.docs import materialize_documents

PHRASES = ["retry timeout", "tool call", "error retry", "search query"]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pr_idx"))
    pdf = generate_transcripts_pdf(0.05)
    turns = spark.createDataFrame(pdf)
    cfg = EngineConfig(range_size=8, block_size=4, ranges_per_batch=2,
                       shuffle_partitions=8, store_positions=True)
    IndexBuilder(spark, path, cfg).build(turns, input_fingerprint="pr")
    engine = QueryEngine(spark, path)
    texts = (
        materialize_documents(turns)
        .select("conv_id", "doc_text")
        .join(engine._snap.docs.select("doc_id", "conv_id"), "conv_id")
        .select("doc_id", engine._snap.docs.conv_id, "doc_text")
        .withColumnRenamed("doc_text", "text")
    )
    return engine, texts


@pytest.mark.parametrize("phrase", PHRASES)
def test_phrase_ranked_equals_brute_composition(built, phrase):
    engine, _ = built
    out = engine.phrase_ranked(phrase, k=10).toPandas()
    members = {
        r["doc_id"] for r in engine.phrase_match_doc_ids(phrase).collect()
    }
    full = engine.top_k(phrase, k=10**6, with_docs=False).toPandas()
    want = (
        full[full.doc_id.isin(members)]
        .sort_values(["score", "doc_id"], ascending=[False, True])
        .head(10)
    )
    assert list(out.doc_id) == list(want.doc_id)
    assert np.allclose(out.score.values, want.score.values, rtol=0, atol=0)


def test_phrase_ranked_verified_equals_regex_rank(built):
    """texts mode: membership is EXACTLY the raw-text regex matches,
    ranked by the standard scores."""
    engine, texts = built
    phrase = "retry timeout"
    out = engine.phrase_ranked(phrase, k=10, texts=texts).toPandas()
    pat = r"(^|\s)" + re.escape(phrase) + r"(\s|$)"
    tp = texts.toPandas()
    members = set(tp[tp.text.str.contains(pat, regex=True)].doc_id)
    full = engine.top_k(phrase, k=10**6, with_docs=False).toPandas()
    want = (
        full[full.doc_id.isin(members)]
        .sort_values(["score", "doc_id"], ascending=[False, True])
        .head(10)
    )
    assert list(out.doc_id) == list(want.doc_id)
    assert np.allclose(out.score.values, want.score.values, rtol=0, atol=0)


def test_phrase_ranked_all_dropped_fallback(built):
    """Every token dropped ("2024" — standalone number): no index
    evidence, so with texts the membership must come from a full
    verify scan (score 0.0), without texts it is empty."""
    engine, texts = built
    assert engine.phrase_ranked("2024", k=10).count() == 0
    out = engine.phrase_ranked("2024", k=10**6, texts=texts).toPandas()
    tp = texts.toPandas()
    pat = r"(^|\s)2024(\s|$)"
    want = set(tp[tp.text.str.contains(pat, regex=True)].doc_id)
    assert set(out.doc_id) == want
    assert (out.score == 0.0).all()


def test_phrase_ranked_one_pass(spark, built):
    """Ranking may not add jobs over plain phrase matching: the BM25
    scores come out of the SAME per-range task that proves adjacency."""
    engine, _ = built
    phrase = "retry timeout"
    # pin the DISTRIBUTED path's job parity (the property under test:
    # scores ride the same per-range pass as adjacency).  The r08
    # driver-local leg computes both eagerly with one collect job but
    # materializes the ranked result through an extra tiny sort job,
    # which is orthogonal to the one-pass property.
    prev_gate = engine.LOCAL_PATH_MAX_POSTINGS
    engine.LOCAL_PATH_MAX_POSTINGS = 0

    def jobs(fn):
        gid = uuid.uuid4().hex
        sc = spark.sparkContext
        sc.setJobGroup(gid, "probe")
        try:
            fn()
        finally:
            sc.setJobGroup("default", "")
        return len(sc.statusTracker().getJobIdsForGroup(gid))

    try:
        engine.phrase_ranked(phrase, k=10).collect()          # warm
        engine.phrase_match_doc_ids(phrase).collect()         # warm
        n_rank = jobs(lambda: engine.phrase_ranked(phrase, k=10).collect())
        n_match = jobs(lambda: engine.phrase_match_doc_ids(phrase).collect())
    finally:
        engine.LOCAL_PATH_MAX_POSTINGS = prev_gate
    assert n_rank == n_match, (n_rank, n_match)
