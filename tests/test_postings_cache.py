"""Selective postings cache (the serving-tier hot set).

`cache_postings(top_terms=N)` pins only the N highest-df terms (the
Zipf head that dominates warm p95 — BENCH/p95_sf400.md) and routes
scoring driver-side: hot query terms read the InMemoryRelation, cold
terms read parquet with an IN-list of ONLY the cold terms.  These
tests pin

- rank identity vs an uncached engine over the full reference query
  set (queries mix hot and cold terms, both WAND and conjunctive);
- the plan: a hot-term query scans the in-memory relation, a
  cold-term query does NOT, and a mixed query does both with the
  parquet side's IN-list free of hot terms;
- the default (top_terms=None) cache never pins the positional
  payload on a store_positions index (BM25-only serving must not pay
  phrase memory) — the round-5 ADVICE item;
- the hot/cold union adds ZERO Spark jobs to a warm query on either
  scoring path (driver-local stays the pinned 1 job; distributed
  stays at uncached parity — the union lives inside the same action);
- the driver tiers of the default cache (shard rows, then docs
  metadata within the same byte budget): identical rows and schema to
  a budget-gated engine, zero Spark jobs for a warm ``with_docs``
  top-k, and the budget and re-pin switching the docs tier off.

Reference analog: Lucene/ES hot-segment + filter caching on the
search tier the reference delegates to (ElasticOperations.scala).
"""

import uuid

import pandas as pd
import pytest

from sotohp_spark.config import EngineConfig
from sotohp_spark.generator import generate_transcripts_pdf, reference_queries
from sotohp_spark.index import IndexBuilder, QueryEngine
from sotohp_spark.index.query import Bool


def _jobs_during(spark, fn):
    gid = uuid.uuid4().hex
    sc = spark.sparkContext
    sc.setJobGroup(gid, "job-count probe")
    try:
        fn()
    finally:
        sc.setJobGroup("default", "")
    return len(sc.statusTracker().getJobIdsForGroup(gid))


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("cache_idx"))
    pdf = generate_transcripts_pdf(0.05)
    cfg = EngineConfig(range_size=8, block_size=4, ranges_per_batch=2,
                       shuffle_partitions=8)
    IndexBuilder(spark, path, cfg).build(
        spark.createDataFrame(pdf), input_fingerprint="cache-test"
    )
    return path


def test_selective_cache_rank_identity(spark, built):
    plain = QueryEngine(spark, built)
    hot = QueryEngine(spark, built)
    n = hot.cache_postings(top_terms=5)
    assert n > 0
    assert hot._snap.hot_terms is not None and len(hot._snap.hot_terms) == 5
    for q in reference_queries():
        for conj in (False, True):
            a = plain.top_k_pdf(q, 10, conj)
            b = hot.top_k_pdf(q, 10, conj)
            assert list(a["doc_id"]) == list(b["doc_id"]), (q, conj)
            assert list(a["score"]) == pytest.approx(list(b["score"]))


def test_selective_cache_plan_routing(spark, built):
    eng = QueryEngine(spark, built)
    eng.cache_postings(top_terms=3)
    hot_term = next(iter(eng._snap.hot_terms))
    # a cold term: present in the corpus, not in the hot set
    cold_term = next(
        r["term"]
        for r in eng._snap.term_stats.orderBy("df").limit(50).collect()
        if r["term"] not in eng._snap.hot_terms
    )

    hot_plan = eng._scoring_shards([hot_term])._jdf.queryExecution() \
        .executedPlan().toString()
    assert "InMemoryTableScan" in hot_plan

    cold_plan = eng._scoring_shards([cold_term])._jdf.queryExecution() \
        .executedPlan().toString()
    assert "InMemoryTableScan" not in cold_plan

    mixed_plan = eng._scoring_shards([hot_term, cold_term])._jdf \
        .queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in mixed_plan
    # the parquet side of the union (the live cold scan — NOT the scan
    # recorded inside the InMemoryRelation's build plan) must push ONLY
    # the cold term: the hot term may not leak into the cold scan, and
    # there is no NOT-IN pollution — the split is driver-side exact
    import re
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", mixed_plan)
    cold_scans = [p for p in pushed if cold_term in p]
    assert cold_scans, mixed_plan
    for p in cold_scans:
        assert hot_term not in p


def test_selective_cache_adds_no_jobs(spark, built):
    """The hot/cold union must not change the warm query's job count
    on EITHER scoring path: the union lives inside the same action.
    Local fast path stays the pinned 1 job; the distributed path costs
    exactly what it costs uncached (AQE stages, cache-independent)."""
    q = "error retry timeout"  # mixes hot and cold terms at sf0.05

    def probe(engine):
        engine.preload_term_stats()
        engine.top_k(q, k=10, with_docs=False).collect()  # warm up
        return _jobs_during(
            spark, lambda: engine.top_k(q, k=10, with_docs=False).collect()
        )

    plain = QueryEngine(spark, built)
    hot = QueryEngine(spark, built)
    hot.cache_postings(top_terms=5)
    assert probe(hot) == probe(plain) == 1  # driver-local fast path

    plain_d = QueryEngine(spark, built)
    plain_d.LOCAL_PATH_MAX_POSTINGS = 0
    hot_d = QueryEngine(spark, built)
    hot_d.cache_postings(top_terms=5)
    hot_d.LOCAL_PATH_MAX_POSTINGS = 0
    assert probe(hot_d) == probe(plain_d)  # distributed path parity


def test_default_cache_excludes_positions(spark, tmp_path):
    """On a store_positions index the default cache must pin the
    POSITIONLESS projection only (round-5 ADVICE: the full-frame cache
    roughly doubled executor memory for BM25-only workloads)."""
    path = str(tmp_path / "pos_idx")
    pdf = generate_transcripts_pdf(0.02)
    cfg = EngineConfig(range_size=8, block_size=4, ranges_per_batch=2,
                       shuffle_partitions=4, store_positions=True)
    IndexBuilder(spark, path, cfg).build(
        spark.createDataFrame(pdf), input_fingerprint="pos-cache"
    )
    eng = QueryEngine(spark, path)
    assert eng.meta.get("positions")
    eng.cache_postings()
    assert "pos_payload" not in eng._snap.postings_hot.columns
    assert "pos_offsets" not in eng._snap.postings_hot.columns
    # phrase paths still work: they read the uncached full frame
    out = eng.phrase_match_doc_ids("error retry").count()
    assert out >= 0


def test_encode_shard_rejects_anchor_overflow():
    """positional_phrase_match packs anchors into _POS_SHIFT bits; a
    position past that must fail LOUDLY at build time (round-5 ADVICE:
    it used to be dropped silently at query time, violating the
    documented superset property)."""
    import numpy as np

    from sotohp_spark.config import DEFAULT
    from sotohp_spark.operators.postings import _POS_SHIFT, encode_shard

    doc_ids = np.array([0, 1], dtype=np.int64)
    tfs = np.array([1, 1], dtype=np.int64)
    dls = np.array([3, 3], dtype=np.int64)
    ok_pos = [np.array([0]), np.array([(1 << _POS_SHIFT) - 1])]
    encode_shard(doc_ids, tfs, dls, 3.0, DEFAULT, positions=ok_pos)  # fine
    bad_pos = [np.array([0]), np.array([1 << _POS_SHIFT])]
    with pytest.raises(ValueError, match="positional postings"):
        encode_shard(doc_ids, tfs, dls, 3.0, DEFAULT, positions=bad_pos)


def test_driver_tier_budget_gate_and_identity(spark, built):
    """The r08 driver-tier postings cache must (a) stay OFF when the
    payload budget says the index is too big — queries then keep the
    one-collect local path — and (b) when ON, return rank-identical
    results.  This pins the two-tier behavior the 100 TB story relies
    on: the budget, not the cluster size, picks the tier."""
    gated = QueryEngine(spark, built)
    gated.preload_term_stats()
    gated.DRIVER_POSTINGS_CACHE_MAX_BYTES = 0
    gated.cache_postings()
    assert gated._snap.driver_shards is None

    cached = QueryEngine(spark, built)
    cached.preload_term_stats()
    cached.cache_postings()
    assert cached._snap.driver_shards is not None

    for q in reference_queries()[:12]:
        a = gated.top_k_pdf(q, 10)
        b = cached.top_k_pdf(q, 10)
        assert list(a["doc_id"]) == list(b["doc_id"]), q
        assert list(a["score"]) == list(b["score"]), q


CFG = EngineConfig(range_size=8, block_size=4, ranges_per_batch=2,
                   shuffle_partitions=8)


@pytest.fixture(scope="module")
def churned(spark, tmp_path_factory):
    """An index after one append and one delete: the docs table holds
    rows past the build and tombstoned rows the scorer never returns."""
    from sotohp_spark.streaming.incremental import (append_conversations,
                                                    delete_conversations)

    path = str(tmp_path_factory.mktemp("docs_tier_idx"))
    pdf = generate_transcripts_pdf(0.05)
    IndexBuilder(spark, path, CFG).build(
        spark.createDataFrame(pdf), input_fingerprint="docs-tier"
    )
    new = generate_transcripts_pdf(0.01, seed=7)
    new["conv_id"] = "app-" + new["conv_id"]
    new["ts"] = new["ts"] + pd.Timedelta(days=120)
    append_conversations(spark, path, spark.createDataFrame(new), CFG)
    delete_conversations(
        spark, path, list(pdf["conv_id"].drop_duplicates()[:3])
    )
    return path


def _pinned(spark, path, budget=None):
    eng = QueryEngine(spark, path)
    eng.preload_term_stats()
    if budget is not None:
        eng.DRIVER_POSTINGS_CACHE_MAX_BYTES = budget
    eng.cache_postings()
    return eng


def _same_hits(a, b, what):
    assert a.schema == b.schema, what
    assert a.collect() == b.collect(), what


def test_driver_docs_tier_identity(spark, churned):
    """Hits built on the driver from the docs tier equal the Spark docs
    join row for row — all six columns, doc_ts included — with the
    same schema, across every local-leg surface that attaches docs."""
    gated = _pinned(spark, churned, budget=0)
    assert gated._snap.driver_shards is None
    tiered = _pinned(spark, churned)
    assert tiered._snap.driver_shards is not None

    calls = [
        (q, lambda e, q=q, c=c: e.top_k(q, 10, c))
        for q in reference_queries()["query_text"]
        for c in (False, True)
    ]
    calls += [
        ("bool", lambda e: e.top_k_bool(
            Bool(must=["error"], should=["retry timeout"],
                 must_not=["spark"]), 10)),
        ("window", lambda e: e.top_k(
            "error retry", 10, ts_min="2025-02-01", ts_max="2025-06-30")),
        ("multi_match", lambda e: e.top_k_multi_match(
            "error retry timeout", k=10)),
    ]
    for what, call in calls:
        _same_hits(call(gated), call(tiered), what)
    assert tiered._snap.memo.driver_docs is not None  # the tier served them

    page = tiered.top_k("error retry", 5).collect()
    cursor = (page[-1]["score"], page[-1]["doc_id"])
    _same_hits(gated.top_k("error retry", 5, search_after=cursor),
               tiered.top_k("error retry", 5, search_after=cursor),
               "search_after")

    # doc_ts keeps its instant when the session zone is not UTC
    zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        for q in ("error", "retry timeout", "tool call"):
            _same_hits(gated.top_k(q, 10), tiered.top_k(q, 10), q)
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)


def test_driver_docs_tier_jobs_and_budget(spark, churned):
    """A warm pinned with_docs top-k runs zero Spark jobs; the docs
    tier fills lazily (never from cache_postings or a with_docs=False
    query), stays off when the budget fits only the shard rows, and a
    re-pin drops it."""
    q = "error retry timeout"
    tiered = _pinned(spark, churned)
    tiered.top_k(q, 10, with_docs=False).collect()
    assert tiered._snap.memo.driver_docs is None
    want = tiered.top_k(q, 10)
    assert tiered._snap.memo.driver_docs is not None
    assert _jobs_during(spark, lambda: tiered.top_k(q, 10).collect()) == 0
    # inner-join semantics: an id the docs table lacks is dropped
    import numpy as np

    top = want.collect()[0]
    absent = int(tiered._snap.memo.driver_docs["doc_id"].max()) + 1
    got = tiered._local_hits(
        [np.array([absent, top["doc_id"]])], [np.array([9.0, top["score"]])],
        10, True,
    ).collect()
    assert got == [top]

    payload = sum(
        len(r["payload"] or b"")
        for rows in tiered._snap.driver_shards.values() for r in rows
    )
    tight = _pinned(spark, churned, budget=payload)
    assert tight._snap.driver_shards is not None
    _same_hits(tight.top_k(q, 10), want, "shard tier only")
    assert tight._snap.memo.driver_docs is None
    assert _jobs_during(spark, lambda: tight.top_k(q, 10).collect()) > 0

    tiered.cache_postings()
    assert tiered._snap.memo.driver_docs is None
    _same_hits(tiered.top_k(q, 10), want, "re-pinned")
    assert tiered._snap.memo.driver_docs is not None

    unpinned = QueryEngine(spark, churned)
    _same_hits(unpinned.top_k(q, 10), want, "unpinned")
    assert unpinned._snap.memo.driver_docs is None


def test_driver_docs_tier_concurrent_first_fill(spark, churned):
    """Client threads racing on a freshly pinned engine: one holds the
    local gate and fills the docs tier, the others take the
    distributed path and its Spark join.  Every thread's rows must
    equal the serial answer, and the tier must end filled once."""
    import sys
    import threading

    queries = ["error retry", "tool call", "timeout", "search file"]
    serial = _pinned(spark, churned)
    want = {q: serial.top_k(q, 10).collect() for q in queries}
    eng = _pinned(spark, churned)
    got, errors = {}, []

    def client(q):
        try:
            got[q] = eng.top_k(q, 10).collect()
        except Exception as e:  # reported below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=client, args=(q,))
                   for q in queries]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert got == want
    assert eng._snap.memo.driver_docs is not None
    assert eng._snap.memo.driver_docs_room is None


def test_route_identity_across_legs(spark, churned):
    """One executor, every leg: a pinned engine (driver-tier rows), a
    budget-0 engine (one collect per query), a distributed-only engine
    (LOCAL_PATH_MAX_POSTINGS = 0) and a cogroup engine (deletes kept
    distributed) return the same schema and rows on every surface the
    executor serves — sorted for the set surfaces.  ``churned`` has no
    extra fields, so multi_match runs its three types over "text";
    the field-tagged cases are covered in test_multifield."""
    pinned = _pinned(spark, churned)
    assert pinned._snap.driver_shards is not None
    collected = _pinned(spark, churned, budget=0)
    assert collected._snap.driver_shards is None
    dist = QueryEngine(spark, churned)
    dist.preload_term_stats()
    dist.LOCAL_PATH_MAX_POSTINGS = 0
    cogroup = QueryEngine(spark, churned, max_driver_deletes=0)
    cogroup.preload_term_stats()
    assert cogroup._snap.deletes is None

    q = "error retry timeout"
    sets = {
        "scored_matches": lambda e: e.scored_matches(q),
        "scored_matches conjunctive": lambda e: e.scored_matches(
            "error retry", conjunctive=True),
        "matching_doc_ids": lambda e: e.matching_doc_ids("error retry"),
        "matching_doc_ids with_dl": lambda e: e.matching_doc_ids(
            "error retry", with_dl=True),
        "bool _no_cut": lambda e: e.top_k_bool(
            Bool(must=["error"], should=["retry timeout"]),
            with_docs=False, _no_cut=True),
    }
    ranked = {
        "conjunctive": lambda e: e.top_k("error retry", 10, True),
        "must_not": lambda e: e.top_k(q, 10, must_not="spark"),
        "min_should_match": lambda e: e.top_k(q, 10, min_should_match=2),
    }
    for mt in ("best_fields", "cross_fields", "most_fields"):
        ranked[mt] = lambda e, mt=mt: e.top_k_multi_match(
            q, ["text"], k=10, match_type=mt)
    for what, call in {**sets, **ranked}.items():
        want = call(pinned)
        rows = want.collect()
        assert rows, what
        if what in sets:
            rows = sorted(rows)
        for eng in (collected, dist, cogroup):
            got = call(eng)
            assert got.schema == want.schema, what
            got_rows = got.collect()
            assert (sorted(got_rows) if what in sets else got_rows) \
                == rows, what


def test_pinned_no_cut_bool_runs_no_job(spark, churned):
    """The _no_cut form of top_k_bool (query_string phrase
    composition) takes the same local leg as top_k: on a pinned engine
    a warm call reads the driver-tier rows and runs no Spark job."""
    eng = _pinned(spark, churned)
    q = Bool(must=["error", "retry"])

    def run():
        return eng.top_k_bool(q, with_docs=False, _no_cut=True).collect()

    assert run()
    assert _jobs_during(spark, run) == 0
