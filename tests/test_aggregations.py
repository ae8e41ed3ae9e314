"""ES aggregations pack (round 7): top_hits / percentiles / filters /
range+stats.  Each is checked against a driver-side brute recompute
from engine primitives that are themselves oracle-tested
(scored_matches, matching_doc_ids, the docs metadata table); the
sf0.01 DuckDB oracles (__spark_entry__) re-derive the same results
fully independently in SQL."""

import numpy as np
import pytest

from sotohp_spark.config import EngineConfig
from sotohp_spark.generator import generate_transcripts_pdf
from sotohp_spark.index import IndexBuilder, QueryEngine

CFG = EngineConfig(range_size=8, block_size=4, ranges_per_batch=2,
                   shuffle_partitions=4)


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("agg_idx"))
    pdf = generate_transcripts_pdf(0.05)
    IndexBuilder(spark, path, CFG).build(
        spark.createDataFrame(pdf), input_fingerprint="agg"
    )
    return QueryEngine(spark, path)


def _meta(engine):
    return {
        r.doc_id: r for r in engine._snap.docs.select(
            "doc_id", "conv_id", "doc_ts", "doc_len", "n_turns"
        ).collect()
    }


def test_top_hits_matches_brute(engine):
    scored = {r.doc_id: r.score
              for r in engine.scored_matches("error retry").collect()}
    meta = _meta(engine)
    by_bucket: dict = {}
    for d, s in scored.items():
        b = meta[d].doc_ts.strftime("%Y-%m")
        by_bucket.setdefault(b, []).append((d, s))
    want = {}
    for b, rows in by_bucket.items():
        rows.sort(key=lambda x: (-x[1], x[0]))
        want[b] = rows[:2]
    top = sorted(
        want, key=lambda b: (-max(s for _, s in want[b]), b)
    )[:3]
    got = engine.top_hits("error retry", k=3, size=2,
                          by="month").collect()
    assert sorted({r.bucket for r in got}) == sorted(top)
    for r in got:
        d, s = want[r.bucket][r.hit_rank - 1]
        assert r.doc_id == d and abs(r.score - s) < 1e-9
        assert r.conv_id == meta[d].conv_id
    assert all(1 <= r.hit_rank <= 2 for r in got)
    with pytest.raises(ValueError):
        engine.top_hits("error", size=0)
    with pytest.raises(ValueError):
        engine.top_hits("error", by="fortnight")


def test_top_hits_size_one_is_collapse(engine):
    hits = engine.top_hits("error retry", k=5, size=1,
                           by="day").collect()
    coll = engine.top_k_collapse("error retry", k=5, by="day").collect()
    assert {(r.bucket, r.doc_id) for r in hits} == {
        (r.collapse_key, r.doc_id) for r in coll
    }


def test_percentiles_exact_matches_numpy(engine):
    ids = [r.doc_id
           for r in engine.matching_doc_ids("error retry").collect()]
    meta = _meta(engine)
    lens = np.array([float(meta[d].doc_len) for d in ids])
    got = engine.percentiles(
        "error retry", (10.0, 50.0, 90.0)).collect()
    assert [r.percent for r in got] == [10.0, 50.0, 90.0]
    want = np.percentile(lens, [10, 50, 90])  # linear interpolation
    assert np.allclose([r.value for r in got], want, atol=1e-9)
    # approx stays within the distribution's range and near exact
    ap = engine.percentiles("error retry", (50.0,),
                            method="approx").collect()
    assert lens.min() <= ap[0].value <= lens.max()
    with pytest.raises(ValueError):
        engine.percentiles("error", percents=(120.0,))
    with pytest.raises(ValueError):
        engine.percentiles("error", field="conv_id")
    with pytest.raises(ValueError):
        engine.percentiles("error", method="tdigest")


def test_filters_agg_counts_and_empty_buckets(engine):
    got = {r.name: r.n_docs for r in engine.filters_agg({
        "er": "error retry", "to": "timeout", "zz": "zzqxnope",
    }).collect()}
    assert got["er"] == engine.matching_doc_ids("error retry").count()
    assert got["to"] == engine.matching_doc_ids("timeout").count()
    assert got["zz"] == 0
    assert set(got) == {"er", "to", "zz"}
    with pytest.raises(ValueError):
        engine.filters_agg({})


def test_range_agg_matches_brute(engine):
    ids = [r.doc_id for r in engine.matching_doc_ids("error").collect()]
    meta = _meta(engine)
    buckets = {"*-900": [], "900-1100": [], "1100-*": []}
    for d in ids:
        dl = meta[d].doc_len
        key = ("*-900" if dl < 900
               else "900-1100" if dl < 1100 else "1100-*")
        buckets[key].append(float(meta[d].n_turns))
    got = engine.range_agg("error", field="doc_len",
                           edges=(900.0, 1100.0),
                           metric="n_turns").collect()
    assert [r.bucket for r in got] == ["*-900", "900-1100", "1100-*"]
    for r in got:
        vals = buckets[r.bucket]
        assert r.n_docs == len(vals)
        if vals:
            assert r.min_m == min(vals) and r.max_m == max(vals)
            assert abs(r.avg_m - round(sum(vals) / len(vals), 6)) < 1e-6
        else:
            assert r.min_m is None
    assert sum(r.n_docs for r in got) == len(ids)
    with pytest.raises(ValueError):
        engine.range_agg("error", edges=(5.0, 5.0))
    with pytest.raises(ValueError):
        engine.range_agg("error", edges=(10.0, 2.0))
    with pytest.raises(ValueError):
        engine.range_agg("error", field="text")


def test_composite_agg_pagination(engine):
    full = engine.composite_agg(
        "error", sources=("month", "n_turns"), size=10000).collect()
    assert full
    # natural key order
    keys = [(r["month"], r["n_turns"]) for r in full]
    assert keys == sorted(keys)
    # page stitching: walking with after reproduces the full listing
    pages, after = [], None
    while True:
        page = engine.composite_agg(
            "error", sources=("month", "n_turns"), size=3,
            after=after).collect()
        if not page:
            break
        pages.extend(page)
        after = (page[-1]["month"], page[-1]["n_turns"])
    assert [(r["month"], r["n_turns"], r["n_docs"]) for r in pages] \
        == [(r["month"], r["n_turns"], r["n_docs"]) for r in full]
    # counts match brute
    ids = [r.doc_id for r in engine.matching_doc_ids("error").collect()]
    assert sum(r["n_docs"] for r in full) == len(ids)
    with pytest.raises(ValueError):
        engine.composite_agg("error", sources=("month",), after=("a", "b"))
    with pytest.raises(ValueError):
        engine.composite_agg("error", sources=("conv_id",))
    with pytest.raises(ValueError):
        engine.composite_agg("error", sources=())


def test_derivative_matches_brute(engine):
    meta = _meta(engine)
    ids = [r.doc_id for r in engine.matching_doc_ids("error").collect()]
    from collections import Counter
    hist = Counter(meta[d].doc_ts.strftime("%Y-%m") for d in ids)
    got = engine.date_histogram_derivative("error", by="month").collect()
    assert [r.bucket for r in got] == sorted(hist)
    prev = None
    for r in got:
        assert r.n_docs == hist[r.bucket]
        want = None if prev is None else hist[r.bucket] - prev
        assert r.derivative == want
        prev = hist[r.bucket]
    with pytest.raises(ValueError):
        engine.date_histogram_derivative("error", by="year")


def test_rare_terms_matches_brute(engine):
    meta_docs = {
        r.doc_id: set(r.tfs.keys())
        for r in engine._snap.docs_raw.select("doc_id", "tfs").collect()
    }
    from collections import Counter
    bg = Counter(t for terms in meta_docs.values() for t in terms)
    ids = {r.doc_id
           for r in engine.matching_doc_ids("error retry").collect()}
    fg = Counter(
        t for d in ids for t in meta_docs[d]
    )
    want = sorted(
        ((t, fg[t], bg[t]) for t in fg if bg[t] <= 2),
        key=lambda x: (x[2], x[0]),
    )[:10]
    got = [(r.term, r.fg_count, r.bg_count)
           for r in engine.rare_terms("error retry", k=10,
                                      max_doc_count=2).collect()]
    assert got == want and got
    with pytest.raises(ValueError):
        engine.rare_terms("error", max_doc_count=0)


def test_adjacency_matrix_matches_brute(engine):
    err = {r.doc_id
           for r in engine.matching_doc_ids("error retry").collect()}
    to = {r.doc_id for r in engine.matching_doc_ids("timeout").collect()}
    got = {r.key: r.n_docs for r in engine.adjacency_matrix({
        "err": "error retry", "to": "timeout", "zz": "zzqxnope",
    }).collect()}
    want = {"err": len(err), "to": len(to), "err&to": len(err & to)}
    want = {k: v for k, v in want.items() if v}
    assert got == want
    with pytest.raises(ValueError):
        engine.adjacency_matrix({})
    with pytest.raises(ValueError):
        engine.adjacency_matrix({"a&b": "error"})


def test_moving_avg_matches_brute(engine):
    meta = _meta(engine)
    ids = [r.doc_id
           for r in engine.matching_doc_ids("error retry").collect()]
    from collections import Counter
    hist = Counter(meta[d].doc_ts.strftime("%Y-%m") for d in ids)
    got = engine.date_histogram_moving_avg(
        "error retry", by="month", window=2).collect()
    buckets = sorted(hist)
    assert [r.bucket for r in got] == buckets
    for i, r in enumerate(got):
        wnd = [hist[b] for b in buckets[max(0, i - 1):i + 1]]
        assert r.n_docs == hist[r.bucket]
        assert abs(r.moving_avg - round(sum(wnd) / len(wnd), 6)) < 1e-9
    with pytest.raises(ValueError):
        engine.date_histogram_moving_avg("error", window=0)


def test_extended_stats_matches_brute(engine):
    meta = _meta(engine)
    ids = [r.doc_id
           for r in engine.matching_doc_ids("error retry").collect()]
    vals = np.array([float(meta[d].doc_len) for d in ids])
    r = engine.extended_stats("error retry", field="doc_len").collect()[0]
    assert r.n_docs == len(vals)
    assert r.min_v == vals.min() and r.max_v == vals.max()
    assert abs(r.sum_v - round(vals.sum(), 6)) < 1e-6
    assert abs(r.avg_v - round(vals.mean(), 6)) < 1e-6
    assert abs(r.variance - round(vals.var(), 6)) < 1e-4
    assert abs(r.std_dev - round(vals.std(), 6)) < 1e-4
    with pytest.raises(ValueError):
        engine.extended_stats("error", field="conv_id")


def test_histogram_matches_brute(engine):
    meta = _meta(engine)
    ids = [r.doc_id
           for r in engine.matching_doc_ids("error retry").collect()]
    from collections import Counter
    want = Counter(
        float(meta[d].doc_len // 200) * 200.0 for d in ids
    )
    got = engine.histogram_agg("error retry", field="doc_len",
                               interval=200.0).collect()
    assert {r.bucket: r.n_docs for r in got} == dict(want)
    assert [r.bucket for r in got] == sorted(want)
    with pytest.raises(ValueError):
        engine.histogram_agg("error", interval=0)


def test_doc_len_aggs_skip_docs_join(engine):
    """doc_len rides OUT OF the candidates decode (the rarest term's
    posting stream carries every survivor's dl), so doc_len-keyed
    metric aggregations read NO docs table — plan-asserted — and the
    dl values are identical to the stored doc_len column."""
    got = {r.doc_id: r.dl for r in engine.matching_doc_ids(
        "error retry", with_dl=True).collect()}
    meta = _meta(engine)
    assert got == {d: meta[d].doc_len for d in got} and got
    plan = engine.percentiles("error retry")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "/docs" not in plan
    plan2 = engine.extended_stats("error retry")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "/docs" not in plan2
    # the non-doc_len path still joins metadata (and stays correct)
    plan3 = engine.percentiles("error retry", field="n_turns") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "/docs" in plan3


def test_aggs_accept_bool_queries(engine):
    """Every aggregation runs under a composable Bool (the ES
    contract: aggs execute under ANY query).  Semantics pinned on
    NON-saturating terms: membership aggs' text form is conjunctive
    (== per-term must clauses); scored aggs' text form is disjunctive
    (== should clauses, msm=1) — and the two Bool shapes genuinely
    differ on these terms, so the identities are not vacuous."""
    from sotohp_spark.index import Bool

    # two mid-selectivity tool tokens: AND set strictly < OR set
    t1, t2 = "t0040", "t0100"
    n_and = engine.matching_doc_ids(f"{t1} {t2}").count()
    n_or = engine.top_k_bool(
        Bool(should=[t1, t2], minimum_should_match=1),
        with_docs=False, _no_cut=True).count()
    assert 0 < n_and < n_or  # non-vacuous
    b_and = Bool(must=[t1, t2])
    b_or = Bool(should=[t1, t2], minimum_should_match=1)
    # membership aggs: text == per-term must clauses
    assert {(r.facet, r.n_docs) for r in engine.facets(
        f"{t1} {t2}", by="month").collect()} == {
        (r.facet, r.n_docs) for r in engine.facets(
            b_and, by="month").collect()}
    assert engine.count(f"{t1} {t2}").collect()[0].n_matches == \
        engine.count(b_and).collect()[0].n_matches == n_and
    assert [(r.percent, r.value) for r in engine.percentiles(
        f"{t1} {t2}", (50.0,), field="n_turns").collect()] == [
        (r.percent, r.value) for r in engine.percentiles(
            b_and, (50.0,), field="n_turns").collect()]
    # scored aggs: text (disjunctive default) == should clauses
    assert [(r.bucket, r.hit_rank, r.doc_id, round(r.score, 9))
            for r in engine.top_hits(f"{t1} {t2}", k=3, size=2,
                                     by="month").collect()] == [
        (r.bucket, r.hit_rank, r.doc_id, round(r.score, 9))
        for r in engine.top_hits(b_or, k=3, size=2,
                                 by="month").collect()]
    assert [(r.collapse_key, r.doc_id, round(r.score, 9))
            for r in engine.top_k_collapse(f"{t1} {t2}", k=4,
                                           by="month").collect()] == [
        (r.collapse_key, r.doc_id, round(r.score, 9))
        for r in engine.top_k_collapse(b_or, k=4,
                                       by="month").collect()]
    # a bool-only shape (exclusion) flows through membership aggs
    excl = engine.count(Bool(must=[t1], must_not=[t2])).collect()[0]
    both = engine.count(f"{t1} {t2}").collect()[0].n_matches
    only1 = engine.count(t1).collect()[0].n_matches
    assert excl.n_matches == only1 - both > 0
