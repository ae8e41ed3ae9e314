"""query_string (ES simple_query_string grammar): parser goldens and
engine equivalences — every syntax element compiles onto machinery
that is already rank-identity-tested (Bool / wildcard expansion /
positional phrase match), so these tests pin the COMPILATION, not the
scoring.  Reference: the free-text queries the reference's UI sends
to its search tier (ElasticOperations.scala:32-76)."""

import pytest

from sotohp_spark.config import EngineConfig
from sotohp_spark.generator import generate_transcripts_pdf
from sotohp_spark.index import (
    Bool,
    IndexBuilder,
    QueryEngine,
    QueryStringError,
    parse_query_string,
)
from sotohp_spark.operators.docs import materialize_documents

CFG = EngineConfig(range_size=8, block_size=4, ranges_per_batch=2,
                   shuffle_partitions=4, store_positions=True,
                   extra_fields=("tool", "role"))


# ---------------------------------------------------------------- parser

def test_parse_occurs_and_words():
    items = parse_query_string("+error +retry -browser timeout")
    assert [(i.occur, i.words) for i in items] == [
        ("must", ("error",)), ("must", ("retry",)),
        ("must_not", ("browser",)), ("should", ("timeout",)),
    ]


def test_parse_default_operator_and():
    items = parse_query_string("error retry", default_operator="and")
    assert all(i.occur == "must" for i in items)
    with pytest.raises(ValueError):
        parse_query_string("error", default_operator="not-an-op")


def test_parse_field_boost_prefix():
    (item,) = parse_query_string("tool:search^2.5")
    assert item.field == "tool" and item.boost == 2.5
    assert item.words == ("search",)
    (item,) = parse_query_string("time*")
    assert item.prefixes == ("time",) and item.words == ()


def test_parse_phrase_and_group():
    items = parse_query_string('+"error retry" (alpha | beta)^3')
    assert items[0].occur == "must" and items[0].phrase == "error retry"
    assert items[1].words == ("alpha", "beta") and items[1].boost == 3.0


def test_parse_pipe_joins_atoms():
    (item,) = parse_query_string("a | b | c*")
    assert item.words == ("a", "b") and item.prefixes == ("c",)
    # field on the first atom scopes the group; conflicting fields err
    (item,) = parse_query_string("tool:a | b")
    assert item.field == "tool"
    with pytest.raises(QueryStringError):
        parse_query_string("tool:a | role:b")


@pytest.mark.parametrize("bad", [
    "", "   ", "-only -neg", "a^", '"unclosed', "(a b", "mi*d",
    "a | +b", '(a "q")', "f:(a)^0", "+ a", "a ^2", "a |",
])
def test_parse_errors(bad):
    with pytest.raises((QueryStringError, ValueError)):
        parse_query_string(bad)


# ---------------------------------------------------------------- engine

@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("qs_idx"))
    pdf = generate_transcripts_pdf(0.05)
    turns = spark.createDataFrame(pdf)
    IndexBuilder(spark, path, CFG).build(turns, input_fingerprint="qs")
    engine = QueryEngine(spark, path)
    texts = (
        materialize_documents(turns)
        .select("conv_id", "doc_text")
        .join(engine._snap.docs.select("doc_id", "conv_id"), "conv_id")
        .select("doc_id", engine._snap.docs.conv_id, "doc_text")
        .withColumnRenamed("doc_text", "text")
    )
    return engine, texts


def _rows(df):
    return [(r.doc_id, round(r.score, 9)) for r in df.collect()]


def test_qs_equals_bool(built):
    engine, _ = built
    got = _rows(engine.top_k_query_string(
        "+error +retry -browser search^2", k=8, with_docs=False))
    want = _rows(engine.top_k_bool(Bool(
        must=["error", "retry"], should=[("search", 2.0)],
        must_not=["browser"]), k=8, with_docs=False))
    assert got == want and got


def test_qs_default_operators(built):
    engine, _ = built
    via_and = _rows(engine.top_k_query_string(
        "error retry", k=8, with_docs=False, default_operator="and"))
    assert via_and == _rows(engine.top_k_bool(
        Bool(must=["error", "retry"]), k=8, with_docs=False))
    via_or = _rows(engine.top_k_query_string(
        "error retry", k=8, with_docs=False))
    assert via_or == _rows(engine.top_k_bool(
        Bool(should=["error", "retry"]), k=8, with_docs=False))
    assert via_and and via_or


def test_qs_group_is_one_clause(built):
    engine, _ = built
    got = _rows(engine.top_k_query_string(
        "+(error | timeout) -browser", k=8, with_docs=False))
    want = _rows(engine.top_k_bool(Bool(
        must=["error timeout"], must_not=["browser"]),
        k=8, with_docs=False))
    assert got == want and got


def test_qs_prefix_expands_with_own_idf(built):
    engine, _ = built
    exps = [t for t, _ in engine.wildcard_expand("retr*", 50, order="df")]
    assert exps
    got = _rows(engine.top_k_query_string("+retr*", k=8, with_docs=False))
    want = _rows(engine.top_k_bool(Bool(
        must=[{"terms": {t: 1.0 for t in exps}}]), k=8, with_docs=False))
    assert got == want and got
    # a required prefix with no expansions matches nothing
    assert _rows(engine.top_k_query_string(
        "+zzzqx*", k=8, with_docs=False)) == []
    # an optional one just drops
    assert _rows(engine.top_k_query_string(
        "error zzzqx*", k=8, with_docs=False)) == _rows(
        engine.top_k_query_string("error", k=8, with_docs=False))


def test_qs_field_scoped_item(built):
    engine, _ = built
    got = _rows(engine.top_k_query_string(
        "+tool:search error", k=8, with_docs=False))
    want = _rows(engine.top_k_bool(Bool(
        must=[{"text": "search", "fields": ["tool"]}],
        should=["error"]), k=8, with_docs=False))
    assert got == want and got
    with pytest.raises(ValueError):
        engine.top_k_query_string("+nosuchfield:x error", k=3)


def test_qs_field_scoped_prefix(built):
    engine, _ = built
    exps = [t for t, _ in engine.wildcard_expand("sea*", 50, order="df")]
    assert exps  # raw dictionary holds matching tool terms too
    got = _rows(engine.top_k_query_string(
        "+tool:sea*", k=8, with_docs=False))
    # expansions resolved in the tool key space, re-tagged per clause
    from sotohp_spark.index.build import FIELD_SEP
    tool_exps = [
        t[len("tool") + 1:]
        for t, _ in engine.wildcard_expand("tool" + FIELD_SEP + "sea*", 50)
    ]
    assert tool_exps
    want = _rows(engine.top_k_bool(Bool(
        must=[{"terms": {t: 1.0 for t in tool_exps},
               "fields": ["tool"]}]), k=8, with_docs=False))
    assert got == want and got


def test_qs_phrase_must(built):
    engine, texts = built
    got = _rows(engine.top_k_query_string(
        '+"error retry" timeout', k=8, with_docs=False))
    ids = engine.phrase_match_doc_ids("error retry")
    import pyspark.sql.functions as F
    full = engine.top_k_bool(Bool(
        must=[{"terms": {"error": 1.0}}, {"terms": {"retry": 1.0}}],
        should=["timeout"]), k=8, with_docs=False, _no_cut=True)
    want = _rows(full.join(ids, "doc_id", "left_semi").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()).limit(8))
    assert got == want and got
    # verify mode: membership == raw-text regex matches
    verified = _rows(engine.top_k_query_string(
        '+"error retry" timeout', k=8, with_docs=False, texts=texts))
    member = {
        r.doc_id
        for r in engine.phrase_search("error retry", texts).collect()
    }
    assert {d for d, _ in verified} <= member


def test_qs_phrase_must_not(built):
    engine, _ = built
    got = {d for d, _ in _rows(engine.top_k_query_string(
        'error -"search query"', k=50, with_docs=False))}
    excluded = {
        r.doc_id
        for r in engine.phrase_match_doc_ids("search query").collect()
    }
    assert excluded and not (got & excluded)
    # docs merely CONTAINING both words (non-adjacent) stay in
    containing = {
        r.doc_id for r in engine.matching_doc_ids(
            "search query").collect()
    }
    assert (got & (containing - excluded))


def test_qs_bare_phrase_promotion(built):
    engine, _ = built
    a = _rows(engine.top_k_query_string(
        '"error retry"', k=8, with_docs=False))
    b = _rows(engine.top_k_query_string(
        '+"error retry"', k=8, with_docs=False))
    assert a == b and a
    with pytest.raises(ValueError, match="optional"):
        engine.top_k_query_string('"error retry" timeout', k=8)
    with pytest.raises(ValueError, match="text stream"):
        engine.top_k_query_string('+tool:"a b"', k=8)


def test_qs_single_job_without_phrases(built):
    """The no-phrase path is EXACTLY top_k_bool: one pruned job warm."""
    engine, _ = built
    engine.top_k_query_string("+error retry^2", k=5,
                              with_docs=False).collect()  # warm
    sc = engine.spark.sparkContext
    t = sc.statusTracker()
    before = max(t.getJobIdsForGroup() or [0])
    engine.top_k_query_string("+error retry^2", k=5,
                              with_docs=False).collect()
    after = max(t.getJobIdsForGroup() or [0])
    assert after - before <= 1


def test_qs_unknown_field_raises_uniformly(built):
    engine, _ = built
    with pytest.raises(ValueError, match="not indexed"):
        engine.top_k_query_string("+bogus:x error", k=3)
    with pytest.raises(ValueError, match="not indexed"):
        engine.top_k_query_string("+bogus:pre* error", k=3)
    with pytest.raises(ValueError, match="not indexed"):
        engine.top_k_query_string("error -bogus:x", k=3)


def test_query_string_bool_feeds_aggregations(built):
    """query_string_bool: the phrase-free grammar compiles to a Bool
    any aggregation consumes; retrieval through the compiled Bool is
    rank-identical to top_k_query_string; unmatchable queries compile
    to an empty-yielding Bool instead of special-casing."""
    engine, _ = built
    qs = "+error +(retry | timeout) -browser search^2"
    q = engine.query_string_bool(qs)
    assert _rows(engine.top_k_bool(q, k=8, with_docs=False)) == _rows(
        engine.top_k_query_string(qs, k=8, with_docs=False))
    # aggregations under the compiled query
    n = engine.count(q).collect()[0].n_matches
    assert n == engine.matching_doc_ids("error retry").count() > 0
    facets = engine.facets(q, by="month").collect()
    assert sum(r.n_docs for r in facets) == n
    # unmatchable shapes yield EMPTY everywhere, no exceptions
    for bad in ("+zzzqx*", "+2024"):
        qb = engine.query_string_bool(bad)
        assert engine.count(qb).collect()[0].n_matches == 0
        assert engine.top_k_bool(qb, k=5, with_docs=False).count() == 0
        assert engine.facets(qb, by="month").count() == 0
    # phrases are the retrieval path's job
    with pytest.raises(QueryStringError):
        engine.query_string_bool('+"error retry"')


def test_qs_search_after_pagination(built):
    """Deep pagination through a term/prefix query string: pages
    stitch to the full ranking exactly; the phrase path rejects a
    cursor (membership is refined after scoring)."""
    engine, _ = built
    qs = "+error retry^2 ti*"
    full = engine.top_k_query_string(qs, k=50, with_docs=False).collect()
    assert full
    pages, cursor = [], None
    while True:
        page = engine.top_k_query_string(
            qs, k=7, with_docs=False, search_after=cursor).collect()
        if not page:
            break
        pages.extend(page)
        cursor = (page[-1]["score"], page[-1]["doc_id"])
    assert [(r.doc_id, r.score) for r in pages] == [
        (r.doc_id, r.score) for r in full]
    with pytest.raises(ValueError, match="search_after"):
        engine.top_k_query_string(
            '+"error retry"', k=5, search_after=(1.0, 0))


def test_validate_query_string(built):
    """_validate/query diagnostics: parse errors surface as
    valid=False, analyzed terms carry dfs, prefix expansions listed,
    and matchable flags provably-empty required items — consistent
    with what the search actually returns."""
    engine, _ = built
    v = engine.validate_query_string("+error +(retry | timeout) ti*")
    assert v["valid"] and v["matchable"]
    by_occur = {}
    for i in v["items"]:
        by_occur.setdefault(i["occur"], []).append(i)
    assert len(by_occur["must"]) == 2
    assert all(df > 0 for i in by_occur["must"]
               for _t, df in i["terms"])
    (pref,) = by_occur["should"]
    assert pref["expansions"] and all(df > 0 for _t, df
                                      in pref["expansions"])
    # unmatchable cases agree with execution
    for bad in ("+zzqxnope error", "+zzzqx*", "+2024"):
        d = engine.validate_query_string(bad)
        assert d["valid"] and not d["matchable"], bad
        assert engine.top_k_query_string(
            bad, k=3, with_docs=False).count() == 0
    # parse errors
    e = engine.validate_query_string('"unclosed')
    assert not e["valid"] and "quote" in e["error"]
    # phrase diagnostics
    ph = engine.validate_query_string('+"error retry"')
    assert ph["matchable"] and ph["items"][0]["phrase"] == "error retry"
    ph2 = engine.validate_query_string('+"error zzqxnope"')
    assert not ph2["matchable"]


def test_qs_query_level_fields_carry_and_expand(built):
    """Review fixes: a query-level fields set (a) rides the Bool that
    query_string_bool returns (per-clause fields), so aggregations
    match field-scoped docs without re-passing fields; (b) expands
    bare prefixes in EVERY field's key space; (c) validates unknown
    names exactly as execution does."""
    engine, _ = built
    MF = [("text", 1.0), ("tool", 2.0)]
    # (a) bridge carries fields: retrieval via the returned Bool alone
    # equals top_k_query_string(fields=...)
    qs = "+search error"
    q = engine.query_string_bool(qs, fields=MF)
    assert _rows(engine.top_k_bool(q, k=8, with_docs=False)) == _rows(
        engine.top_k_query_string(qs, k=8, with_docs=False, fields=MF))
    # membership through an aggregation sees tool-field matches
    n_plain = engine.count(engine.query_string_bool("+search")) \
        .collect()[0].n_matches
    n_fields = engine.count(
        engine.query_string_bool("+search", fields=MF)
    ).collect()[0].n_matches
    assert n_fields >= n_plain
    # (b) a bare prefix expands in the tool key space too
    from sotohp_spark.index.build import FIELD_SEP
    tool_exps = engine.wildcard_expand("tool" + FIELD_SEP + "sea*", 50)
    assert tool_exps
    got = _rows(engine.top_k_query_string(
        "+sea*", k=8, with_docs=False, fields=MF))
    assert got  # matches exist via the tool field expansion
    # (c) unknown query-level field: execution raises, validate agrees
    with pytest.raises(ValueError, match="not indexed"):
        engine.top_k_query_string("error", k=3, fields=["bogus"])
    d = engine.validate_query_string("error", fields=["bogus"])
    assert not d["valid"] and "bogus" in d["error"]
    # field-scoped diagnostics use the TAGGED dictionary
    v = engine.validate_query_string("+tool:search")
    (item,) = v["items"]
    assert all(df > 0 for _t, df in item["terms"])
    assert v["matchable"]
