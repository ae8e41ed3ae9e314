"""Composable ES bool query (QueryEngine.top_k_bool): must + should +
must_not + filter + minimum_should_match + per-clause boosts compiled
onto the single-job top_k machinery — rank- and score-identical to a
brute-force clause-semantics oracle built on Bm25Oracle's analyzed
corpus.  Reference: the bool queries the dashboards issue
(ElasticOperations.scala:32-76)."""

import numpy as np
import pytest

from sotohp_spark.config import EngineConfig
from sotohp_spark.generator import generate_transcripts_pdf
from sotohp_spark.index import Bool, IndexBuilder, QueryEngine
from sotohp_spark.functions.tokenizer import tokenize
from sotohp_spark.oracle.bm25_oracle import Bm25Oracle

CFG = EngineConfig(range_size=8, block_size=4, ranges_per_batch=2,
                   shuffle_partitions=4)


@pytest.fixture(scope="module")
def bool_setup(spark, tmp_path_factory):
    pdf = generate_transcripts_pdf(0.05)
    path = str(tmp_path_factory.mktemp("boolq") / "idx")
    IndexBuilder(spark, path, CFG).build(
        spark.createDataFrame(pdf), input_fingerprint="bool"
    )
    return QueryEngine(spark, path), Bm25Oracle(pdf)


def brute_bool(oracle: Bm25Oracle, q: Bool, k: int = 10):
    """Clause-by-clause brute force over the oracle's analyzed docs:
    independent reimplementation of the ES bool contract (no shared
    code with the engine's BoolSpec compilation)."""
    def clauses(lst):
        out = []
        for c in lst:
            text, boost = (c, 1.0) if isinstance(c, str) else c
            out.append((tokenize(text), float(boost)))
        return out

    must, should, must_not = (
        clauses(q.must), clauses(q.should), clauses(q.must_not)
    )
    filt = clauses(q.filter)
    msm = q.minimum_should_match
    if msm is None:
        msm = 0 if (must or filt) else 1
    if not must and msm == 0:
        msm = 1  # scored-matches-only contract (see top_k_bool)
    k1, b, avgdl = oracle.k1, oracle.b, oracle.avgdl
    rows = []
    for doc_id in range(oracle.n_docs):
        tfs = oracle.tfs[doc_id]
        dl = oracle.doc_len[doc_id]
        if any(any(t in tfs for t in toks) for toks, _ in must_not):
            continue
        if not all(any(t in tfs for t in toks) for toks, _ in must):
            continue
        # filter context: required match, zero score contribution
        if not all(any(t in tfs for t in toks) for toks, _ in filt):
            continue
        matched_should = sum(
            1 for toks, _ in should if any(t in tfs for t in toks)
        )
        if matched_should < msm:
            continue
        score = 0.0
        matched_any = False
        for toks, boost in must + should:
            for t in sorted(set(toks)):
                if t in tfs and oracle.df.get(t):
                    matched_any = True
                    tf = tfs[t]
                    tfn = tf * (k1 + 1.0) / (
                        tf + k1 * (1.0 - b + b * dl / avgdl)
                    )
                    score += toks.count(t) * boost * oracle.idf(t) * tfn
        if matched_any:
            rows.append((doc_id, score))
    rows.sort(key=lambda r: (-r[1], r[0]))
    return rows[:k]


def assert_matches(engine, oracle, q: Bool, k: int = 10):
    got = engine.top_k_bool(q, k=k, with_docs=False).collect()
    want = brute_bool(oracle, q, k)
    assert [r["doc_id"] for r in got] == [d for d, _ in want], q
    assert np.allclose(
        np.array([r["score"] for r in got]),
        np.array([s for _, s in want]),
        atol=1e-6, rtol=0,
    ), q


QS = [
    # must-only: AND across clauses, OR within a clause
    Bool(must=["error retry", "timeout"]),
    Bool(must=["error", "retry", "timeout"]),
    # should boosts the score without gating membership
    Bool(must=["error"], should=[("timeout", 2.0)]),
    Bool(must=[("error retry", 1.5)], should=["search query"]),
    # pure should with the ES default minimum_should_match=1
    Bool(should=["error retry", "timeout"]),
    # N-of-M over clause groups
    Bool(should=["error", "retry", "timeout", "search"],
         minimum_should_match=2),
    Bool(should=["error retry", "timeout", "search query"],
         minimum_should_match=2),
    # must + counted should
    Bool(must=["tool"], should=["error", "timeout"],
         minimum_should_match=1),
    # exclusion
    Bool(must=["error retry"], must_not=["search"]),
    Bool(should=["error", "timeout"], must_not=["query", "tool"]),
    # boost changes ranks, not membership
    Bool(must=["error"], should=[("search", 5.0), ("timeout", 0.25)]),
    # filter context: required, unscored
    Bool(must=["error retry"], filter=["tool"]),
    Bool(should=["error", "timeout"], filter=["tool call"]),
    Bool(must=["error"], should=[("search", 2.0)],
         filter=["tool", "query"], must_not=["t0040"]),
]


def test_bool_rank_identity(bool_setup):
    engine, oracle = bool_setup
    for q in QS:
        assert_matches(engine, oracle, q)


def test_bool_filter_window(bool_setup):
    engine, oracle = bool_setup
    ts = sorted(oracle.docs["doc_ts"])
    lo, hi = ts[len(ts) // 4], ts[3 * len(ts) // 4]
    q = Bool(must=["error retry"], should=[("timeout", 2.0)],
             ts_min=lo, ts_max=hi)
    got = engine.top_k_bool(q, k=10, with_docs=False).collect()
    # brute: same bool, membership restricted to the window
    eligible = {
        int(r["doc_id"])
        for _, r in oracle.docs.iterrows()
        if lo <= r["doc_ts"] <= hi
    }
    want = [
        (d, s)
        for d, s in brute_bool(oracle, Bool(must=["error retry"],
                                            should=[("timeout", 2.0)]),
                               k=oracle.n_docs)
        if d in eligible
    ][:10]
    assert [r["doc_id"] for r in got] == [d for d, _ in want]
    assert np.allclose(
        [r["score"] for r in got], [s for _, s in want], atol=1e-6, rtol=0
    )


def test_bool_equivalences(bool_setup):
    """Degenerate Bools collapse onto the existing primitives —
    rank/score identity with top_k's own paths."""
    engine, _ = bool_setup
    # one must clause == plain disjunctive top_k
    a = engine.top_k_bool(Bool(must=["error retry timeout"]),
                          k=10, with_docs=False).collect()
    b = engine.top_k("error retry timeout", k=10,
                     with_docs=False).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in a] == [
        (r["doc_id"], round(r["score"], 9)) for r in b
    ]
    # one single-term must clause per term == conjunctive top_k
    a = engine.top_k_bool(Bool(must=["error", "retry"]),
                          k=10, with_docs=False).collect()
    b = engine.top_k("error retry", k=10, conjunctive=True,
                     with_docs=False).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in a] == [
        (r["doc_id"], round(r["score"], 9)) for r in b
    ]
    # single-term should clauses + msm == top_k(min_should_match)
    a = engine.top_k_bool(
        Bool(should=["error", "retry", "timeout"],
             minimum_should_match=2),
        k=10, with_docs=False,
    ).collect()
    b = engine.top_k("error retry timeout", k=10, min_should_match=2,
                     with_docs=False).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in a] == [
        (r["doc_id"], round(r["score"], 9)) for r in b
    ]


def test_bool_edge_cases(bool_setup):
    engine, _ = bool_setup
    with pytest.raises(ValueError):
        engine.top_k_bool(Bool(must_not=["error"]))
    with pytest.raises(ValueError):
        engine.top_k_bool(Bool(must=[("error", 0.0)]))
    # a must clause with only absent terms empties the result
    assert engine.top_k_bool(
        Bool(must=["error", "zzqxunseen"]), with_docs=False
    ).count() == 0
    # minimum_should_match above the matchable clause count: empty
    assert engine.top_k_bool(
        Bool(should=["error", "zzqxunseen"], minimum_should_match=2),
        with_docs=False,
    ).count() == 0
    # but an unmatchable should clause under a must is just ignored
    assert engine.top_k_bool(
        Bool(must=["error"], should=["zzqxunseen"]), with_docs=False
    ).count() > 0
    # filter with only absent terms: required clause -> empty
    assert engine.top_k_bool(
        Bool(must=["error"], filter=["zzqxunseen"]), with_docs=False
    ).count() == 0
    # filter never changes scores, only membership: every (doc, score)
    # of the filtered result appears identically in the unfiltered one
    plain = {
        r["doc_id"]: round(r["score"], 9)
        for r in engine.top_k_bool(
            Bool(must=["error retry"]), k=1000, with_docs=False
        ).collect()
    }
    filtered = engine.top_k_bool(
        Bool(must=["error retry"], filter=["tool"]), k=1000,
        with_docs=False,
    ).collect()
    assert filtered and all(
        plain[r["doc_id"]] == round(r["score"], 9) for r in filtered
    )


def test_bool_distributed_path_identity(bool_setup):
    """Force the distributed per-range scorer (local fast path off):
    the compiled BoolSpec must produce identical results through
    _apply_per_range — the path a 100 TB corpus always takes."""
    engine, oracle = bool_setup
    old = engine.LOCAL_PATH_MAX_POSTINGS
    engine.LOCAL_PATH_MAX_POSTINGS = 0
    try:
        for q in [
            Bool(must=["error retry", "timeout"]),
            Bool(must=["error"], should=[("timeout", 2.0)]),
            Bool(should=["error retry", "timeout", "search query"],
                 minimum_should_match=2),
            Bool(must=["error retry"], must_not=["search"]),
        ]:
            assert_matches(engine, oracle, q)
    finally:
        engine.LOCAL_PATH_MAX_POSTINGS = old


def test_bool_search_after_pagination(bool_setup):
    """search_after composes with bool: page 2 continues exactly where
    page 1 ended (same contract as top_k's cursor)."""
    engine, oracle = bool_setup
    q = Bool(must=["error"], should=[("timeout", 2.0)])
    page1 = engine.top_k_bool(q, k=5, with_docs=False).collect()
    cursor = (page1[-1]["score"], page1[-1]["doc_id"])
    page2 = engine.top_k_bool(q, k=5, with_docs=False,
                              search_after=cursor).collect()
    want = brute_bool(oracle, q, k=10)
    got = [(r["doc_id"]) for r in page1 + page2]
    assert got == [d for d, _ in want]


def test_synonyms_compile_and_rank(bool_setup):
    """Query-time synonym expansion: each term's group is ONE clause
    (OR within, operator across), so ranks must equal the hand-built
    Bool; unknown synonyms (absent terms) must not change membership
    of docs that match via the original term; multi-word synonyms
    contribute each analyzed token."""
    engine, _ = bool_setup
    syn = {"error": ["failure", "fault"],
           "timeout": ["deadline exceeded"]}
    got = engine.top_k_synonyms(
        "error timeout", syn, k=10, operator="and",
        with_docs=False).collect()
    want = engine.top_k_bool(Bool(
        must=("error failure fault", "timeout deadline exceeded")),
        k=10, with_docs=False).collect()
    assert [(r.doc_id, r.score) for r in got] == [
        (r.doc_id, r.score) for r in want] and got
    got_or = engine.top_k_synonyms(
        "error timeout", syn, k=10, with_docs=False).collect()
    want_or = engine.top_k_bool(Bool(
        should=("error failure fault", "timeout deadline exceeded"),
        minimum_should_match=1), k=10, with_docs=False).collect()
    assert [(r.doc_id, r.score) for r in got_or] == [
        (r.doc_id, r.score) for r in want_or]
    # no synonyms at all == plain bool per-term clauses
    plain = engine.top_k_synonyms(
        "error timeout", {}, k=10, operator="and",
        with_docs=False).collect()
    base = engine.top_k_bool(Bool(must=("error", "timeout")),
                             k=10, with_docs=False).collect()
    assert [(r.doc_id, r.score) for r in plain] == [
        (r.doc_id, r.score) for r in base]
    with pytest.raises(ValueError):
        engine.top_k_synonyms("error", syn, operator="xor")
    # all-dropped query -> empty
    assert engine.top_k_synonyms(
        "2024", syn, k=5, with_docs=False).count() == 0


def test_match_bool_prefix(bool_setup):
    """match_bool_prefix: head terms as optional clauses + trailing
    prefix expansion, msm=1 — must equal the hand-built Bool with the
    expansion clause; a no-expansion last term degrades to the head
    disjunction; an unmatchable query is empty."""
    engine, _ = bool_setup
    exps = [t for t, _ in engine.wildcard_expand("tim*", 50)]
    assert exps
    got = engine.top_k_match_bool_prefix(
        "error retry tim", k=10, with_docs=False).collect()
    want = engine.top_k_bool(Bool(
        should=({"terms": {"error": 1.0}}, {"terms": {"retry": 1.0}},
                {"terms": {t: 1.0 for t in exps}}),
        minimum_should_match=1), k=10, with_docs=False).collect()
    assert [(r.doc_id, r.score) for r in got] == [
        (r.doc_id, r.score) for r in want] and got
    no_exp = engine.top_k_match_bool_prefix(
        "error retry zzqx", k=10, with_docs=False).collect()
    head_only = engine.top_k_bool(Bool(
        should=({"terms": {"error": 1.0}}, {"terms": {"retry": 1.0}}),
        minimum_should_match=1), k=10, with_docs=False).collect()
    assert [(r.doc_id, r.score) for r in no_exp] == [
        (r.doc_id, r.score) for r in head_only]
    assert engine.top_k_match_bool_prefix(
        "zzqx", k=5, with_docs=False).count() == 0
    assert engine.top_k_match_bool_prefix(
        "", k=5, with_docs=False).count() == 0


# 63 distinct single-letter-run words: one past the 62 clause groups a
# BoolSpec can hold
WIDE = [f"k{chr(97 + i // 26)}{chr(97 + i % 26)}" for i in range(63)]


@pytest.fixture(scope="module")
def wide_setup(spark, tmp_path_factory):
    """Every third doc holds all 63 WIDE words (one of them repeated,
    so scores differ); the rest hold about two thirds of them."""
    import pandas as pd

    texts = []
    for i in range(48):
        words = [w for j, w in enumerate(WIDE)
                 if i % 3 == 0 or (i + j) % 3 != 0]
        words += [WIDE[i % 63]] * (i % 5)
        texts.append(" ".join(words))
    pdf = pd.DataFrame(
        [(f"w{i:03d}", 0, pd.Timestamp("2025-01-01")
          + pd.Timedelta(minutes=i), "user", t, None)
         for i, t in enumerate(texts)],
        columns=["conv_id", "turn_idx", "ts", "role", "text", "tool"],
    )
    path = str(tmp_path_factory.mktemp("boolwide") / "idx")
    IndexBuilder(spark, path, CFG).build(
        spark.createDataFrame(pdf), input_fingerprint="wide"
    )
    return QueryEngine(spark, path), Bm25Oracle(pdf)


def test_shape_rule_runs_wide_conjunctions_and_n_of_m(wide_setup):
    """The clause-shape rule: 63 single distinct-term must clauses run
    the conjunctive kernel and 63 single-term should clauses under
    minimum_should_match > 1 the N-of-M kernel, so neither hits the
    62-group BoolSpec limit; a 63-term conjunctive top_k compiles to
    the first shape and still matches brute force."""
    engine, oracle = wide_setup
    assert_matches(engine, oracle, Bool(must=WIDE))
    assert_matches(engine, oracle,
                   Bool(should=WIDE, minimum_should_match=2), k=20)
    assert_matches(engine, oracle,
                   Bool(should=WIDE, minimum_should_match=60), k=20)
    got = engine.top_k(" ".join(WIDE), k=10, conjunctive=True,
                       with_docs=False).collect()
    want = brute_bool(oracle, Bool(must=WIDE))
    assert len(want) == 10
    assert [r["doc_id"] for r in got] == [d for d, _ in want]
    assert np.allclose([r["score"] for r in got], [s for _, s in want],
                       atol=1e-6, rtol=0)
