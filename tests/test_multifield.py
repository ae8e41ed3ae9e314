"""Multi-field BM25 (EngineConfig.extra_fields + top_k_multi_match):
field-tagged postings in the same layout, per-field (k1, b)
normalization with the field's own dl/avgdl/df, best_fields (dis_max)
and most_fields combining, per-field boosts — rank/score-identical to
an independent per-field brute oracle, and the single-field path
provably unaffected (same scores as an index built without fields).
Reference: the SaoMedia multi-field search doc (SaoMedia.scala:17-47)
scored by ES multi_match."""

import math
from collections import Counter

import numpy as np
import pytest

from sotohp_spark.config import EngineConfig
from sotohp_spark.functions.tokenizer import tokenize
from sotohp_spark.generator import generate_transcripts_pdf
from sotohp_spark.index import IndexBuilder, QueryEngine
from sotohp_spark.oracle.bm25_oracle import Bm25Oracle
from sotohp_spark.streaming.incremental import append_conversations

CFG = EngineConfig(range_size=8, block_size=4, ranges_per_batch=2,
                   shuffle_partitions=4, extra_fields=("tool", "role"))
PLAIN = EngineConfig(range_size=8, block_size=4, ranges_per_batch=2,
                     shuffle_partitions=4)


class FieldOracle:
    """Per-field brute BM25 over the raw turns — independent of every
    engine code path (its own field-stream materialization, its own
    df/avgdl bookkeeping)."""

    def __init__(self, pdf):
        self.base = Bm25Oracle(pdf)
        t = pdf.copy().sort_values(["conv_id", "turn_idx"], kind="stable")
        self.field_tfs = {}   # field -> list[Counter] aligned to doc_id
        self.field_len = {}
        self.field_df = {}
        self.field_avgdl = {}
        for field in ("tool", "role"):
            streams = (
                t.groupby("conv_id", sort=True)[field]
                .agg(lambda s: " ".join(x for x in s if x is not None))
            )
            tfs = [
                Counter(tokenize(streams.get(cid, "")))
                for cid in self.base.docs["conv_id"]
            ]
            self.field_tfs[field] = tfs
            self.field_len[field] = [sum(c.values()) for c in tfs]
            df = Counter()
            for c in tfs:
                df.update(c.keys())
            self.field_df[field] = df
            nz = [x for x in self.field_len[field] if x > 0]
            self.field_avgdl[field] = (
                float(sum(nz)) / len(nz) if nz else 0.0
            )

    def field_score(self, field, boost, doc_id, qtf, k1=1.2, b=0.75):
        n = self.base.n_docs
        if field == "text":
            tfs = self.base.tfs[doc_id]
            dl = self.base.doc_len[doc_id]
            avgdl = self.base.avgdl
            df = self.base.df
        else:
            tfs = self.field_tfs[field][doc_id]
            dl = self.field_len[field][doc_id]
            avgdl = self.field_avgdl[field]
            df = self.field_df[field]
        score = 0.0
        hit = False
        for term in sorted(qtf):
            d = df.get(term, 0)
            if not d or term not in tfs:
                continue
            hit = True
            idf = math.log1p((n - d + 0.5) / (d + 0.5))
            tf = tfs[term]
            tfn = tf * (k1 + 1.0) / (
                tf + k1 * (1.0 - b + b * dl / avgdl)
            )
            score += qtf[term] * boost * idf * tfn
        return score if hit else None

    def multi_match(self, query_text, fields, k=10, match_type="best_fields"):
        qtf = Counter(tokenize(query_text))
        norm = [
            (f, 1.0) if isinstance(f, str) else (f[0], float(f[1]))
            for f in fields
        ]
        rows = []
        for doc_id in range(self.base.n_docs):
            if match_type == "cross_fields":
                # term-centric: per term the best single field's
                # contribution, summed over matched terms
                s, hit = 0.0, False
                for term in sorted(qtf):
                    per = [
                        self.field_score(name, boost, doc_id,
                                         Counter({term: qtf[term]}))
                        for name, boost in norm
                    ]
                    per = [p for p in per if p is not None]
                    if per:
                        hit = True
                        s += max(per)
                if not hit:
                    continue
                rows.append((doc_id, s))
                continue
            per = [
                self.field_score(name, boost, doc_id, qtf)
                for name, boost in norm
            ]
            per = [p for p in per if p is not None]
            if not per:
                continue
            s = max(per) if match_type == "best_fields" else sum(per)
            rows.append((doc_id, s))
        rows.sort(key=lambda r: (-r[1], r[0]))
        return rows[:k]


@pytest.fixture(scope="module")
def mf_setup(spark, tmp_path_factory):
    pdf = generate_transcripts_pdf(0.05)
    base = tmp_path_factory.mktemp("mf")
    p_fields = str(base / "fields")
    p_plain = str(base / "plain")
    IndexBuilder(spark, p_fields, CFG).build(
        spark.createDataFrame(pdf), input_fingerprint="mf"
    )
    IndexBuilder(spark, p_plain, PLAIN).build(
        spark.createDataFrame(pdf), input_fingerprint="mf"
    )
    return (QueryEngine(spark, p_fields), QueryEngine(spark, p_plain),
            FieldOracle(pdf), pdf)


FIELD_QS = [
    ("search python", [("text", 1.0), ("tool", 2.0)], "best_fields"),
    ("search python", [("text", 1.0), ("tool", 2.0)], "most_fields"),
    ("bash editor browser", ["tool"], "best_fields"),
    ("tool user assistant", [("role", 1.0), ("text", 0.5)], "best_fields"),
    ("error retry search", ["text", ("tool", 3.0), "role"], "most_fields"),
    # cross_fields: per-term best field, summed over terms
    ("search python", [("text", 1.0), ("tool", 2.0)], "cross_fields"),
    ("error retry search", ["text", ("tool", 3.0)], "cross_fields"),
    ("tool user bash", [("role", 1.0), ("tool", 2.0), ("text", 0.5)],
     "cross_fields"),
]


def test_multi_match_rank_identity(mf_setup):
    engine, _, oracle, _ = mf_setup
    for qt, fields, mt in FIELD_QS:
        got = engine.top_k_multi_match(
            qt, fields, k=10, match_type=mt, with_docs=False
        ).collect()
        want = oracle.multi_match(qt, fields, k=10, match_type=mt)
        assert [r["doc_id"] for r in got] == [d for d, _ in want], (qt, mt)
        assert np.allclose(
            [r["score"] for r in got], [s for _, s in want],
            atol=1e-6, rtol=0,
        ), (qt, mt)


def test_multi_match_distributed_identity(mf_setup):
    engine, _, oracle, _ = mf_setup
    old = engine.LOCAL_PATH_MAX_POSTINGS
    engine.LOCAL_PATH_MAX_POSTINGS = 0
    try:
        qt, fields, mt = FIELD_QS[0]
        got = engine.top_k_multi_match(
            qt, fields, k=10, match_type=mt, with_docs=False
        ).collect()
        want = oracle.multi_match(qt, fields, k=10, match_type=mt)
        assert [r["doc_id"] for r in got] == [d for d, _ in want]
        assert np.allclose(
            [r["score"] for r in got], [s for _, s in want],
            atol=1e-6, rtol=0,
        )
    finally:
        engine.LOCAL_PATH_MAX_POSTINGS = old


def test_single_field_path_unaffected(mf_setup):
    """The field postings are extra dictionary entries; every plain
    top_k on the multi-field index must return bit-identical scores to
    the same query on an index built WITHOUT fields (the single-field
    scan's term IN-list contains no tagged keys)."""
    engine_f, engine_p, _, _ = mf_setup
    assert engine_f.meta["n_docs"] == engine_p.meta["n_docs"]
    assert engine_f.meta["avgdl"] == engine_p.meta["avgdl"]
    for qt in ["error retry timeout", "search query", "retryTimeout"]:
        a = engine_f.top_k(qt, 10, with_docs=False).collect()
        b = engine_p.top_k(qt, 10, with_docs=False).collect()
        assert [(r["doc_id"], r["score"]) for r in a] == [
            (r["doc_id"], r["score"]) for r in b
        ], qt
    # multi_match restricted to text alone == plain top_k exactly
    a = engine_f.top_k_multi_match(
        "error retry", ["text"], k=10, with_docs=False
    ).collect()
    b = engine_p.top_k("error retry", 10, with_docs=False).collect()
    assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b]
    assert np.allclose(
        [r["score"] for r in a], [r["score"] for r in b],
        atol=1e-9, rtol=0,
    )


def test_multi_field_append_matches_rebuild(spark, tmp_path):
    """Appending into a multi-field index maintains the field postings
    AND the per-field collection stats: multi_match over the grown
    index equals the same query over a from-scratch build of the full
    corpus."""
    pdf = generate_transcripts_pdf(0.04)
    convs = sorted(pdf["conv_id"].unique())
    half = len(convs) // 2
    pdf_a = pdf[pdf["conv_id"].isin(set(convs[:half]))]
    pdf_b = pdf[pdf["conv_id"].isin(set(convs[half:]))]
    grown, full = str(tmp_path / "grown"), str(tmp_path / "full")
    IndexBuilder(spark, grown, CFG).build(
        spark.createDataFrame(pdf_a), input_fingerprint="base"
    )
    append_conversations(spark, grown, spark.createDataFrame(pdf_b), CFG)
    IndexBuilder(spark, full, CFG).build(
        spark.createDataFrame(pdf), input_fingerprint="full"
    )
    eg, ef = QueryEngine(spark, grown), QueryEngine(spark, full)
    assert eg.meta["field_avgdl"] == pytest.approx(ef.meta["field_avgdl"])
    for qt, fields, mt in FIELD_QS[:3]:
        a = eg.top_k_multi_match(qt, fields, k=10, match_type=mt,
                                 with_docs=False).collect()
        b = ef.top_k_multi_match(qt, fields, k=10, match_type=mt,
                                 with_docs=False).collect()
        # doc ids differ (append order vs global time order is the
        # same here since batches split by conv set, ids match), but
        # scores must agree; compare (conv, score) via docs attach
        sa = sorted(round(r["score"], 9) for r in a)
        sb = sorted(round(r["score"], 9) for r in b)
        assert sa == sb, (qt, mt)


def test_multi_field_with_positions(spark, tmp_path):
    """store_positions + extra_fields compose: field rows carry empty
    positional payloads, phrase search on the text stream still works,
    multi_match still scores."""
    pdf = generate_transcripts_pdf(0.02)
    path = str(tmp_path / "posf")
    cfg = EngineConfig(range_size=8, block_size=4, ranges_per_batch=2,
                       shuffle_partitions=4, extra_fields=("tool",),
                       store_positions=True)
    IndexBuilder(spark, path, cfg).build(
        spark.createDataFrame(pdf), input_fingerprint="pf"
    )
    engine = QueryEngine(spark, path)
    assert engine.phrase_match_doc_ids("retry timeout").count() >= 0
    got = engine.top_k_multi_match(
        "search python", [("text", 1.0), ("tool", 2.0)],
        k=5, with_docs=False,
    ).collect()
    oracle = FieldOracle(pdf)
    want = oracle.multi_match(
        "search python", [("text", 1.0), ("tool", 2.0)], k=5
    )
    assert [r["doc_id"] for r in got] == [d for d, _ in want]


def test_multi_match_errors(mf_setup):
    engine, engine_p, _, _ = mf_setup
    with pytest.raises(ValueError):
        engine.top_k_multi_match("error", ["nope"])
    with pytest.raises(ValueError):
        engine.top_k_multi_match("error", [("tool", 0.0)])
    with pytest.raises(ValueError):
        engine.top_k_multi_match("error", ["text"], match_type="zzz")
    # a repeated field has no one obvious boost
    with pytest.raises(ValueError, match="listed twice"):
        engine.top_k_multi_match("error", ["tool", ("tool", 2.0)])
    # a plain index has no field postings: asking for one must raise
    with pytest.raises(ValueError):
        engine_p.top_k_multi_match("error", ["tool"])


def brute_bool_fields(oracle: FieldOracle, q, fields, k=10):
    """Bool-over-multi-field brute: every clause is a most_fields
    multi_match over `fields`; membership per ES bool, scores = sum of
    matched clauses' (clause_boost x field-level) contributions."""
    from collections import Counter as C

    from sotohp_spark.functions.tokenizer import tokenize as tok

    def clauses(lst):
        return [
            (C(tok(c if isinstance(c, str) else c[0])),
             1.0 if isinstance(c, str) else float(c[1]))
            for c in lst
        ]

    norm_f = [
        (f, 1.0) if isinstance(f, str) else (f[0], float(f[1]))
        for f in fields
    ]
    must, should = clauses(q.must), clauses(q.should)
    must_not, filt = clauses(q.must_not), clauses(q.filter)
    msm = q.minimum_should_match
    if msm is None:
        msm = 0 if (must or filt) else 1
    if not must and msm == 0:
        msm = 1

    def clause_score(qtf, cboost, doc_id):
        """(matched?, score) of one clause over the field set."""
        per = [
            oracle.field_score(name, fboost, doc_id, qtf)
            for name, fboost in norm_f
        ]
        per = [p for p in per if p is not None]
        if not per:
            return False, 0.0
        return True, cboost * sum(per)

    rows = []
    for doc_id in range(oracle.base.n_docs):
        if any(clause_score(qtf, 1.0, doc_id)[0] for qtf, _ in must_not):
            continue
        req = [clause_score(qtf, b, doc_id) for qtf, b in must]
        if not all(m for m, _ in req):
            continue
        if not all(
            clause_score(qtf, 1.0, doc_id)[0] for qtf, _ in filt
        ):
            continue
        opt = [clause_score(qtf, b, doc_id) for qtf, b in should]
        if sum(1 for m, _ in opt if m) < msm:
            continue
        score = sum(s for _, s in req) + sum(s for m, s in opt if m)
        rows.append((doc_id, score))
    rows.sort(key=lambda r: (-r[1], r[0]))
    return rows[:k]


def test_bool_over_fields(mf_setup):
    """The full dashboard shape: a composable bool whose clauses each
    evaluate as a most_fields multi_match over (text, tool^2) — one
    pruned block-max job via key expansion."""
    from sotohp_spark.index import Bool

    engine, _, oracle, _ = mf_setup
    FLDS = [("text", 1.0), ("tool", 2.0)]
    cases = [
        Bool(must=["error retry", "search"]),
        Bool(must=["search python"], should=[("timeout", 2.0)]),
        Bool(should=["search", "bash", "error"],
             minimum_should_match=2),
        Bool(must=["error"], must_not=["browser"]),
        Bool(must=["error retry"], filter=["search"]),
    ]
    for bq in cases:
        got = engine.top_k_bool(
            bq, k=10, with_docs=False, fields=FLDS
        ).collect()
        want = brute_bool_fields(oracle, bq, FLDS, k=10)
        assert [r["doc_id"] for r in got] == [d for d, _ in want], bq
        assert np.allclose(
            [r["score"] for r in got], [s for _, s in want],
            atol=1e-6, rtol=0,
        ), bq
    # fields=None stays the plain-text path (bit-identical to before)
    a = engine.top_k_bool(Bool(must=["error retry"]), k=5,
                          with_docs=False).collect()
    b = engine.top_k_bool(Bool(must=["error retry"]), k=5,
                          with_docs=False, fields=["text"]).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in a] == [
        (r["doc_id"], round(r["score"], 9)) for r in b
    ]
    # unknown field raises on a fields call
    import pytest as _pt
    with _pt.raises(ValueError):
        engine.top_k_bool(Bool(must=["error"]), fields=["nope"])


def test_tie_breaker_dis_max(mf_setup):
    """ES dis_max tie_breaker: score = max + tb * (sum - max) over the
    per-field partials.  tb=0 is pure best_fields; tb=1 is
    score-identical to most_fields (sum); 0 < tb < 1 interpolates
    exactly — pinned per doc against the two endpoint runs."""
    engine, _, _, _ = mf_setup
    qt, fields = "search python", [("text", 1.0), ("tool", 2.0)]
    a = engine.top_k_multi_match(qt, fields, k=50, with_docs=False).collect()
    b = engine.top_k_multi_match(
        qt, fields, k=50, with_docs=False, tie_breaker=0.0).collect()
    assert [(r.doc_id, r.score) for r in a] == [
        (r.doc_id, r.score) for r in b]
    c = engine.top_k_multi_match(
        qt, fields, k=50, with_docs=False, tie_breaker=1.0).collect()
    d = engine.top_k_multi_match(
        qt, fields, k=50, match_type="most_fields",
        with_docs=False).collect()
    assert [r.doc_id for r in c] == [r.doc_id for r in d]
    assert np.allclose([r.score for r in c], [r.score for r in d],
                       atol=1e-9, rtol=0)
    best = {r.doc_id: r.score for r in a}
    most = {r.doc_id: r.score for r in d}
    mid = engine.top_k_multi_match(
        qt, fields, k=50, with_docs=False, tie_breaker=0.3).collect()
    assert mid
    for r in mid:
        want = best[r.doc_id] + 0.3 * (most[r.doc_id] - best[r.doc_id])
        assert abs(r.score - want) < 1e-9
    with pytest.raises(ValueError):
        engine.top_k_multi_match(qt, fields, tie_breaker=1.5)
    with pytest.raises(ValueError):
        engine.top_k_multi_match(
            qt, fields, match_type="most_fields", tie_breaker=0.5)


def test_tie_breaker_distributed_identity(mf_setup):
    engine, _, _, _ = mf_setup
    qt, fields = "search python", [("text", 1.0), ("tool", 2.0)]
    local = engine.top_k_multi_match(
        qt, fields, k=10, with_docs=False, tie_breaker=0.3).collect()
    old = engine.LOCAL_PATH_MAX_POSTINGS
    engine.LOCAL_PATH_MAX_POSTINGS = 0
    try:
        dist = engine.top_k_multi_match(
            qt, fields, k=10, with_docs=False, tie_breaker=0.3).collect()
    finally:
        engine.LOCAL_PATH_MAX_POSTINGS = old
    assert [(r.doc_id, r.score) for r in local] == [
        (r.doc_id, r.score) for r in dist]
