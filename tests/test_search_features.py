"""ES-tier query surface (round 6): suggest / facets / more_like_this.

Each feature is checked against a brute-force recompute from the raw
fixture (membership, ordering, scores), and suggest additionally pins
its SCALE SHAPE — the prefix predicate must reach the term_stats
parquet scan as a StringStartsWith pushdown (dictionary-range cost,
never a vocabulary scan).  The sf0.01 DuckDB oracles
(__spark_entry__) cover the same features end-to-end; these tests are
the fast adversarial fixture (known term overlaps, exact expected
sets).
"""

import datetime
import math
from collections import Counter

from pyspark.sql import functions as F

from sotohp_spark.config import EngineConfig
from sotohp_spark.functions.tokenizer import tokenize
from sotohp_spark.index import IndexBuilder, QueryEngine

TS = datetime.datetime(2025, 1, 15)

TEXTS = [
    "redis retry error storm",
    "retry retry retry error",
    "redis cache warmup",
    "restart requested by operator error",
    "regression test flake retry",
    "unrelated words entirely",
    "error error redis retry",
    "restart loop detected error retry",
]


def _fixture(spark, tmp_path):
    rows = [
        (f"c{i:03d}", 0, TS + datetime.timedelta(days=31 * (i % 3)), t)
        for i, t in enumerate(TEXTS)
    ]
    turns = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts timestamp, text string"
    )
    path = str(tmp_path / "feat_idx")
    cfg = EngineConfig(
        range_size=4, block_size=2, ranges_per_batch=2, shuffle_partitions=4
    )
    IndexBuilder(spark, path, cfg).build(turns, input_fingerprint="feat")
    return QueryEngine(spark, path)


def test_suggest_matches_brute_and_pushes_down(spark, tmp_path):
    engine = _fixture(spark, tmp_path)
    df_count = Counter()
    for t in TEXTS:
        for term in set(tokenize(t)):
            df_count[term] += 1
    expect = sorted(
        ((t, n) for t, n in df_count.items() if t.startswith("re")),
        key=lambda x: (-x[1], x[0]),
    )[:5]
    got = [(r["term"], r["df"]) for r in engine.suggest("re", 5).collect()]
    assert got == expect, (got, expect)
    plan = engine.suggest("re", 5)._jdf.queryExecution().executedPlan().toString()
    assert "StringStartsWith" in plan, plan
    # empty / no-hit prefixes
    assert engine.suggest("", 5).count() == 0
    assert engine.suggest("zzz", 5).count() == 0


def test_facets_counts_conjunctive_matches_by_month(spark, tmp_path):
    engine = _fixture(spark, tmp_path)
    match = [
        i for i, t in enumerate(TEXTS)
        if {"error", "retry"} <= set(tokenize(t))
    ]
    expect = Counter(
        (TS + datetime.timedelta(days=31 * (i % 3))).strftime("%Y-%m")
        for i in match
    )
    rows = engine.facets("error retry", by="month").collect()
    got = {r["facet"]: r["n_docs"] for r in rows}
    assert got == dict(expect), (got, expect)
    assert [r["facet"] for r in rows] == sorted(got)  # ordered by facet
    # avg_doc_len is the mean over the month's matched docs
    lens = {}
    for i in match:
        lens.setdefault(
            (TS + datetime.timedelta(days=31 * (i % 3))).strftime("%Y-%m"), []
        ).append(len(tokenize(TEXTS[i])))
    for r in rows:
        assert abs(r["avg_doc_len"] - sum(lens[r["facet"]]) / len(lens[r["facet"]])) < 1e-6
    # n_turns facet key works and an unknown key raises
    assert engine.facets("error retry", by="n_turns").count() >= 1
    try:
        engine.facets("error retry", by="bogus")
        assert False, "expected ValueError"
    except ValueError:
        pass


def _brute_bm25(weights, k1=1.2, b=0.75):
    """score every doc against (term -> weight) with qtf folded in."""
    docs = [Counter(tokenize(t)) for t in TEXTS]
    avgdl = sum(sum(d.values()) for d in docs) / len(docs)
    out = {}
    for i, d in enumerate(docs):
        s = 0.0
        for term, w in weights.items():
            tf = d.get(term, 0)
            if tf:
                dl = sum(d.values())
                s += w * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
        if s > 0:
            out[i] = s
    return out


def test_more_like_this_matches_brute_derivation(spark, tmp_path):
    engine = _fixture(spark, tmp_path)
    # doc ids are TIME-ordered by the build (not input order): recover
    # the engine's doc_id <-> fixture-index mapping through conv_id
    id_of = {
        int(r["conv_id"][1:]): r["doc_id"]
        for r in engine._snap.docs.select("doc_id", "conv_id").collect()
    }
    doc_of = {v: k for k, v in id_of.items()}
    src_i = 1  # "retry retry retry error" — its head terms overlap others
    src = id_of[src_i]
    docs = [Counter(tokenize(t)) for t in TEXTS]
    n = len(docs)

    def idf(term):
        df = sum(1 for d in docs if term in d)
        return math.log1p((n - df + 0.5) / (df + 0.5))

    ranked = sorted(
        ((tf * idf(t), t) for t, tf in docs[src_i].items()),
        key=lambda x: (-x[0], x[1]),
    )[:3]
    weights = {t: idf(t) for _, t in ranked}
    scores = _brute_bm25(weights)
    scores.pop(src_i, None)
    expect = sorted(
        ((id_of[i], s) for i, s in scores.items()),
        key=lambda x: (-x[1], x[0]),
    )[:5]
    got = [
        (r["doc_id"], r["score"])
        for r in engine.more_like_this(src, k=5, max_terms=3).collect()
    ]
    assert [g[0] for g in got] == [e[0] for e in expect], (got, expect)
    for (_, gs), (_, es) in zip(got, expect):
        assert abs(gs - es) < 1e-9
    # the source doc never appears even with a large k
    all_ids = [
        r["doc_id"] for r in engine.more_like_this(src, k=50).collect()
    ]
    assert src not in all_ids
    # a doc whose top terms are UNIQUE to it has no neighbors at all
    lonely = id_of[3]  # "restart requested by operator error"
    assert engine.more_like_this(lonely, k=5, max_terms=3).count() == 0
    assert doc_of  # mapping sanity
    # unknown doc raises
    try:
        engine.more_like_this(10_000)
        assert False, "expected ValueError"
    except ValueError:
        pass


def test_more_like_this_of_a_termless_doc_is_a_typed_empty(spark, tmp_path):
    """A source doc with no indexed terms (an empty turn) seeds no
    query: the answer is the empty top-k frame with its schema."""
    from sotohp_spark.index.reader import TOPK_SCHEMA

    turns = spark.createDataFrame(
        [("c000", 0, TS, TEXTS[0]), ("c001", 0, TS, "")],
        "conv_id string, turn_idx int, ts timestamp, text string",
    )
    path = str(tmp_path / "termless_idx")
    cfg = EngineConfig(
        range_size=4, block_size=2, ranges_per_batch=2, shuffle_partitions=4
    )
    IndexBuilder(spark, path, cfg).build(turns, input_fingerprint="termless")
    engine = QueryEngine(spark, path)
    src = engine._snap.docs.where(F.col("conv_id") == "c001").collect()
    assert len(src) == 1 and src[0]["doc_len"] == 0
    df = engine.more_like_this(src[0]["doc_id"], k=5)
    assert df.collect() == []
    assert df.schema == TOPK_SCHEMA


def test_search_after_pages_stitch_to_full_ranking(spark, tmp_path):
    """Deep pagination: walking pages of size p via search_after must
    reproduce top_k(k=ALL) exactly (ids and float64 scores), on both
    the driver-local and distributed scoring paths, disjunctive and
    conjunctive, and a cursor past the last row yields an empty page."""
    engine = _fixture(spark, tmp_path)
    for conj in (False, True):
        full = engine.top_k(
            "error retry redis", k=50, with_docs=False, conjunctive=conj
        ).collect()
        assert full, "fixture must match something"
        for dist in (False, True):
            pages, cursor = [], None
            if dist:
                assert engine._local_gate.acquire(blocking=False)
            try:
                while True:
                    page = engine.top_k(
                        "error retry redis", k=2, with_docs=False,
                        conjunctive=conj, search_after=cursor,
                    ).collect()
                    if not page:
                        break
                    pages.extend(page)
                    cursor = (page[-1]["score"], page[-1]["doc_id"])
            finally:
                if dist:
                    engine._local_gate.release()
            assert [(r["doc_id"], r["score"]) for r in pages] == [
                (r["doc_id"], r["score"]) for r in full
            ], (conj, dist)
    # cursor below everything -> empty page, not an error
    assert (
        engine.top_k("error", k=5, with_docs=False,
                     search_after=(-1.0, 10**9)).count() == 0
    )


def test_count_matches_brute(spark, tmp_path):
    engine = _fixture(spark, tmp_path)
    n = sum(1 for t in TEXTS if {"error", "retry"} <= set(tokenize(t)))
    assert engine.count("error retry").collect()[0]["n_matches"] == n
    assert engine.count("zzzabsent").collect()[0]["n_matches"] == 0


def test_must_not_excludes_matching_docs(spark, tmp_path):
    """ES bool-query must_not: results equal top_k minus docs
    containing any excluded term, scores unchanged (Lucene filter
    semantics), on both scoring paths and both match semantics."""
    engine = _fixture(spark, tmp_path)
    conv_text = {f"c{i:03d}": t for i, t in enumerate(TEXTS)}
    texts_by_doc = {
        r["doc_id"]: conv_text[r["conv_id"]]
        for r in engine._snap.docs.select("doc_id", "conv_id").collect()
    }
    for conj in (False, True):
        base = engine.top_k(
            "error retry", k=50, with_docs=False, conjunctive=conj
        ).collect()
        assert base
        expect = [
            (r["doc_id"], r["score"]) for r in base
            if "redis" not in tokenize(texts_by_doc[r["doc_id"]])
        ]
        for dist in (False, True):
            if dist:
                assert engine._local_gate.acquire(blocking=False)
            try:
                got = engine.top_k(
                    "error retry", k=50, with_docs=False,
                    conjunctive=conj, must_not="redis",
                ).collect()
            finally:
                if dist:
                    engine._local_gate.release()
            assert [(r["doc_id"], r["score"]) for r in got] == expect, (
                conj, dist,
            )
    # absent excluded term -> no-op
    assert (
        engine.top_k("error", k=50, with_docs=False,
                     must_not="zzqabsent").count()
        == engine.top_k("error", k=50, with_docs=False).count()
    )
    # same term in must and must_not (conjunctive) -> provably empty
    assert engine.top_k(
        "error", k=5, with_docs=False, conjunctive=True, must_not="error"
    ).count() == 0
    # disjunctive dual term: docs containing it are gone, others keep
    # their other-term scores
    got = engine.top_k(
        "error retry", k=50, with_docs=False, must_not="retry"
    ).collect()
    for r in got:
        assert "retry" not in tokenize(texts_by_doc[r["doc_id"]])


def _py_lev(a, b):
    import numpy as _np
    m = _np.zeros((len(a) + 1, len(b) + 1), dtype=int)
    m[:, 0] = range(len(a) + 1)
    m[0, :] = range(len(b) + 1)
    for i in range(1, len(a) + 1):
        for j in range(1, len(b) + 1):
            m[i, j] = min(m[i - 1, j] + 1, m[i, j - 1] + 1,
                          m[i - 1, j - 1] + (a[i - 1] != b[j - 1]))
    return int(m[-1, -1])


def test_fuzzy_expand_and_topk_match_brute(spark, tmp_path):
    """ES fuzziness: expansion set equals a brute Levenshtein sweep of
    the fixture vocabulary; top_k_fuzzy ranks equal a brute BM25 over
    the per-expansion-idf weight contract."""
    engine = _fixture(spark, tmp_path)
    vocab = Counter()
    docs = [Counter(tokenize(t)) for t in TEXTS]
    for d in docs:
        for t in d:
            vocab[t] += 1  # df
    # --- expansion vs brute, prefix 1 and 0 ---
    for q, pfx in (("rety", 1), ("rety", 0), ("redos", 1), ("eror", 0)):
        expect = sorted(
            (t, df) for t, df in vocab.items()
            if _py_lev(q, t) <= 1 and (pfx == 0 or t.startswith(q[:pfx]))
        )
        got = sorted(engine.fuzzy_expand(q, 1, prefix_length=pfx))
        assert got == expect, (q, pfx, got, expect)
    # "rety" -> retry (1 edit); "eror" -> error with prefix_length=0
    assert ("retry", vocab["retry"]) in engine.fuzzy_expand("rety", 1)
    assert ("error", vocab["error"]) in engine.fuzzy_expand("eror", 1, 0)
    # --- ranked results vs brute ---
    id_of = {
        int(r["conv_id"][1:]): r["doc_id"]
        for r in engine._snap.docs.select("doc_id", "conv_id").collect()
    }
    n = len(docs)

    def idf(df):
        return math.log1p((n - df + 0.5) / (df + 0.5))

    for query, pfx in (("rety eror", 0), ("retry eror", 1)):
        weights = {}
        for qt in set(tokenize(query)):
            for t, df in vocab.items():
                if _py_lev(qt, t) <= 1 and (
                    pfx == 0 or t.startswith(qt[:pfx])
                ):
                    weights[t] = weights.get(t, 0.0) + idf(df)
        scores = _brute_bm25(weights)
        expect = sorted(
            ((id_of[i], s) for i, s in scores.items()),
            key=lambda x: (-x[1], x[0]),
        )[:5]
        got = [
            (r["doc_id"], r["score"])
            for r in engine.top_k_fuzzy(
                query, k=5, prefix_length=pfx, with_docs=False
            ).collect()
        ]
        assert [g[0] for g in got] == [e[0] for e in expect], (query, pfx)
        for (_, gs), (_, es) in zip(got, expect):
            assert abs(gs - es) < 1e-9
    # no expansion anywhere -> empty, not an error
    assert engine.top_k_fuzzy("zzzzzzqqq", k=5, with_docs=False).count() == 0


def test_hybrid_rrf_matches_brute(spark):
    """RRF fusion: sum(1/(60+rank)) over the arms a doc appears in,
    ranks from each arm's deterministic (score desc, id asc) order —
    including docs present in only one arm."""
    import numpy as np

    from sotohp_spark.operators.topk import bm25_topk, hybrid_rrf
    from sotohp_spark.operators.ann import cosine_topk_bruteforce

    texts = [
        "shuffle join window",        # lexical hit
        "shuffle shuffle noise",      # lexical hit
        "totally unrelated words",    # semantic-only candidate
        "join window shuffle join",   # lexical hit
        "filler filler filler",
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    rng = np.random.Generator(np.random.PCG64(11))
    vecs = rng.standard_normal((5, 8))
    qv = [round(float(x), 6) for x in rng.standard_normal(8)]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    k_each = 3
    lex = bm25_topk(docs, ["shuffle", "join", "window"], k=k_each).collect()
    sem = cosine_topk_bruteforce(emb, qv, k=k_each).collect()
    expect = {}
    for rank, r in enumerate(lex, 1):
        expect[r["doc_id"]] = expect.get(r["doc_id"], 0.0) + 1 / (60 + rank)
    for rank, r in enumerate(sem, 1):
        expect[r["vec_id"]] = expect.get(r["vec_id"], 0.0) + 1 / (60 + rank)
    want = sorted(
        ((round(s, 6), i) for i, s in expect.items()),
        key=lambda x: (-x[0], x[1]),
    )[:4]
    got = [
        (r["rrf_score"], r["doc_id"])
        for r in hybrid_rrf(
            docs, emb, ["shuffle", "join", "window"], qv,
            k=4, k_each=k_each,
        ).collect()
    ]
    assert got == want, (got, want)
    # a doc ranked by BOTH arms scores the sum of both contributions
    both = set(r["doc_id"] for r in lex) & set(r["vec_id"] for r in sem)
    for d in both:
        assert expect[d] > 1 / 61 * 0.9


def test_highlight_wraps_whole_words_only(spark, tmp_path):
    engine = _fixture(spark, tmp_path)
    conv_text = {f"c{i:03d}": t for i, t in enumerate(TEXTS)}
    texts = engine._snap.docs.select("doc_id", "conv_id").withColumn(
        "text",
        F.udf(lambda c: conv_text[c])("conv_id"),
    )
    rows = engine.highlight("error retry", texts, k=10).collect()
    top = engine.top_k("error retry", k=10, with_docs=False).collect()
    # same docs, same order, same scores as retrieval
    assert [(r["doc_id"], r["score"]) for r in rows] == [
        (r["doc_id"], r["score"]) for r in top
    ]
    import re
    for r in rows:
        # every wrapped token is exactly a query term
        for m in re.findall(r"<em>(\w+)</em>", r["highlight"]):
            assert m in ("error", "retry")
        # and stripping tags restores the original text
        plain = r["highlight"].replace("<em>", "").replace("</em>", "")
        assert plain in TEXTS
        # every whole-word occurrence IS wrapped
        assert not re.search(r"(?<!<em>)\b(error|retry)\b(?!</em>)",
                             r["highlight"])
    # substring containment must not wrap: "regression" contains no
    # whole-word "error"/"retry"; add a doc-level check via doc 4
    frag = [r for r in rows if "regression" in r["highlight"]]
    for r in frag:
        assert "<em>regression" not in r["highlight"]


def test_new_surfaces_job_parity(spark, tmp_path):
    """Warm job-count pins: must_not and search_after ride the SAME
    scan as a plain top_k (no extra jobs); fuzzy adds exactly one
    dictionary job."""
    import uuid

    engine = _fixture(spark, tmp_path)

    def jobs(fn):
        gid = uuid.uuid4().hex
        sc = spark.sparkContext
        sc.setJobGroup(gid, "probe")
        try:
            fn()
        finally:
            sc.setJobGroup("default", "")
        return len(sc.statusTracker().getJobIdsForGroup(gid))

    q = "error retry"
    # warm every path (df LRU, metadata)
    engine.top_k(q, 5, with_docs=False).collect()
    engine.top_k(q, 5, with_docs=False, must_not="redis").collect()
    engine.top_k(q, 5, with_docs=False, search_after=(99.0, -1)).collect()
    engine.top_k_fuzzy(q, 5, with_docs=False).collect()

    n_plain = jobs(lambda: engine.top_k(q, 5, with_docs=False).collect())
    n_mn = jobs(lambda: engine.top_k(
        q, 5, with_docs=False, must_not="redis").collect())
    n_sa = jobs(lambda: engine.top_k(
        q, 5, with_docs=False, search_after=(99.0, -1)).collect())
    n_fz = jobs(lambda: engine.top_k_fuzzy(q, 5, with_docs=False).collect())
    assert n_mn == n_plain, (n_mn, n_plain)
    assert n_sa == n_plain, (n_sa, n_plain)
    assert n_fz == n_plain + 1, (n_fz, n_plain)


def test_top_k_recent_orders_by_time(spark, tmp_path):
    """ES sort-by-field: k most recent conjunctive matches, exact
    (doc_ts desc, doc_id asc) order — including across segments, where
    an APPENDED segment holds older timestamps than the base (id order
    alone would get this wrong)."""
    from sotohp_spark.streaming.incremental import append_conversations

    path = str(tmp_path / "recent_idx")
    cfg = EngineConfig(
        range_size=4, block_size=2, ranges_per_batch=2, shuffle_partitions=4
    )
    rows = [
        (f"c{i:03d}", 0, TS + datetime.timedelta(days=31 * (i % 3)), t)
        for i, t in enumerate(TEXTS)
    ]
    turns = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts timestamp, text string"
    )
    IndexBuilder(spark, path, cfg).build(turns, input_fingerprint="feat")
    # second segment: one conversation OLDER than everything, one newer
    extra = spark.createDataFrame(
        [
            ("cold", 0, TS - datetime.timedelta(days=400),
             "ancient error retry archive"),
            ("cnew", 0, TS + datetime.timedelta(days=400),
             "fresh error retry incident"),
        ],
        "conv_id string, turn_idx int, ts timestamp, text string",
    )
    append_conversations(spark, path, extra, cfg)
    engine = QueryEngine(spark, path)
    all_texts = dict(
        [(f"c{i:03d}", (TS + datetime.timedelta(days=31 * (i % 3)), t))
         for i, t in enumerate(TEXTS)]
        + [("cold", (TS - datetime.timedelta(days=400),
                     "ancient error retry archive")),
           ("cnew", (TS + datetime.timedelta(days=400),
                     "fresh error retry incident"))]
    )
    id_of = {
        r["conv_id"]: r["doc_id"]
        for r in engine._snap.docs.select("doc_id", "conv_id").collect()
    }
    match = [
        c for c, (ts, t) in all_texts.items()
        if {"error", "retry"} <= set(tokenize(t))
    ]
    for k in (3, 100):
        expect = sorted(
            ((all_texts[c][0], id_of[c]) for c in match),
            key=lambda x: (-x[0].timestamp(), x[1]),
        )[:k]
        got = [
            (r["doc_ts"], r["doc_id"])
            for r in engine.top_k_recent("error retry", k=k).collect()
        ]
        assert got == [(ts, d) for ts, d in expect], (k, got, expect)
    # newest match is the appended fresh conversation; oldest present
    # only when k spans everything
    assert engine.top_k_recent("error retry", k=1).collect()[0][
        "conv_id"] == "cnew"
    assert engine.top_k_recent("zzzabsent", k=5).count() == 0


def test_explain_decomposes_topk_score(spark, tmp_path):
    """ES _explain: per-term contributions of a (query, doc) sum to
    exactly the doc's top_k score; df/idf/tf match the brute fixture
    derivation; terms absent from the doc produce no row."""
    engine = _fixture(spark, tmp_path)
    top = engine.top_k("error retry redis", k=8, with_docs=False).collect()
    for r in top[:3]:
        rows = engine.explain("error retry redis", r["doc_id"]).collect()
        assert abs(sum(x["score"] for x in rows) - r["score"]) < 2e-6
        assert [x["term"] for x in rows] == sorted(x["term"] for x in rows)
    # brute df check on one doc
    docs = [Counter(tokenize(t)) for t in TEXTS]
    id_of = {
        int(r["conv_id"][1:]): r["doc_id"]
        for r in engine._snap.docs.select("doc_id", "conv_id").collect()
    }
    rows = engine.explain("error retry redis", id_of[0]).collect()
    by_term = {x["term"]: x for x in rows}
    assert set(by_term) == {"error", "retry", "redis"}  # doc 0 has all
    for t, x in by_term.items():
        assert x["df"] == sum(1 for d in docs if t in d)
        assert x["tf"] == docs[0][t]
        assert x["qtf"] == 1
    # doc without a term: no row for it
    rows5 = engine.explain("error retry", id_of[5])  # "unrelated words"
    assert rows5.count() == 0
    # empty analyzed query -> empty frame with the contract schema
    assert engine.explain("", id_of[0]).count() == 0


def test_fuzzy_dictionary_scan_pushes_prefix_disjunction(spark, tmp_path):
    """The fuzzy dictionary job's prefix disjunction must reach the
    parquet scan as Or(StringStartsWith...) — kept as a SEPARATE
    predicate from the Levenshtein refinement, because a source filter
    drops any Or with an unsupported child."""
    engine = _fixture(spark, tmp_path)
    plan = (
        engine._fuzzy_candidates_df(["errox", "retru"], 1, 1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    import re
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "StringStartsWith" in m.group(1), plan
    # with prefix_length=0 there is nothing pushable — but the frame
    # still evaluates correctly (covered by the brute test); here just
    # pin that it builds
    assert engine._fuzzy_candidates_df(["errox"], 1, 0).count() >= 1


def test_suggest_corrections_matches_brute(spark, tmp_path):
    """ES term suggester: per-token corrections equal a brute
    Levenshtein sweep ranked (distance asc, df desc, term asc),
    identity excluded."""
    engine = _fixture(spark, tmp_path)
    vocab = Counter()
    for t in TEXTS:
        for term in set(tokenize(t)):
            vocab[term] += 1
    for text, pfx in (("rety eror", 1), ("retry", 1), ("eror", 0)):
        got = [
            (r["source_term"], r["term"], r["distance"], r["df"], r["rank"])
            for r in engine.suggest_corrections(
                text, k=3, prefix_length=pfx
            ).collect()
        ]
        expect = []
        for st in sorted(set(tokenize(text))):
            cands = sorted(
                (
                    (_py_lev(st, t), -df, t)
                    for t, df in vocab.items()
                    if 1 <= _py_lev(st, t) <= 1
                    and (pfx == 0 or t.startswith(st[:pfx]))
                ),
            )[:3]
            expect.extend(
                (st, t, d, -negdf, i + 1)
                for i, (d, negdf, t) in enumerate(cands)
            )
        assert got == expect, (text, pfx, got, expect)
    # "retry" itself is in the dictionary -> identity excluded, but
    # near terms may still appear; absent garbage -> no rows
    assert engine.suggest_corrections("zzzqqqq", k=3).count() == 0
    assert engine.suggest_corrections("", k=3).count() == 0


def test_percolate_matches_brute(spark, tmp_path):
    """ES percolator: (doc, query) pairs equal brute conjunctive
    containment for every registered query; all-dropped-token queries
    match nothing; a docs-batch argument restricts the pass."""
    engine = _fixture(spark, tmp_path)
    queries = [
        ("q_err_retry", "error retry"),
        ("q_redis", "redis"),
        ("q_restart_loop", "restart loop"),
        ("q_absent", "zzqabsent"),
        ("q_dropped", "2024"),  # analysis drops bare numbers
    ]
    id_of = {
        int(r["conv_id"][1:]): r["doc_id"]
        for r in engine._snap.docs.select("doc_id", "conv_id").collect()
    }
    expect = set()
    for qid, text in queries:
        terms = set(tokenize(text))
        if not terms:
            continue
        for i, t in enumerate(TEXTS):
            if terms <= set(tokenize(t)):
                expect.add((id_of[i], qid))
    got = {
        (r["doc_id"], r["query_id"])
        for r in engine.percolate(queries).collect()
    }
    assert got == expect, (got ^ expect)
    assert not any(q in ("q_absent", "q_dropped") for _, q in got)
    # batch restriction: only docs in the passed frame are percolated
    batch = engine._snap.docs_raw.where(F.col("doc_id") == id_of[0])
    got_b = {
        (r["doc_id"], r["query_id"])
        for r in engine.percolate(queries, docs=batch).collect()
    }
    assert got_b == {(d, q) for d, q in expect if d == id_of[0]}


def test_percolate_registered_matches_per_call(spark, tmp_path):
    """Persisted-registry percolation (the ES indexed-percolator
    model): identical (doc, query) pairs to the per-call variant, the
    registry survives as a table a FRESH engine can percolate without
    ever seeing the query list, and batch restriction still works."""
    engine = _fixture(spark, tmp_path)
    queries = [
        ("q_err_retry", "error retry"),
        ("q_redis", "redis"),
        ("q_restart_loop", "restart loop"),
        ("q_absent", "zzqabsent"),
        ("q_dropped", "2024"),
    ]
    n = engine.register_percolator_queries(queries, name="alerts")
    assert n == 4  # the all-dropped-token query is not stored
    want = {
        (r["doc_id"], r["query_id"])
        for r in engine.percolate(queries).collect()
    }
    got = {
        (r["doc_id"], r["query_id"])
        for r in engine.percolate_registered(name="alerts").collect()
    }
    assert got == want and got
    # a fresh engine (no query list in scope) percolates the same
    # registry from storage — zero driver-side re-tokenization
    fresh = QueryEngine(spark, engine.path)
    got2 = {
        (r["doc_id"], r["query_id"])
        for r in fresh.percolate_registered(name="alerts").collect()
    }
    assert got2 == want
    # batch restriction
    some_doc = sorted(d for d, _ in want)[0]
    batch = engine._snap.docs_raw.where(F.col("doc_id") == some_doc)
    got_b = {
        (r["doc_id"], r["query_id"])
        for r in engine.percolate_registered(
            docs=batch, name="alerts"
        ).collect()
    }
    assert got_b == {(d, q) for d, q in want if d == some_doc}
    # re-registration overwrites
    engine.register_percolator_queries(
        [("only", "error retry")], name="alerts"
    )
    got3 = {
        r["query_id"]
        for r in engine.percolate_registered(name="alerts").collect()
    }
    assert got3 == {"only"}


def test_percolate_large_registry_path(spark, tmp_path):
    """Past 1000 registered queries percolate switches from the literal
    count map to a broadcast counts join — results must be identical."""
    engine = _fixture(spark, tmp_path)
    base = [("q_err_retry", "error retry"), ("q_redis", "redis")]
    # pad with absent-term queries to cross the threshold
    padded = base + [(f"pad{i}", f"zzq{i}absent") for i in range(1100)]
    got_small = {
        (r["doc_id"], r["query_id"])
        for r in engine.percolate(base).collect()
    }
    got_large = {
        (r["doc_id"], r["query_id"])
        for r in engine.percolate(padded).collect()
    }
    assert got_small == got_large and got_small


def test_min_should_match_n_of_m(spark, tmp_path):
    """ES bool-query minimum_should_match: a doc survives iff it
    contains >= n distinct query terms; survivor scores equal the
    plain disjunctive scores (they sum over matched terms either way),
    on both scoring paths."""
    import pytest

    engine = _fixture(spark, tmp_path)
    conv_text = {f"c{i:03d}": t for i, t in enumerate(TEXTS)}
    texts_by_doc = {
        r["doc_id"]: conv_text[r["conv_id"]]
        for r in engine._snap.docs.select("doc_id", "conv_id").collect()
    }
    query = "redis error retry"
    qterms = set(tokenize(query))
    base = engine.top_k(query, k=50, with_docs=False).collect()
    assert base
    for n in (2, 3):
        expect = [
            (r["doc_id"], r["score"]) for r in base
            if len(qterms & set(tokenize(texts_by_doc[r["doc_id"]]))) >= n
        ]
        assert expect, n  # fixture must exercise the filter
        for dist in (False, True):
            if dist:
                assert engine._local_gate.acquire(blocking=False)
            try:
                got = engine.top_k(
                    query, k=50, with_docs=False, min_should_match=n
                ).collect()
            finally:
                if dist:
                    engine._local_gate.release()
            assert [(r["doc_id"], r["score"]) for r in got] == expect, (
                n, dist,
            )
    # n=1 == plain disjunction; n > n_terms == provably empty
    got1 = engine.top_k(query, k=50, with_docs=False, min_should_match=1)
    assert [(r["doc_id"], r["score"]) for r in got1.collect()] == [
        (r["doc_id"], r["score"]) for r in base
    ]
    assert engine.top_k(
        query, k=50, with_docs=False, min_should_match=4
    ).count() == 0
    # absent term lowers the reachable count instead of emptying (OR
    # semantics): msm=2 over {error retry zzqabsent} == msm=2 over the
    # two present terms; msm=3 is then unreachable
    got_abs = engine.top_k(
        "error retry zzqabsent", k=50, with_docs=False, min_should_match=2
    ).collect()
    expect_abs = engine.top_k(
        "error retry", k=50, with_docs=False, min_should_match=2
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in got_abs] == [
        (r["doc_id"], r["score"]) for r in expect_abs
    ]
    assert engine.top_k(
        "error retry zzqabsent", k=50, with_docs=False, min_should_match=3
    ).count() == 0
    # conjunctive + msm is a contract error
    with pytest.raises(ValueError):
        engine.top_k(query, k=5, conjunctive=True, min_should_match=2)


def test_term_vectors_matches_brute(spark, tmp_path):
    """ES _termvectors: one doc's full (term, tf, df, idf, weight)
    vector matches a brute recompute from the fixture, and explain()
    is exactly this vector restricted to query terms with qtf folded
    in (weight * qtf == contribution)."""
    engine = _fixture(spark, tmp_path)
    conv_text = {f"c{i:03d}": t for i, t in enumerate(TEXTS)}
    id_of = {
        conv_text[r["conv_id"]]: r["doc_id"]
        for r in engine._snap.docs.select("doc_id", "conv_id").collect()
    }
    target = TEXTS[7]  # "restart loop detected error retry"
    doc_id = id_of[target]
    docs = [Counter(tokenize(t)) for t in TEXTS]
    avgdl = sum(sum(d.values()) for d in docs) / len(docs)
    n = len(docs)
    k1, b = 1.2, 0.75
    dvec = Counter(tokenize(target))
    dl = sum(dvec.values())
    expect = []
    for term in sorted(dvec):
        tf = dvec[term]
        df = sum(1 for d in docs if term in d)
        idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
        tfn = tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
        expect.append((term, tf, df, round(idf, 6), round(idf * tfn, 6)))
    got = [
        (r["term"], r["tf"], r["df"], r["idf"], r["weight"])
        for r in engine.term_vectors(doc_id).collect()
    ]
    assert got == expect
    # explain == term_vectors restricted to query terms, qtf folded in
    w_by_term = {t: w for t, _, _, _, w in expect}
    for r in engine.explain("error retry error", doc_id).collect():
        assert r["score"] == round(
            r["qtf"] * w_by_term[r["term"]], 6
        ) or abs(r["score"] - r["qtf"] * w_by_term[r["term"]]) < 2e-6
    # unknown doc id -> empty vector
    assert engine.term_vectors(10_000).count() == 0


def test_scored_matches_and_collapse(spark, tmp_path):
    """scored_matches returns EVERY match with its exact disjunctive
    score (== top_k with k >= corpus); top_k_collapse keeps one best
    doc per time bucket, buckets ranked by best score."""
    engine = _fixture(spark, tmp_path)
    base = {
        r["doc_id"]: r["score"]
        for r in engine.top_k("error retry", k=50, with_docs=False).collect()
    }
    got = {
        r["doc_id"]: r["score"]
        for r in engine.scored_matches("error retry").collect()
    }
    assert got == base
    # conjunctive export == conjunctive top_k membership + scores
    basec = {
        r["doc_id"]: r["score"]
        for r in engine.top_k(
            "error retry", k=50, with_docs=False, conjunctive=True
        ).collect()
    }
    gotc = {
        r["doc_id"]: r["score"]
        for r in engine.scored_matches("error retry", conjunctive=True).collect()
    }
    assert gotc == basec and set(gotc) < set(got)
    # collapse: fixture docs land in 3 distinct months (i % 3)
    meta = {
        r["doc_id"]: (r["conv_id"], r["doc_ts"])
        for r in engine._snap.docs.select("doc_id", "conv_id", "doc_ts").collect()
    }
    best_by_month: dict = {}
    for d, s in base.items():
        m = meta[d][1].strftime("%Y-%m")
        cur = best_by_month.get(m)
        if cur is None or (s, -d) > (cur[1], -cur[0]):
            best_by_month[m] = (d, s)
    expect = sorted(
        ((m, d, meta[d][0], s) for m, (d, s) in best_by_month.items()),
        key=lambda x: (-x[3], x[1]),
    )
    got_c = [
        (r["collapse_key"], r["doc_id"], r["conv_id"], r["score"])
        for r in engine.top_k_collapse("error retry", k=10, by="month").collect()
    ]
    assert got_c == expect
    # k cuts buckets, not docs
    assert len(engine.top_k_collapse("error retry", k=2, by="month").collect()) == 2
    import pytest
    with pytest.raises(ValueError):
        engine.top_k_collapse("error retry", by="n_turns")


def test_top_k_decay_matches_brute(spark, tmp_path):
    """function_score exp decay: final = BM25 * 0.5**(age/half_life),
    re-ranked over the whole matched set."""
    engine = _fixture(spark, tmp_path)
    base = {
        r["doc_id"]: r["score"]
        for r in engine.scored_matches("error retry").collect()
    }
    meta = {
        r["doc_id"]: r["doc_ts"]
        for r in engine._snap.docs.select("doc_id", "doc_ts").collect()
    }
    origin = TS + datetime.timedelta(days=45)
    hl = 20.0
    expect = sorted(
        (
            (d, s * 0.5 ** (abs((origin - meta[d]).total_seconds()) / 86400.0 / hl))
            for d, s in base.items()
        ),
        key=lambda x: (-x[1], x[0]),
    )[:5]
    got = [
        (r["doc_id"], r["score"])
        for r in engine.top_k_decay(
            "error retry", origin=origin, k=5, half_life_days=hl
        ).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in expect]
    for (gd, gs), (ed, es) in zip(got, expect):
        assert abs(gs - es) < 1e-12, (gd, gs, es)
    # decay must actually change the order vs plain BM25 on this
    # fixture (docs span 3 months); otherwise the test proves nothing
    plain = [
        r["doc_id"]
        for r in engine.top_k("error retry", k=5, with_docs=False).collect()
    ]
    assert [d for d, _ in got] != plain
    import pytest
    with pytest.raises(ValueError):
        engine.top_k_decay("error retry", origin=origin, half_life_days=0)
    with pytest.raises(ValueError):
        engine.top_k_decay("error retry", origin=None)


def test_rescore_phrase_window(spark, tmp_path):
    """ES rescore: the top-window primary docs re-ranked by
    query_weight*primary + rescore_weight*phrase_BM25 (phrase matches
    only, raw-text word-boundary semantics); docs outside the window
    never enter."""
    import re

    import pytest

    engine = _fixture(spark, tmp_path)
    conv_text = {f"c{i:03d}": t for i, t in enumerate(TEXTS)}
    texts_by_doc = {
        r["doc_id"]: conv_text[r["conv_id"]]
        for r in engine._snap.docs.select("doc_id", "conv_id").collect()
    }
    texts = spark.createDataFrame(
        [(d, t) for d, t in texts_by_doc.items()], "doc_id long, text string"
    )
    phrase, query, window = "error retry", "error retry redis", 5
    prim = engine.top_k(query, k=window, with_docs=False).collect()
    assert len(prim) == window
    sec_scores = {
        r["doc_id"]: r["score"]
        for r in engine.scored_matches(phrase).collect()
    }
    pat = re.compile(r"(^|\s)error retry(\s|$)")
    expect = sorted(
        (
            (
                r["doc_id"],
                r["score"] + 2.0 * (
                    sec_scores.get(r["doc_id"], 0.0)
                    if pat.search(texts_by_doc[r["doc_id"]]) else 0.0
                ),
            )
            for r in prim
        ),
        key=lambda x: (-x[1], x[0]),
    )[:3]
    got = [
        (r["doc_id"], r["score"])
        for r in engine.rescore(
            query, phrase, texts, k=3, window_size=window,
            rescore_weight=2.0,
        ).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in expect]
    for (_, gs), (_, es) in zip(got, expect):
        assert abs(gs - es) < 1e-12
    # the phrase boost must actually reorder vs the primary ranking
    assert [d for d, _ in got] != [r["doc_id"] for r in prim][:3]
    # zero rescore weight == primary ranking restricted to the window
    got0 = [
        (r["doc_id"], r["score"])
        for r in engine.rescore(
            query, phrase, texts, k=3, window_size=window,
            rescore_weight=0.0,
        ).collect()
    ]
    assert got0 == [(r["doc_id"], r["score"]) for r in prim[:3]]
    with pytest.raises(ValueError):
        engine.rescore(query, phrase, texts, k=10, window_size=5)


def test_wildcard_expand_and_topk(spark, tmp_path):
    """ES wildcard/prefix query: dictionary expansion (df desc, term
    asc, capped) with per-expansion idf weights; prefix pushes down."""
    import re as _re

    engine = _fixture(spark, tmp_path)
    vocab = Counter()
    for t in TEXTS:
        for term in set(tokenize(t)):
            vocab[term] += 1
    # "re*" hits redis/retry/restart/regression/requested/...
    rx = _re.compile(r"^re.*$")
    expect_terms = sorted(
        ((t, n) for t, n in vocab.items() if rx.match(t)),
        key=lambda x: (-x[1], x[0]),
    )
    got = engine.wildcard_expand("re*", max_expansions=50)
    assert got == expect_terms
    # cap keeps the highest-df expansions
    assert engine.wildcard_expand("re*", max_expansions=2) == expect_terms[:2]
    # ? = exactly one char
    assert engine.wildcard_expand("r?try") == [("retry", vocab["retry"])]
    # leading wildcard still works (full dictionary scan)
    assert ("retry", vocab["retry"]) in engine.wildcard_expand("*etry")
    # ranks equal brute BM25 with per-expansion idf weights
    n = len(TEXTS)
    weights = {
        t: math.log(1 + (n - df + 0.5) / (df + 0.5))
        for t, df in expect_terms
    }
    brute = _brute_bm25(weights)
    expect_rank = sorted(brute.items(), key=lambda x: (-x[1], x[0]))[:5]
    conv_text = {f"c{i:03d}": t for i, t in enumerate(TEXTS)}
    idx_of = {
        r["doc_id"]: int(r["conv_id"][1:])
        for r in engine._snap.docs.select("doc_id", "conv_id").collect()
    }
    got_rank = [
        (idx_of[r["doc_id"]], r["score"])
        for r in engine.top_k_wildcard("re*", k=5, with_docs=False).collect()
    ]
    assert [i for i, _ in got_rank] == [i for i, _ in expect_rank]
    for (_, gs), (_, es) in zip(got_rank, expect_rank):
        assert abs(gs - es) < 1e-9
    # absent pattern -> empty
    assert engine.top_k_wildcard("zzq*", k=5).count() == 0
    # prefix pushdown reaches the dictionary scan
    plan = (
        engine._snap.term_stats.where(F.col("term").startswith("re"))
        .where(F.col("term").rlike("^re.*$"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "StringStartsWith" in plan


def test_msearch_merges_per_index_topk(spark, tmp_path):
    """ES multi-index search: each index scores with its own
    collection stats, the coordinator merges local top-ks by (score
    desc, idx, doc_id)."""
    import pytest

    from sotohp_spark.index import IndexBuilder, msearch

    cfg = EngineConfig(
        range_size=4, block_size=2, ranges_per_batch=2, shuffle_partitions=4
    )
    engines = []
    halves = {"a": TEXTS[:4], "b": TEXTS[4:]}
    for name, texts in halves.items():
        rows = [
            (f"{name}{i:03d}", 0, TS + datetime.timedelta(days=i), t)
            for i, t in enumerate(texts)
        ]
        turns = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, ts timestamp, text string"
        )
        path = str(tmp_path / f"ms_{name}")
        IndexBuilder(spark, path, cfg).build(turns, input_fingerprint=name)
        engines.append((name, QueryEngine(spark, path)))
    # brute: per-index local stats, local top-k, merged
    expect = []
    for name, texts in halves.items():
        docs = [Counter(tokenize(t)) for t in texts]
        avgdl = sum(sum(d.values()) for d in docs) / len(docs)
        n = len(docs)
        qtf = Counter(tokenize("error retry"))
        scores = {}
        for i, d in enumerate(docs):
            s = 0.0
            for term in sorted(qtf):
                tf = d.get(term, 0)
                if tf:
                    df = sum(1 for dd in docs if term in dd)
                    idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
                    dl = sum(d.values())
                    s += qtf[term] * idf * tf * 2.2 / (
                        tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)
                    )
            if s > 0:
                scores[i] = s
        local = sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:3]
        eng = dict(engines)[name]
        id_of = {
            int(r["conv_id"][1:]): r["doc_id"]
            for r in eng._snap.docs.select("doc_id", "conv_id").collect()
        }
        expect.extend((name, id_of[i], s) for i, s in local)
    expect.sort(key=lambda x: (-x[2], x[0], x[1]))
    expect = expect[:3]
    got = [
        (r["idx"], r["doc_id"], r["score"])
        for r in msearch(engines, "error retry", k=3).collect()
    ]
    assert [(i, d) for i, d, _ in got] == [(i, d) for i, d, _ in expect]
    for (_, _, gs), (_, _, es) in zip(got, expect):
        assert abs(gs - es) < 1e-9
    # both indexes must actually contribute somewhere in a deeper merge
    deep = {r["idx"] for r in msearch(engines, "error retry", k=10).collect()}
    assert deep == {"a", "b"}
    with pytest.raises(ValueError):
        msearch([], "error retry")
    with pytest.raises(ValueError):
        msearch([("a", engines[0][1]), ("a", engines[1][1])], "x")


def test_collapse_week_bucketing(spark, tmp_path):
    """by='week' buckets on Monday-start date_trunc — brute-checked
    (the day/month variants are oracle-checked; week needs its own
    pin so a week-start convention bug can't ship silently)."""
    engine = _fixture(spark, tmp_path)
    base = {
        r["doc_id"]: r["score"]
        for r in engine.scored_matches("error retry").collect()
    }
    meta = {
        r["doc_id"]: r["doc_ts"]
        for r in engine._snap.docs.select("doc_id", "doc_ts").collect()
    }
    best: dict = {}
    for d, s in base.items():
        dt = meta[d]
        monday = (dt - datetime.timedelta(days=dt.weekday())).strftime(
            "%Y-%m-%d"
        )
        cur = best.get(monday)
        if cur is None or (s, -d) > (cur[1], -cur[0]):
            best[monday] = (d, s)
    expect = sorted(
        ((w, d, s) for w, (d, s) in best.items()),
        key=lambda x: (-x[2], x[1]),
    )
    got = [
        (r["collapse_key"], r["doc_id"], r["score"])
        for r in engine.top_k_collapse("error retry", k=10, by="week").collect()
    ]
    assert got == expect


def test_significant_terms_releases_storage(spark, tmp_path):
    """Repeated significant_terms calls must not accumulate pinned
    blocks in executor storage for the session lifetime (round-7
    advice fix: the matched-id frame is persisted for the shared
    subtree, then released once the k-row result materializes)."""
    engine = _fixture(spark, tmp_path)
    engine.significant_terms("error", k=5).collect()
    before = len(spark.sparkContext._jsc.getPersistentRDDs())
    for _ in range(4):
        assert engine.significant_terms("error", k=5).count() >= 0
    after = len(spark.sparkContext._jsc.getPersistentRDDs())
    assert after <= before


def test_significant_terms_matches_brute(spark, tmp_path):
    """ES significant_terms: JLH = (fg% - bg%) * (fg% / bg%) over the
    matched set's term document frequencies vs corpus background."""
    engine = _fixture(spark, tmp_path)
    query = "error"
    matched = [t for t in TEXTS if "error" in tokenize(t)]
    n_m, n = len(matched), len(TEXTS)
    fg = Counter()
    for t in matched:
        for term in set(tokenize(t)):
            fg[term] += 1
    bg = Counter()
    for t in TEXTS:
        for term in set(tokenize(t)):
            bg[term] += 1
    expect = []
    for term, f in fg.items():
        if f < 2:
            continue
        fgp, bgp = f / n_m, bg[term] / n
        expect.append((term, f, bg[term],
                       round((fgp - bgp) * (fgp / bgp), 6)))
    expect.sort(key=lambda x: (-x[3], x[0]))
    got = [
        (r["term"], r["fg_count"], r["bg_count"], r["score"])
        for r in engine.significant_terms(
            query, k=50, min_doc_count=2
        ).collect()
    ]
    assert got == expect[:50]
    # the query term itself tops the list (fg% == 1, maximal lift)
    assert got[0][0] == "error"
    # min_doc_count guards one-doc flukes
    assert all(
        r["fg_count"] >= 4
        for r in engine.significant_terms(query, k=50,
                                          min_doc_count=4).collect()
    )
    # no matches -> empty
    assert engine.significant_terms("zzqabsent", k=5).count() == 0


def test_index_stats_one_row(spark, tmp_path):
    """_stats: one row of operational facts matching a brute recompute
    from the fixture corpus."""
    engine = _fixture(spark, tmp_path)
    docs = [Counter(tokenize(t)) for t in TEXTS]
    vocab = set().union(*docs)
    r = engine.index_stats().collect()[0]
    assert r["n_docs"] == len(TEXTS)
    assert abs(r["avgdl"] - sum(sum(d.values()) for d in docs) / len(docs)) < 1e-6
    assert r["n_terms"] == len(vocab)
    assert r["n_postings"] == sum(len(d) for d in docs)
    assert r["n_segments"] == 1 and r["positions"] is False


def test_cardinality_exact_and_approx(spark, tmp_path):
    """ES cardinality agg: exact equals brute distinct-bucket count;
    the HLL++ approx path is within the configured rsd on the fixture
    (tiny cardinalities are exact in HLL++ sparse mode)."""
    import pytest

    engine = _fixture(spark, tmp_path)
    match = [i for i, t in enumerate(TEXTS) if "error" in tokenize(t)]
    expect = len({
        (TS + datetime.timedelta(days=31 * (i % 3))).strftime("%Y-%m")
        for i in match
    })
    exact = engine.cardinality("error", by="month", approx=False).collect()
    assert exact[0]["n_distinct"] == expect
    approx = engine.cardinality("error", by="month").collect()
    assert approx[0]["n_distinct"] == expect  # sparse-mode exact
    assert engine.cardinality("zzqabsent", by="day").collect()[0][
        "n_distinct"] == 0
    with pytest.raises(ValueError):
        engine.cardinality("error", by="n_turns")


def test_regexp_expand_and_topk(spark, tmp_path):
    """ES regexp query: whole-term anchored expansion.  A pure-prefix
    regex must agree exactly with the wildcard expansion of the same
    prefix (same dictionary, same df-desc cap), the literal prefix
    must push down as StringStartsWith, and ^/$ or invalid patterns
    raise driver-side."""
    engine = _fixture(spark, tmp_path)
    assert engine.regexp_expand("re.*", 50) == \
        engine.wildcard_expand("re*", 50)
    got = engine.regexp_expand("re(try|start)", 10)
    want = {"retry", "restart"}
    assert {t for t, _ in got} <= want and got
    df_count = Counter()
    for t in TEXTS:
        for term in set(tokenize(t)):
            df_count[term] += 1
    for t, df in got:
        assert df == df_count[t]
    a = engine.top_k_regexp("re.*", k=10, with_docs=False).collect()
    b = engine.top_k_wildcard("re*", k=10, with_docs=False).collect()
    assert [(r.doc_id, r.score) for r in a] == [
        (r.doc_id, r.score) for r in b]
    plan = (
        engine._snap.term_stats
        .where(F.col("term").startswith("re"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "StringStartsWith" in plan
    import pytest as _pytest
    with _pytest.raises(ValueError):
        engine.regexp_expand("^anchored$")
    with _pytest.raises(ValueError):
        engine.regexp_expand("bad[")
    # quantifier binds to the last literal char: the pushdown prefix
    # must back off to "re", so "retry" (where the optional 't' IS
    # present) still expands
    assert {t for t, _ in engine.regexp_expand("ret?ry", 10)} == {
        "retry"
    }


def test_highlight_fragments(spark, tmp_path):
    """Fragments mode: <= N snippets per doc, each a word-aligned
    substring of the raw text with every in-window query term wrapped,
    ordered best-first (match count desc, position asc)."""
    import re

    engine = _fixture(spark, tmp_path)
    texts = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id long, text string"
    )
    rows = engine.highlight_fragments(
        "error retry", texts, k=8, number_of_fragments=2,
        fragment_size=20,
    ).collect()
    assert rows
    raw = dict(enumerate(TEXTS))
    for r in rows:
        assert len(r.fragments) <= 2
        counts = []
        for frag in r.fragments:
            plain = frag.replace("<em>", "").replace("</em>", "")
            assert plain in raw[r.doc_id]
            # never splits a word: the plain snippet aligns to word
            # boundaries of the source text
            i = raw[r.doc_id].find(plain)
            assert i == 0 or raw[r.doc_id][i - 1].isspace()
            j = i + len(plain)
            assert j == len(raw[r.doc_id]) or raw[r.doc_id][j].isspace()
            # every query-term occurrence inside the snippet is wrapped
            assert not re.search(r"(?<!<em>)\b(error|retry)\b(?!</em>)",
                                 frag)
            counts.append(frag.count("<em>"))
        assert counts == sorted(counts, reverse=True)  # best first
    # docs with matches produce at least one fragment on the top hit
    assert rows[0].fragments
    import pytest as _pytest
    with _pytest.raises(ValueError):
        engine.highlight_fragments("error", texts, number_of_fragments=0)
    with _pytest.raises(ValueError):
        engine.highlight_fragments("error", texts, fragment_size=5)


def test_percolate_corpus_default_excludes_tombstones(spark, tmp_path):
    """ES parity: a deleted doc does not percolate — the docs=None
    corpus default must mean the LIVE corpus (deletes anti-joined),
    on both the per-call and the registered path."""
    from sotohp_spark.streaming.incremental import delete_conversations

    engine = _fixture(spark, tmp_path)
    queries = [("q_err_retry", "error retry")]
    before = {
        r["doc_id"] for r in engine.percolate(queries).collect()
    }
    assert before
    victim = sorted(before)[0]
    conv = engine._snap.docs.where(F.col("doc_id") == victim).collect()[0][
        "conv_id"
    ]
    delete_conversations(spark, engine.path, [conv])
    fresh = QueryEngine(spark, engine.path)
    fresh.register_percolator_queries(queries, name="t")
    after = {r["doc_id"] for r in fresh.percolate(queries).collect()}
    assert after == before - {victim}
    after_reg = {
        r["doc_id"]
        for r in fresh.percolate_registered(name="t").collect()
    }
    assert after_reg == before - {victim}


def test_explain_and_mlt_honor_tombstones(spark, tmp_path):
    """ES parity: _explain on a deleted doc is unmatched (empty
    breakdown) and a deleted more_like_this source is NOT FOUND —
    a tombstoned doc's stored row must not leak back out, on the
    driver-set tier and the distributed (anti-join) tier alike."""
    from sotohp_spark.streaming.incremental import delete_conversations

    engine = _fixture(spark, tmp_path)
    victim = engine.top_k("error retry", 1, with_docs=False).collect()[
        0]["doc_id"]
    assert engine.explain("error retry", victim).count() > 0
    conv = engine._snap.docs.where(F.col("doc_id") == victim).collect()[0][
        "conv_id"]
    delete_conversations(spark, engine.path, [conv])
    for max_driver in (None, 0):  # driver-set tier / distributed tier
        fresh = QueryEngine(spark, engine.path,
                            max_driver_deletes=max_driver)
        assert fresh.explain("error retry", victim).count() == 0
        import pytest as _pytest
        with _pytest.raises(ValueError):
            fresh.more_like_this(victim, k=3)


def test_highlight_accepts_bool_queries(spark, tmp_path):
    """Highlighting under a composable Bool: retrieval via the bool
    scan, wrap terms from every POSITIVE clause (must_not never
    wraps); text equivalence with the plain-text form pinned."""
    from sotohp_spark.index import Bool

    engine = _fixture(spark, tmp_path)
    # doc ids are TIME-ordered by the build: map through conv_id
    text_of = {
        r["doc_id"]: TEXTS[int(r["conv_id"][1:])]
        for r in engine._snap.docs.select("doc_id", "conv_id").collect()
    }
    texts = spark.createDataFrame(
        [(d, t) for d, t in text_of.items()], "doc_id long, text string"
    )
    plain = {(r.doc_id, r.highlight) for r in engine.highlight(
        "error retry", texts, k=8).collect()}
    via_bool = {(r.doc_id, r.highlight) for r in engine.highlight(
        Bool(should=("error", "retry"), minimum_should_match=1),
        texts, k=8).collect()}
    assert plain == via_bool and plain
    # must_not terms are excluded from membership AND never wrapped
    rows = engine.highlight(
        Bool(must=("error",), must_not=("redis",)), texts, k=8
    ).collect()
    assert rows
    for r in rows:
        assert "redis" not in text_of[r.doc_id]
        assert "<em>error</em>" in r.highlight
    # fragments mode composes too
    frags = engine.highlight_fragments(
        Bool(must=("error", "retry")), texts, k=8,
        number_of_fragments=1, fragment_size=20).collect()
    assert frags and any(r.fragments for r in frags)
