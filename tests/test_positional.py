"""Positional postings (cfg.store_positions): tokenizer position
semantics, payload round trip, index-only phrase match vs brute
adjacency, mode equivalence of phrase_search, lifecycle preservation,
and the no-text-access plan guarantee."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from sotohp_spark.config import EngineConfig
from sotohp_spark.functions.tokenizer import (
    KeywordRules,
    term_positions,
    tokenize,
    tokenize_with_positions,
)
from sotohp_spark.index import IndexBuilder, QueryEngine
from sotohp_spark.operators.postings import (
    decode_shard_blocks,
    decode_shard_positions,
    encode_shard,
    positional_phrase_match,
)

CFG = EngineConfig(range_size=16, block_size=4, ranges_per_batch=2,
                   shuffle_partitions=4, store_positions=True)


# ---------------------------------------------------------------------------
# tokenizer positions
# ---------------------------------------------------------------------------
def test_positions_gap_for_dropped_tokens():
    """Dropped tokens (standalone numbers, stopwords) HOLD their
    position — the property that keeps positional phrase match in
    agreement with the raw-text regex for plain-word phrases."""
    assert tokenize_with_positions("error 2024 retry") == [
        ("error", 0), ("retry", 2)
    ]
    rules = KeywordRules(ignoring=frozenset({"the"}))
    assert tokenize_with_positions("fix the bug", rules) == [
        ("fix", 0), ("bug", 2)
    ]
    # camelCase splits occupy SUCCESSIVE positions (analyzed-stream
    # semantics, the documented Lucene-style divergence)
    assert tokenize_with_positions("retryTimeout now") == [
        ("retry", 0), ("timeout", 1), ("now", 2)
    ]
    assert term_positions("a b a") == {"a": [0, 2], "b": [1]}


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet=" abcdefgXYZ-/,'0123456789\t", max_size=60))
def test_positions_token_sequence_equals_tokenize(s):
    """The token sequence of tokenize_with_positions IS tokenize():
    positions change WHAT is counted, never what is emitted."""
    tp = tokenize_with_positions(s)
    assert [t for t, _ in tp] == tokenize(s)
    # positions strictly increase
    ps = [p for _, p in tp]
    assert all(b > a for a, b in zip(ps, ps[1:]))


# ---------------------------------------------------------------------------
# payload round trip
# ---------------------------------------------------------------------------
def test_positional_payload_round_trip():
    rng = np.random.Generator(np.random.PCG64(7))
    n = 23
    docs = np.sort(rng.choice(np.arange(1000), size=n, replace=False))
    tfs = rng.integers(1, 6, size=n)
    dls = rng.integers(10, 90, size=n)
    positions = [
        np.sort(rng.choice(np.arange(500), size=int(t), replace=False))
        for t in tfs
    ]
    (nn, first, last, offs, bf, bl, _mt, _md, payload, p_off, p_pay) = (
        encode_shard(docs, tfs, dls, avgdl=40.0, cfg=CFG,
                     positions=positions)
    )
    assert nn == n and p_pay is not None
    # full decode
    dd, tt, _ = decode_shard_blocks(payload, offs)
    pl = decode_shard_positions(p_pay, p_off)
    assert np.array_equal(dd, docs) and len(pl) == n
    for got, want in zip(pl, positions):
        assert np.array_equal(got, want)
    # block-selective decode stays aligned with the doc stream
    sel = [1, 3]
    dd2, _, _ = decode_shard_blocks(payload, offs, sel)
    pl2 = decode_shard_positions(p_pay, p_off, sel)
    assert len(pl2) == dd2.size
    by_doc = {int(d): p for d, p in zip(docs, positions)}
    for d, p in zip(dd2, pl2):
        assert np.array_equal(p, by_doc[int(d)])
    # positionless call returns None fields
    out = encode_shard(docs, tfs, dls, avgdl=40.0, cfg=CFG)
    assert out[9] is None and out[10] is None


# ---------------------------------------------------------------------------
# positional match vs brute adjacency
# ---------------------------------------------------------------------------
def _brute_phrase_docs(texts, phrase):
    """Analyzed-stream adjacency by brute force over token positions."""
    offs = tokenize_with_positions(phrase)
    base = offs[0][1]
    offs = [(t, p - base) for t, p in offs]
    out = []
    for doc_id, text in texts:
        tp = term_positions(text)
        anchors = None
        for t, off in offs:
            a = {p - off for p in tp.get(t, ()) if p - off >= 0}
            anchors = a if anchors is None else (anchors & a)
        if anchors:
            out.append(doc_id)
    return sorted(out)


@pytest.fixture(scope="module")
def pos_index(spark, tmp_path_factory):
    texts = [
        (0, "error retry timeout loop"),
        (1, "retry error timeout"),            # words present, wrong order
        (2, "error 2024 retry"),               # number gap -> NOT adjacent
        (3, "deep error retry chain error retry"),  # repeated match
        (4, "nothing relevant here"),
        (5, "errorRetry camel form"),          # camel split -> adjacent
        (6, "do it do again do it"),           # repeated-term phrase
        (7, "error, retry via separator"),     # ',' is a separator
    ]
    pdf = pd.DataFrame(
        [(f"c{i}", 0, pd.Timestamp("2025-01-01") + pd.Timedelta(minutes=i),
          "user", t, None) for i, t in texts],
        columns=["conv_id", "turn_idx", "ts", "role", "text", "tool"],
    )
    path = str(tmp_path_factory.mktemp("posidx"))
    IndexBuilder(spark, path, CFG).build(
        spark.createDataFrame(pdf), input_fingerprint="pos"
    )
    # conv_id cN -> doc ids assigned by ts order == N here
    return path, texts


def test_phrase_match_equals_brute_adjacency(spark, pos_index):
    path, texts = pos_index
    engine = QueryEngine(spark, path)
    dist = QueryEngine(spark, path)
    dist.LOCAL_PATH_MAX_POSTINGS = 0  # the distributed leg
    for phrase in ["error retry", "do it do", "error retry timeout",
                   "retry timeout", "zzz absent"]:
        got = sorted(
            r["doc_id"] for r in engine.phrase_match_doc_ids(phrase).collect()
        )
        assert got == _brute_phrase_docs(texts, phrase), phrase
        assert got == sorted(
            r["doc_id"] for r in dist.phrase_match_doc_ids(phrase).collect()
        ), phrase


def test_phrase_match_gap_and_camel_semantics(spark, pos_index):
    path, _ = pos_index
    engine = QueryEngine(spark, path)
    got = sorted(
        r["doc_id"]
        for r in engine.phrase_match_doc_ids("error retry").collect()
    )
    assert 2 not in got      # number gap blocks adjacency
    assert 1 not in got      # wrong order
    assert 5 in got          # camel split IS adjacent (analyzed semantics)
    assert 7 in got          # ',' separator collapses (analyzed semantics)
    assert {0, 3} <= set(got)


def test_phrase_search_modes_equal_and_superset_chain(spark, pos_index,
                                                     tmp_path):
    """phrase_search over the positional index == over a positionless
    twin (regex verify makes both exact), with the candidate chain
    regex-matches <= positional <= conjunctive."""
    path, texts = pos_index
    cfg_n = EngineConfig(range_size=16, block_size=4, ranges_per_batch=2,
                         shuffle_partitions=4)
    pdf = pd.DataFrame(texts, columns=["doc_id", "text"])
    tdf = spark.createDataFrame(pdf)
    ep = QueryEngine(spark, path)
    turns = spark.createDataFrame(
        pd.DataFrame(
            [(f"c{i}", 0, pd.Timestamp("2025-01-01") + pd.Timedelta(minutes=i),
              "user", t, None) for i, t in texts],
            columns=["conv_id", "turn_idx", "ts", "role", "text", "tool"],
        )
    )
    npath = str(tmp_path / "noposidx")
    IndexBuilder(spark, npath, cfg_n).build(turns, input_fingerprint="pos")
    en = QueryEngine(spark, npath)
    for phrase in ["error retry", "retry timeout"]:
        rp = sorted(r["doc_id"] for r in ep.phrase_search(phrase, tdf).collect())
        rn = sorted(r["doc_id"] for r in en.phrase_search(phrase, tdf).collect())
        assert rp == rn, phrase
        pos_c = {r["doc_id"] for r in ep.phrase_match_doc_ids(phrase).collect()}
        conj_c = {r["doc_id"] for r in ep.matching_doc_ids(phrase).collect()}
        assert set(rp) <= pos_c <= conj_c, phrase


def test_positional_path_reads_no_text_or_docs(spark, pos_index):
    """The index-only phrase match must scan ONLY the postings tree:
    no docs-table scan, no text scan, in the executed plan."""
    from sotohp_spark.plans.checks import formatted_plan

    path, _ = pos_index
    engine = QueryEngine(spark, path)
    # force the distributed leg: the r08 driver-local leg returns a
    # LocalRelation (no scans at all — trivially satisfying the
    # property); this test pins the DISTRIBUTED plan's scan set
    engine.LOCAL_PATH_MAX_POSTINGS = 0
    df = engine.phrase_match_doc_ids("error retry")
    plan = formatted_plan(df)
    import re

    locs = re.findall(r"Location: \S+ \[([^\]]*)", plan)
    assert locs, plan
    for loc in locs:
        assert "/postings" in loc, f"non-postings scan in plan: {loc}"
    assert "/docs" not in plan


def test_positionless_index_refuses_positional_match(spark, tmp_path):
    cfg_n = EngineConfig(range_size=16, block_size=4, ranges_per_batch=2,
                         shuffle_partitions=4)
    turns = spark.createDataFrame(
        pd.DataFrame(
            [("c0", 0, pd.Timestamp("2025-01-01"), "user", "hello world",
              None)],
            columns=["conv_id", "turn_idx", "ts", "role", "text", "tool"],
        )
    )
    path = str(tmp_path / "np")
    IndexBuilder(spark, path, cfg_n).build(turns, input_fingerprint="x")
    with pytest.raises(ValueError, match="store_positions"):
        QueryEngine(spark, path).phrase_match_doc_ids("hello world")


def test_append_preserves_positions(spark, pos_index):
    """A batch appended into a positional index must itself be
    positional (meta-driven, not caller-cfg-driven) — otherwise
    phrase match silently misses appended docs."""
    from sotohp_spark.streaming.incremental import append_conversations

    path, _ = pos_index
    new = spark.createDataFrame(
        pd.DataFrame(
            [("cnew", 0, pd.Timestamp("2025-02-01"), "user",
              "fresh error retry appended", None)],
            columns=["conv_id", "turn_idx", "ts", "role", "text", "tool"],
        )
    )
    # caller passes a POSITIONLESS cfg on purpose: meta must win
    cfg_n = EngineConfig(range_size=16, block_size=4, ranges_per_batch=2,
                         shuffle_partitions=4)
    append_conversations(spark, path, new, cfg_n)
    engine = QueryEngine(spark, path)
    ids = {r["doc_id"] for r in engine.phrase_match_doc_ids("error retry").collect()}
    new_id = engine._snap.docs.where(F.col("conv_id") == "cnew").collect()[0]["doc_id"]
    assert new_id in ids


def test_phrase_batch_positional_equals_individual(spark, pos_index):
    """Batch positional candidates == per-phrase positional match per
    query id; phrase_search_batch over the positional index returns
    exactly the per-phrase phrase_search rows (including an
    unprunable all-dropped phrase via the full-scan branch)."""
    path, texts = pos_index
    engine = QueryEngine(spark, path)
    phrases = [("a", "error retry"), ("b", "do it do"),
               ("c", "error zzzqx")]
    got = {
        (r["query_id"], r["doc_id"])
        for r in engine.phrase_match_doc_ids_batch(phrases).collect()
    }
    want = set()
    for qid, ph in phrases:
        want |= {
            (qid, r["doc_id"])
            for r in engine.phrase_match_doc_ids(ph).collect()
        }
    assert got == want and not any(q == "c" for q, _ in got)

    tdf = spark.createDataFrame(
        pd.DataFrame(texts, columns=["doc_id", "text"])
    )
    full = engine.phrase_search_batch(
        phrases + [("num", "2024")], tdf
    )
    pairs = {(r["query_id"], r["doc_id"]) for r in full.collect()}
    for qid, ph in phrases + [("num", "2024")]:
        want_q = {
            (qid, r["doc_id"])
            for r in engine.phrase_search(ph, tdf).collect()
        }
        assert {p for p in pairs if p[0] == qid} == want_q, (qid, ph)


def test_batch_broadcasts_only_on_distributed_leg(spark, pos_index,
                                                  monkeypatch):
    """The batch surfaces' shared query table is broadcast only when
    the distributed leg runs: a driver-local call broadcasts nothing,
    and both legs return the same rows."""
    from pyspark import SparkContext

    path, _ = pos_index
    calls = []
    broadcast = SparkContext.broadcast

    def counting(self, value):
        calls.append(value)
        return broadcast(self, value)

    monkeypatch.setattr(SparkContext, "broadcast", counting)
    local = QueryEngine(spark, path)
    dist = QueryEngine(spark, path)
    dist.LOCAL_PATH_MAX_POSTINGS = 0
    queries = [("a", "error retry"), ("b", "do it do")]
    for name in ("matching_doc_ids_batch", "phrase_match_doc_ids_batch"):
        calls.clear()
        want = sorted(tuple(r) for r in
                      getattr(local, name)(queries).collect())
        assert not calls, name
        got = sorted(tuple(r) for r in
                     getattr(dist, name)(queries).collect())
        assert calls, name
        assert got == want and want, name


def test_phrase_batch_positional_refuses_positionless(spark, tmp_path):
    cfg_n = EngineConfig(range_size=16, block_size=4, ranges_per_batch=2,
                         shuffle_partitions=4)
    turns = spark.createDataFrame(
        pd.DataFrame(
            [("c0", 0, pd.Timestamp("2025-01-01"), "user", "hello world",
              None)],
            columns=["conv_id", "turn_idx", "ts", "role", "text", "tool"],
        )
    )
    path = str(tmp_path / "np2")
    IndexBuilder(spark, path, cfg_n).build(turns, input_fingerprint="x")
    with pytest.raises(ValueError, match="store_positions"):
        QueryEngine(spark, path).phrase_match_doc_ids_batch(
            [("a", "hello world")]
        )


def test_routed_positions_per_source(spark, tmp_path):
    """Per-source rules routing with positions: a stopword ignored for
    one source leaves a positional gap there but not for the other —
    and tf still equals len(positions) on both."""
    from sotohp_spark.functions.tokenizer import (
        KeywordRulesRouter,
        make_term_positions_udf_routed,
    )

    router = KeywordRulesRouter(
        by_source=(("a", KeywordRules(ignoring=frozenset({"the"}))),),
        default=None,
    )
    df = spark.createDataFrame(
        pd.DataFrame(
            [("a", "fix the bug"), ("b", "fix the bug")],
            columns=["source", "text"],
        )
    )
    got = {
        r["source"]: r["p"]
        for r in df.select(
            "source",
            make_term_positions_udf_routed(router)(
                F.col("text"), F.col("source")
            ).alias("p"),
        ).collect()
    }
    assert got["a"] == {"fix": [0], "bug": [2]}          # 'the' gap
    assert got["b"] == {"fix": [0], "the": [1], "bug": [2]}


def test_scoring_scan_prunes_positional_columns(spark, pos_index):
    """BM25 scoring on a store_positions index must NOT read the
    positional payload: the postings scan's ReadSchema excludes
    pos_offsets/pos_payload (the .doc/.pos separation, verified at
    the plan level), while phrase_match's scan includes them."""
    from sotohp_spark.plans.checks import formatted_plan

    path, _ = pos_index
    engine = QueryEngine(spark, path)
    engine.LOCAL_PATH_MAX_POSTINGS = 0  # force the distributed plan
    plan = formatted_plan(engine.top_k("error retry", 5, with_docs=False))
    import re

    schemas = re.findall(r"ReadSchema: (\S+)", plan)
    post_schemas = [s for s in schemas if "payload" in s]
    assert post_schemas, plan
    for s in post_schemas:
        assert "pos_payload" not in s and "pos_offsets" not in s, s

    plan2 = formatted_plan(engine.phrase_match_doc_ids("error retry"))
    assert "pos_payload" in plan2


def test_positional_kill_and_resume(spark, tmp_path):
    """Kill-and-resume on a store_positions build: the resumed stage-2
    (positions explode over the remaining buckets) must produce an
    index identical in results to an uninterrupted twin — BM25 AND
    positional phrase match."""
    from sotohp_spark.generator import transcripts_df
    from sotohp_spark.index.build import BuildInterrupted

    turns = transcripts_df(spark, sf=0.05).localCheckpoint()
    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    with pytest.raises(BuildInterrupted):
        IndexBuilder(spark, p1, CFG).build(
            turns, input_fingerprint="fp", stop_after_batches=1
        )
    IndexBuilder(spark, p1, CFG).build(turns, input_fingerprint="fp")
    IndexBuilder(spark, p2, CFG).build(turns, input_fingerprint="fp")
    ea, eb = QueryEngine(spark, p1), QueryEngine(spark, p2)
    ta = [
        (r["doc_id"], round(r["score"], 9))
        for r in ea.top_k("error retry timeout", 10, with_docs=False).collect()
    ]
    tb = [
        (r["doc_id"], round(r["score"], 9))
        for r in eb.top_k("error retry timeout", 10, with_docs=False).collect()
    ]
    assert ta == tb
    pa = sorted(r["doc_id"] for r in ea.phrase_match_doc_ids("error retry").collect())
    pb = sorted(r["doc_id"] for r in eb.phrase_match_doc_ids("error retry").collect())
    assert pa == pb and ea.meta.get("positions")


# ---------------------------------------------------------------------------
# span_near (sloppy phrase / SpanNearQuery)
# ---------------------------------------------------------------------------
def _brute_span_docs(texts, query, slop, in_order):
    from itertools import product

    terms = tokenize(query)
    window = len(terms) - 1 + slop
    out = []
    for doc_id, text in texts:
        tp = term_positions(text)
        plists = [tp.get(t, []) for t in terms]
        if any(not p for p in plists):
            continue
        hit = False
        for sel in product(*plists):
            if max(sel) - min(sel) > window:
                continue
            if in_order and not all(
                b > a for a, b in zip(sel, sel[1:])
            ):
                continue
            hit = True
            break
        if hit:
            out.append(doc_id)
    return sorted(out)


@pytest.fixture(scope="module")
def span_index(spark, tmp_path_factory):
    """Private positional index for the span tests — pos_index is
    MUTATED by test_append_preserves_positions (a doc is appended),
    so a brute expectation over its original text list would go stale
    depending on test order."""
    texts = [
        (0, "error retry timeout loop"),
        (1, "retry error timeout"),
        (2, "error 2024 retry"),
        (3, "deep error retry chain error retry"),
        (4, "nothing relevant here"),
        (5, "errorRetry camel form"),
        (6, "do it do again do it"),
        (7, "error, retry via separator"),
        (8, "timeout far error x y z retry end"),
    ]
    pdf = pd.DataFrame(
        [(f"c{i}", 0, pd.Timestamp("2025-01-01") + pd.Timedelta(minutes=i),
          "user", t, None) for i, t in texts],
        columns=["conv_id", "turn_idx", "ts", "role", "text", "tool"],
    )
    path = str(tmp_path_factory.mktemp("spanidx"))
    IndexBuilder(spark, path, CFG).build(
        spark.createDataFrame(pdf), input_fingerprint="span"
    )
    return path, texts


def test_span_near_matches_brute(spark, span_index):
    """span_near_doc_ids == brute product-search over
    tokenize_with_positions for every (query, slop, order) combo —
    ordered greedy chain and unordered window sweep both exact."""
    path, texts = span_index
    engine = QueryEngine(spark, path)
    for query in ["error retry", "retry timeout", "error retry timeout",
                  "error timeout loop"]:
        for slop in (0, 1, 2, 5):
            for in_order in (True, False):
                got = sorted(
                    r["doc_id"]
                    for r in engine.span_near_doc_ids(
                        query, slop=slop, in_order=in_order
                    ).collect()
                )
                expect = _brute_span_docs(texts, query, slop, in_order)
                assert got == expect, (query, slop, in_order)
    # slop relaxations on the fixture's designed rows
    s0 = {r["doc_id"] for r in
          engine.span_near_doc_ids("error retry", slop=0).collect()}
    s1 = {r["doc_id"] for r in
          engine.span_near_doc_ids("error retry", slop=1).collect()}
    u1 = {r["doc_id"] for r in
          engine.span_near_doc_ids("error retry", slop=1,
                                   in_order=False).collect()}
    assert 2 not in s0 and 2 in s1        # number gap costs one slop
    assert 1 not in s1 and 1 in u1        # wrong order needs unordered
    assert s0 <= s1 <= u1
    # the distributed leg returns the same sets
    dist = QueryEngine(spark, path)
    dist.LOCAL_PATH_MAX_POSTINGS = 0
    for want, kw in ((s0, {}), (u1, {"slop": 1, "in_order": False})):
        got = dist.span_near_doc_ids("error retry", **kw).collect()
        assert {r["doc_id"] for r in got} == want, kw
    # absent term -> empty; duplicate clauses and negative slop raise
    assert engine.span_near_doc_ids("error zzqabsent", slop=3).count() == 0
    with pytest.raises(ValueError):
        engine.span_near_doc_ids("do it do")
    with pytest.raises(ValueError):
        engine.span_near_doc_ids("error retry", slop=-1)


def test_span_near_requires_positions(spark, span_index, tmp_path):
    path, texts = span_index
    cfg_n = EngineConfig(range_size=16, block_size=4, ranges_per_batch=2,
                         shuffle_partitions=4)
    pdf = pd.DataFrame(
        [(f"c{i}", 0, pd.Timestamp("2025-01-01") + pd.Timedelta(minutes=i),
          "user", t, None) for i, t in texts],
        columns=["conv_id", "turn_idx", "ts", "role", "text", "tool"],
    )
    p2 = str(tmp_path / "nopos")
    IndexBuilder(spark, p2, cfg_n).build(
        spark.createDataFrame(pdf), input_fingerprint="np"
    )
    with pytest.raises(ValueError):
        QueryEngine(spark, p2).span_near_doc_ids("error retry")


def test_match_phrase_prefix(spark, span_index):
    """ES match_phrase_prefix: head terms exact-adjacent, last term
    completed by any dictionary term with that prefix (analyzed
    semantics) — equals the brute union over prefix completions."""
    path, texts = span_index
    engine = QueryEngine(spark, path)
    vocab = set()
    for _, t in texts:
        vocab.update(tokenize(t))
    for query in ["error re", "error retry", "retry t", "deep e"]:
        toks = tokenize(query)
        head, last = toks[:-1], toks[-1]
        comps = [v for v in vocab if v.startswith(last)]
        expect = set()
        for c in comps:
            expect.update(_brute_phrase_docs(texts, " ".join(head + [c])))
        got = sorted(
            r["doc_id"]
            for r in engine.match_phrase_prefix_doc_ids(query).collect()
        )
        assert got == sorted(expect), query
    # no completion -> empty; cap respected (1 expansion = FIRST term
    # in index/term order — the Lucene match_phrase_prefix contract,
    # not wildcard's df-ordered top-terms rewrite)
    assert engine.match_phrase_prefix_doc_ids("error zzq").count() == 0
    one = engine.match_phrase_prefix_doc_ids("error re", max_expansions=1)
    best = engine.wildcard_expand("re*", 1, order="term")[0][0]
    assert best == min(v for v in vocab if v.startswith("re"))
    assert sorted(r["doc_id"] for r in one.collect()) == _brute_phrase_docs(
        texts, f"error {best}"
    )


def test_span_near_oversized_slop_fails_driver_side(spark, span_index):
    """An oversized slop window must surface as a clean driver-side
    ValueError BEFORE any job launches — not a Py4J task failure from
    the executor kernel (which keeps the same check as a backstop)."""
    path, _ = span_index
    engine = QueryEngine(spark, path)
    with pytest.raises(ValueError, match="positional key width"):
        engine.span_near_doc_ids("error retry", slop=(1 << 24))


def test_span_near_unordered_key_space_edge():
    """Regression: the unordered anchor-window test must carry an
    explicit same-doc mask — an anchor position within `window` of
    2^_POS_SHIFT would otherwise accept the NEXT doc's early position
    (packed-key distance 2^24 + p2 - p1 can be <= window when p1 is
    near the width limit)."""
    from sotohp_spark.operators.postings import (
        _POS_SHIFT,
        encode_shard,
        span_near_match,
    )

    lim = (1 << _POS_SHIFT) - 2
    # doc 0: A near the position-width limit, B far away (no window)
    # doc 1: B then A adjacent (a true match)
    per_term = {
        "a": ([0, 1], [[lim], [1]]),
        "b": ([0, 1], [[5], [0]]),
    }
    rows = []
    for term, (docs, plists) in per_term.items():
        docs = np.asarray(docs, dtype=np.int64)
        tfs = np.asarray([len(p) for p in plists], dtype=np.int64)
        dls = np.full(docs.size, 10, dtype=np.int64)
        (n, first, last, offs, bf, bl, _mt, _md, payload, p_off, p_pay) = (
            encode_shard(docs, tfs, dls, avgdl=10.0, cfg=CFG,
                         positions=[np.asarray(p) for p in plists])
        )
        rows.append({
            "term": term, "n_docs": n, "first_doc": first, "last_doc": last,
            "block_offsets": offs, "block_first_doc": bf,
            "block_last_doc": bl, "payload": payload,
            "pos_offsets": p_off, "pos_payload": p_pay,
        })
    got = span_near_match(rows, ["a", "b"], slop=1, in_order=False)
    assert got.tolist() == [1]  # doc 0 would be the false positive
    # ordered path on the same fixture (same-doc mask already present)
    got_o = span_near_match(rows, ["b", "a"], slop=1, in_order=True)
    assert got_o.tolist() == [1]


@settings(max_examples=60, deadline=None)
@given(st.data())
def test_span_predicate_matches_product_brute(data):
    """Property: the packed-key span predicate (greedy chain ordered /
    anchor sweep unordered) equals an itertools.product brute over
    random per-term position sets, including positions near the
    2^_POS_SHIFT key-space edge."""
    from itertools import product

    from sotohp_spark.operators.postings import _POS_SHIFT, encode_shard
    from sotohp_spark.operators.postings import span_near_match

    n_terms = data.draw(st.integers(2, 3))
    n_docs = data.draw(st.integers(1, 4))
    slop = data.draw(st.integers(0, 3))
    in_order = data.draw(st.booleans())
    lim = (1 << _POS_SHIFT) - 1
    pos_pool = st.one_of(
        st.integers(0, 12), st.integers(lim - 6, lim - 1)
    )
    # per (doc, term): a possibly-empty position set
    grid = {
        (d, t): sorted(data.draw(
            st.sets(pos_pool, min_size=0, max_size=4)
        ))
        for d in range(n_docs) for t in range(n_terms)
    }
    terms = [f"t{i}" for i in range(n_terms)]
    rows = []
    for ti, term in enumerate(terms):
        docs = [d for d in range(n_docs) if grid[(d, ti)]]
        from hypothesis import assume
        assume(docs)  # absent term: engine empties earlier in the API
        plists = [np.asarray(grid[(d, ti)], dtype=np.int64) for d in docs]
        docs = np.asarray(docs, dtype=np.int64)
        tfs = np.asarray([p.size for p in plists], dtype=np.int64)
        dls = np.full(docs.size, 10, dtype=np.int64)
        (n, first, last, offs, bf, bl, _mt, _md, payload, p_off, p_pay) = (
            encode_shard(docs, tfs, dls, avgdl=10.0, cfg=CFG,
                         positions=plists)
        )
        rows.append({
            "term": term, "n_docs": n, "first_doc": first,
            "last_doc": last, "block_offsets": offs,
            "block_first_doc": bf, "block_last_doc": bl,
            "payload": payload, "pos_offsets": p_off,
            "pos_payload": p_pay,
        })
    window = n_terms - 1 + slop
    expect = []
    for d in range(n_docs):
        plists = [grid[(d, ti)] for ti in range(n_terms)]
        if any(not p for p in plists):
            continue
        hit = any(
            max(sel) - min(sel) <= window
            and (not in_order
                 or all(b > a for a, b in zip(sel, sel[1:])))
            for sel in product(*plists)
        )
        if hit:
            expect.append(d)
    got = span_near_match(rows, terms, slop, in_order).tolist()
    assert got == expect, (grid, slop, in_order)
