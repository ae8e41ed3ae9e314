"""Curation-filter semantics (repetition, contamination) and
prune-then-verify phrase retrieval (matching_doc_ids candidates are
exactly the conjunctive containment set, deletes respected)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sotohp_spark.config import EngineConfig
from sotohp_spark.generator import generate_transcripts_pdf
from sotohp_spark.index import IndexBuilder, QueryEngine
from sotohp_spark.operators import curation

CFG = EngineConfig(range_size=8, block_size=4, ranges_per_batch=2, shuffle_partitions=4)


@pytest.fixture(scope="module")
def rep_docs(spark):
    rows = [
        (0, "a b a b a b a b"),              # top bigram 'a b' x4 of 7 bigrams
        (1, "x y z w v u t s"),              # all distinct
        (2, "r r r r r r"),                  # single repeated token
        (3, ""),                             # empty
        (4, "one two"),                      # too short for trigrams
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_repetition_metrics_values(rep_docs):
    m = {r["doc_id"]: r for r in curation.repetition_metrics(rep_docs).collect()}
    # doc 0: 8 tokens; bigrams: 'a b' x4, 'b a' x3 -> top=4 -> 8/8 = 1.0
    assert m[0]["n_tokens"] == 8
    assert m[0]["top_bigram_frac"] == 1.0
    # trigrams: 6 total, 2 distinct ('a b a', 'b a b') -> 4/6
    assert m[0]["dup_trigram_frac"] == round(4 / 6, 6)
    assert not m[0]["keep"]
    # doc 1: every bigram unique -> no repetition -> 0
    assert m[1]["top_bigram_frac"] == 0.0
    assert m[1]["dup_trigram_frac"] == 0.0
    assert m[1]["keep"]
    # doc 2: 'r r' x5 -> 10/6 > 1 by the token-fraction definition
    assert m[2]["top_bigram_frac"] == round(10 / 6, 6)
    assert not m[2]["keep"]
    # empty / short docs report zeros and survive
    assert m[3]["n_tokens"] == 0 and m[3]["keep"]
    assert m[4]["dup_trigram_frac"] == 0.0 and m[4]["keep"]


def test_contamination_overlap_values(spark):
    docs = spark.createDataFrame(
        pd.DataFrame(
            [
                (1, "alpha beta gamma delta"),   # shingles abg, bgd; abg hits
                (2, "zeta eta theta iota"),      # no overlap
                (3, "al"),                       # < 3 tokens -> no shingles
            ],
            columns=["doc_id", "text"],
        )
    )
    bench = spark.createDataFrame(
        pd.DataFrame(
            [(100, "alpha beta gamma epsilon")], columns=["doc_id", "text"]
        )
    )
    out = {
        r["doc_id"]: r
        for r in curation.contamination_overlap(
            docs, bench, shingle_n=3, threshold=0.5
        ).collect()
    }
    assert out[1]["n_shingles"] == 2 and out[1]["n_hit"] == 1
    assert out[1]["overlap_frac"] == 0.5 and out[1]["contaminated"]
    assert out[2]["n_hit"] == 0 and not out[2]["contaminated"]
    assert out[3]["n_shingles"] == 0 and out[3]["overlap_frac"] == 0.0


def test_contamination_bench_is_broadcast(spark):
    """The bench-shingle broadcast must come from the EXPLICIT hint:
    with auto-broadcast disabled, any BroadcastExchange in the plan is
    the hinted one (AQE would otherwise auto-broadcast every tiny side
    at test scale and mask a lost hint)."""
    docs = spark.createDataFrame(
        pd.DataFrame([(1, "a b c d")], columns=["doc_id", "text"])
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        hinted = curation.contamination_overlap(docs, docs)
        plan = hinted._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" in plan
        unhinted = curation.contamination_overlap(
            docs, docs, broadcast_bench=False
        )
        plan2 = unhinted._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


@pytest.fixture(scope="module")
def phrase_index(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("phridx"))
    pdf = generate_transcripts_pdf(0.04)
    IndexBuilder(spark, path, CFG).build(
        spark.createDataFrame(pdf), input_fingerprint="phrase"
    )
    return path, pdf


def _containment_set(pdf, terms):
    """Brute-force conjunctive containment over the raw turns."""
    from sotohp_spark.oracle.bm25_oracle import Bm25Oracle

    oracle = Bm25Oracle(pdf)
    return {
        doc_id
        for doc_id, tf in enumerate(oracle.tfs)
        if all(t in tf for t in terms)
    }


def test_matching_doc_ids_equals_brute_force(spark, phrase_index):
    path, pdf = phrase_index
    engine = QueryEngine(spark, path)
    got = {r["doc_id"] for r in engine.matching_doc_ids("error retry").collect()}
    assert got == _containment_set(pdf, ["error", "retry"])
    # absent term -> reference AND semantics: empty
    assert engine.matching_doc_ids("error zzzqx").count() == 0
    assert engine.matching_doc_ids("").count() == 0


def test_matching_doc_ids_respects_deletes(spark, phrase_index):
    from sotohp_spark.streaming.incremental import delete_conversations

    path, pdf = phrase_index
    engine = QueryEngine(spark, path)
    before = sorted(
        r["doc_id"] for r in engine.matching_doc_ids("error retry").collect()
    )
    assert before, "fixture must contain conjunctive matches"
    victim_doc = before[0]
    conv = (
        spark.read.parquet(f"{path}/docs")
        .where(F.col("doc_id") == victim_doc)
        .select("conv_id")
        .collect()[0][0]
    )
    delete_conversations(spark, path, [conv])
    after = {
        r["doc_id"]
        for r in QueryEngine(spark, path).matching_doc_ids("error retry").collect()
    }
    assert victim_doc not in after
    assert after == set(before) - {victim_doc}


def test_conjunctive_match_skips_hot_blocks(spark, phrase_index):
    """Rarest-first intersection must DECODE few blocks of the hot
    term when the other term is selective — evidence the machinery
    skips, mirroring tests/test_wand_skip.py for scoring."""
    from sotohp_spark.operators.postings import conjunctive_match

    path, pdf = phrase_index
    engine = QueryEngine(spark, path)
    # pick a selective term (low df) and a hot term from term_stats
    stats_pdf = (
        spark.read.parquet(f"{path}/term_stats").orderBy(F.col("df").desc())
        .toPandas()
    )
    hot = stats_pdf.iloc[0]["term"]
    sel = stats_pdf[stats_pdf["df"] <= 3].iloc[0]["term"]
    rows = (
        engine._snap.postings.where(F.col("term").isin([hot, sel]))
        .toPandas()
        .to_dict("records")
    )
    by_range: dict = {}
    for r in rows:
        by_range.setdefault(r["range_id"], []).append(r)
    stats: dict = {}
    got = set()
    for rng, rrows in by_range.items():
        if len({r["term"] for r in rrows}) < 2:
            continue
        got.update(conjunctive_match(rrows, stats=stats).tolist())
    assert got == _containment_set(pdf, [hot, sel])
    assert stats["blocks_skipped"] > 0, stats
    assert (
        stats["blocks_decoded"] + stats["blocks_skipped"]
        == stats["blocks_total"]
    )


# --- property-based parity with a plain-Python reference ---

from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_doc_text = st.text(alphabet="abc ", min_size=0, max_size=40)


def _py_repetition(text):
    toks = [t for t in text.split(" ") if t]
    n = len(toks)
    bgs = [" ".join(toks[i:i + 2]) for i in range(n - 1)] if n >= 2 else []
    tgs = [" ".join(toks[i:i + 3]) for i in range(n - 2)] if n >= 3 else []
    top = max(Counter(bgs).values()) if bgs else 0
    top_frac = round(top * 2 / max(n, 1), 6) if top >= 2 else 0.0
    dup_frac = round((len(tgs) - len(set(tgs))) / max(len(tgs), 1), 6)
    return n, top_frac, dup_frac


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=st.lists(_doc_text, min_size=1, max_size=6))
def test_property_repetition_matches_python(spark, texts):
    """Arbitrary short texts (empty strings, runs of spaces, 1-2 token
    docs): Spark's array-expression metrics == the plain-Python
    definition."""
    df = spark.createDataFrame(
        pd.DataFrame(
            [(i, t) for i, t in enumerate(texts)], columns=["doc_id", "text"]
        )
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["top_bigram_frac"], r["dup_trigram_frac"])
        for r in curation.repetition_metrics(df).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _py_repetition(t), (i, repr(t))


def test_phrase_search_engine_api(spark, phrase_index):
    """phrase_search == brute-force regex scan of the text table, and
    never returns a doc whose words are present but not adjacent."""
    import re

    path, pdf = phrase_index
    engine = QueryEngine(spark, path)
    from sotohp_spark.operators.docs import build_documents

    texts = build_documents(
        spark.createDataFrame(pdf), num_ranges=4
    ).select("conv_id", F.col("doc_text").alias("text"))
    idx_docs = spark.read.parquet(f"{path}/docs").select("doc_id", "conv_id")
    texts = idx_docs.join(texts, "conv_id")
    phrase = "error retry"
    got = {r["doc_id"] for r in engine.phrase_search(phrase, texts).collect()}
    pat = re.compile(r"(^|\s)" + phrase + r"(\s|$)")
    # the shared fixture may carry tombstones from the delete test —
    # the brute-force side must honor them like the engine does
    try:
        doomed = {
            r["doc_id"]
            for r in spark.read.parquet(f"{path}/deletes").collect()
        }
    except Exception:
        doomed = set()
    want = {
        r["doc_id"]
        for r in texts.collect()
        if pat.search(r["text"]) and r["doc_id"] not in doomed
    }
    assert got == want
    # candidates are a superset of phrase matches (pruning lossless);
    # on long hot-word docs the two sets can coincide, so >= not >
    n_cands = engine.matching_doc_ids(phrase).count()
    assert n_cands >= len(got)


def test_phrase_search_batch_equals_individual(spark, phrase_index):
    """One batch job must return exactly the union of per-phrase
    results, keyed by query id (including a query with an absent term
    contributing nothing)."""
    path, pdf = phrase_index
    engine = QueryEngine(spark, path)
    from sotohp_spark.operators.docs import build_documents

    texts = build_documents(
        spark.createDataFrame(pdf), num_ranges=4
    ).select("conv_id", F.col("doc_text").alias("text"))
    idx_docs = spark.read.parquet(f"{path}/docs").select("doc_id", "conv_id")
    texts = idx_docs.join(texts, "conv_id")
    phrases = [
        ("a", "error retry"),
        ("b", "tool call"),
        ("c", "error zzzqx"),  # absent term -> no rows
    ]
    got = {
        (r["query_id"], r["doc_id"])
        for r in engine.phrase_search_batch(phrases, texts).collect()
    }
    want = set()
    for qid, ph in phrases:
        want |= {
            (qid, r["doc_id"])
            for r in engine.phrase_search(ph, texts).collect()
        }
    assert got == want
    assert not any(q == "c" for q, _ in got)
    assert any(q == "a" for q, _ in got) and any(q == "b" for q, _ in got)


def test_scrub_pii_masks_and_counts(spark):
    docs = spark.createDataFrame(
        pd.DataFrame(
            [
                (1, "mail a.b+c@ex-ample.co.uk and x@y.io now"),
                (2, "server 10.0.0.1 and 255.255.255.255 up"),
                (3, "call 5551234567 ref 12345678901"),
                (4, "short 123456 stays; 1234567 goes"),
                (5, "clean text only"),
            ],
            columns=["doc_id", "text"],
        )
    )
    out = {r["doc_id"]: r for r in curation.scrub_pii(docs).collect()}
    assert out[1]["n_emails"] == 2
    assert out[1]["text"] == "mail <EMAIL> and <EMAIL> now"
    assert out[2]["n_ips"] == 2
    assert out[2]["text"] == "server <IP> and <IP> up"
    assert out[3]["n_longnums"] == 2
    assert out[3]["text"] == "call <NUM> ref <NUM>"
    # 6 digits below the long-run threshold survive
    assert out[4]["text"] == "short 123456 stays; <NUM> goes"
    assert out[5]["text"] == "clean text only"
    assert out[5]["n_emails"] == out[5]["n_ips"] == out[5]["n_longnums"] == 0


def test_corpus_health_values(spark):
    docs = spark.createDataFrame(
        pd.DataFrame(
            [
                (1, "alpha beta gamma"),
                (2, "alpha beta gamma"),          # exact dup of 1
                (3, "mail me at a@b.io today"),   # pii
                (4, "four tokens right here"),
            ],
            columns=["doc_id", "text"],
        )
    )
    r = curation.corpus_health(docs).collect()[0]
    assert r["n_docs"] == 4
    assert r["exact_dup_excess"] == 1
    assert r["pii_docs"] == 1
    assert r["mean_tokens"] == round((3 + 3 + 5 + 4) / 4, 6)
    assert 0.0 < r["mean_quality"] <= 1.0


def test_phrase_search_batch_large_n_path(spark, phrase_index):
    """Forcing the broadcast pattern-table path (WHEN_CHAIN_MAX=0)
    must give byte-identical results to the when-chain path."""
    path, pdf = phrase_index
    from sotohp_spark.operators.docs import build_documents

    texts = build_documents(
        spark.createDataFrame(pdf), num_ranges=4
    ).select("conv_id", F.col("doc_text").alias("text"))
    idx_docs = spark.read.parquet(f"{path}/docs").select("doc_id", "conv_id")
    texts = idx_docs.join(texts, "conv_id")
    phrases = [("a", "error retry"), ("b", "tool call"), ("c", "search query")]

    eng_small = QueryEngine(spark, path)
    small = {
        (r["query_id"], r["doc_id"])
        for r in eng_small.phrase_search_batch(phrases, texts).collect()
    }
    eng_large = QueryEngine(spark, path)
    eng_large.WHEN_CHAIN_MAX = 0
    large = {
        (r["query_id"], r["doc_id"])
        for r in eng_large.phrase_search_batch(phrases, texts).collect()
    }
    assert small == large and small
    import pytest as _pytest

    with _pytest.raises(ValueError, match="duplicate query ids"):
        eng_small.phrase_search_batch([("x", "a"), ("x", "b")], texts)


def test_phrase_search_all_dropped_tokens_full_scan_fallback(spark, phrase_index):
    """A phrase whose EVERY token the analysis chain drops (standalone
    number, rule 7) has no index evidence — prune-then-verify must
    fall back to a full verify scan, not silently return empty."""
    from sotohp_spark.functions.tokenizer import KeywordRules, tokenize

    path, _ = phrase_index
    engine = QueryEngine(spark, path)
    assert tokenize("2024", engine._query_rules(None)) == []
    texts = spark.createDataFrame(
        pd.DataFrame(
            [
                (100001, "released in 2024 with fixes"),
                (100002, "released in 2025 with fixes"),
                (100003, "build 2024x is different"),  # not word-bounded
            ],
            columns=["doc_id", "text"],
        )
    )
    got = {r["doc_id"] for r in engine.phrase_search("2024", texts).collect()}
    assert got == {100001}
    # empty phrase matches nothing
    assert engine.phrase_search("   ", texts).count() == 0


def test_phrase_search_batch_unprunable_and_empty_schema(spark, phrase_index):
    """Batch variant: (a) an all-dropped phrase verifies via the full-
    scan branch and still returns its matches; (b) the empty-phrases
    edge case returns ZERO rows with the SAME schema as the non-empty
    path (query_id, doc_id, plus the text frame's columns)."""
    path, pdf = phrase_index
    engine = QueryEngine(spark, path)
    from sotohp_spark.operators.docs import build_documents

    texts = build_documents(
        spark.createDataFrame(pdf), num_ranges=4
    ).select("conv_id", F.col("doc_text").alias("text"))
    idx_docs = spark.read.parquet(f"{path}/docs").select("doc_id", "conv_id")
    texts = idx_docs.join(texts, "conv_id")

    extra = spark.createDataFrame(
        pd.DataFrame(
            [("zzz", 999999, "released in 2024 only")],
            columns=["conv_id", "doc_id", "text"],
        )
    ).select("doc_id", "conv_id", "text")
    texts2 = texts.select("doc_id", "conv_id", "text").unionByName(extra)

    phrases = [("a", "error retry"), ("num", "2024")]
    got = engine.phrase_search_batch(phrases, texts2)
    pairs = {(r["query_id"], r["doc_id"]) for r in got.collect()}
    assert ("num", 999999) in pairs
    want_a = {
        ("a", r["doc_id"])
        for r in engine.phrase_search("error retry", texts2).collect()
    }
    assert {p for p in pairs if p[0] == "a"} == want_a

    empty = engine.phrase_search_batch([], texts2)
    assert empty.count() == 0
    assert empty.columns == got.columns


def test_lang_id_trained_classifies_fixture_languages(spark):
    """The trained trigram NB must classify held-out sentences in its
    three fixture languages and be deterministic; the DuckDB oracle
    generated from the same literals must agree row-for-row."""
    import duckdb

    from sotohp_spark.functions.text import (
        lang_id_trained,
        lang_id_trained_oracle_sql,
        train_char_trigram_nb,
    )

    rows = [
        (0, "the weather today is very nice and the sky is blue"),
        (1, "je pense que le jardin est tres beau ce matin"),
        (2, "die kinder gehen heute morgen in den park"),
        (3, ""),
        (4, None),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"]).astype(
        {"text": object}
    )
    docs = spark.createDataFrame(pdf)
    got = {
        r["doc_id"]: r["p"]
        for r in docs.select(
            "doc_id", lang_id_trained(F.col("text")).alias("p")
        ).collect()
    }
    assert got[0] == "en" and got[1] == "fr" and got[2] == "de"
    # model training is deterministic
    m1, m2 = train_char_trigram_nb(), train_char_trigram_nb()
    assert m1 == m2
    # oracle agreement on the same rows
    con = duckdb.connect()
    con.register("documents", pdf)
    want = {
        int(r[0]): r[1]
        for r in con.execute(lang_id_trained_oracle_sql()).fetchall()
    }
    assert {k: got[k] for k in want} == want
