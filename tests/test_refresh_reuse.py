"""What a refresh reuses: a new QueryEngine over an index that live
engines already opened takes from them whatever did not change — the
directory readers, the term dictionary, the tombstone array and the
driver shard rows of every unchanged postings file.  These tests pin

- identity: after each of append, delete, compact_buckets,
  merge_segments and compact_index, a pinned engine that reuses the
  registry returns the same schema and rows as a cold engine (registry
  emptied) on the reference queries, disjunctive and conjunctive, with
  and without docs — and on the distributed leg, which must not read
  an executor cache a live engine filled over an older listing;
- cost: a pinned refresh of an unchanged index runs no Spark job, and
  the pin after an append reads only the appended postings files;
- the committed-snapshot guard on reused rows: a pin taken while a
  crashed append's postings sit in the live tree serves none of them;
- concurrency: engines opened, pinned and queried from several threads
  while a writer appends return what a serial engine on the same
  snapshot returns;
- the typed empty answer is built once per schema and engine;
- one snapshot: a re-pin never tears a query in flight on the same
  engine, a preload started during a pin keeps both updates, queries
  beside a looping re-pin return the serial answers, and no engine
  method assigns state other than the snapshot.
"""

import ast
import inspect
import sys
import threading
import uuid

import pandas as pd
import pytest

from sotohp_spark import fsio
from sotohp_spark.config import EngineConfig
from sotohp_spark.generator import generate_transcripts_pdf, reference_queries
from sotohp_spark.index import Bool, IndexBuilder, QueryEngine
from sotohp_spark.index import query as query_mod
from sotohp_spark.index import reader
from sotohp_spark.streaming.incremental import (
    append_conversations,
    compact_buckets,
    compact_index,
    delete_conversations,
    merge_segments,
)

CFG = EngineConfig(range_size=8, block_size=4, ranges_per_batch=2,
                   shuffle_partitions=4)
QUERIES = ["error retry timeout", "search query", "tool call"]


def _jobs_during(spark, fn):
    gid = uuid.uuid4().hex
    sc = spark.sparkContext
    sc.setJobGroup(gid, "job-count probe")
    try:
        out = fn()
    finally:
        sc.setJobGroup("default", "")
    return len(sc.statusTracker().getJobIdsForGroup(gid)), out


def _pinned(spark, path):
    eng = QueryEngine(spark, path)
    eng.preload_term_stats()
    eng.cache_postings()
    return eng


def _cold_pinned(spark, path):
    """A pinned engine that builds everything itself."""
    with reader._REUSE_LOCK:
        reader._REUSE.clear()
    return _pinned(spark, path)


def _time_chunks(pdf, n):
    first = pdf.groupby("conv_id")["ts"].min().sort_values()
    convs = list(first.index)
    size = (len(convs) + n - 1) // n
    return [pdf[pdf["conv_id"].isin(set(convs[i:i + size]))]
            for i in range(0, len(convs), size)]


def _postings_files(spark, path) -> set:
    return {rel for rel, _ in fsio.list_files(spark, f"{path}/postings")
            if rel.endswith(".parquet")}


def _assert_same_answers(reused, cold, what):
    for q in reference_queries()["query_text"]:
        for conj in (False, True):
            for with_docs in (False, True):
                a = reused.top_k(q, 10, conj, with_docs=with_docs)
                b = cold.top_k(q, 10, conj, with_docs=with_docs)
                assert a.schema == b.schema, (what, q, conj, with_docs)
                assert a.collect() == b.collect(), (what, q, conj, with_docs)


def test_reuse_identity_through_the_lifecycle(spark, tmp_path):
    path = str(tmp_path / "life")
    pdf = generate_transcripts_pdf(0.05)
    chunks = _time_chunks(pdf, 3)
    IndexBuilder(spark, path, CFG).build(
        spark.createDataFrame(chunks[0]), input_fingerprint="life"
    )
    live = [_pinned(spark, path)]
    victims = list(chunks[0]["conv_id"].drop_duplicates()[:3])
    more_victims = list(chunks[1]["conv_id"].drop_duplicates()[:2])
    steps = [
        ("append", lambda: append_conversations(
            spark, path, spark.createDataFrame(chunks[1]), CFG)),
        ("delete", lambda: delete_conversations(spark, path, victims, CFG)),
        ("compact_buckets", lambda: compact_buckets(spark, path, CFG)),
        ("merge_segments", lambda: (
            append_conversations(
                spark, path, spark.createDataFrame(chunks[2]), CFG),
            merge_segments(spark, path, CFG, fragment_files=1),
        )),
        ("compact_index", lambda: (  # tombstones to compact away
            delete_conversations(spark, path, more_victims, CFG),
            compact_index(spark, path, CFG),
        )),
    ]
    for what, step in steps:
        for eng in live:  # fill the executor caches of the live engines
            eng.LOCAL_PATH_MAX_POSTINGS = 0
            eng.top_k("error retry", 10).collect()
        before = _postings_files(spark, path)
        step()
        if what != "delete":  # every other step writes postings files
            assert _postings_files(spark, path) != before, what
        reused = _pinned(spark, path)
        held = {id(f) for e in live for f in e._snap.driver_shards._held}
        shared = [f for f in reused._snap.driver_shards._held if id(f) in held]
        if what in ("append", "delete"):  # unchanged files are reused
            assert shared, what
        cold = _cold_pinned(spark, path)
        assert reused.meta == cold.meta, what
        _assert_same_answers(reused, cold, what)
        # the distributed leg reads this engine's files, never the
        # executor cache an engine filled over an older listing
        reused.LOCAL_PATH_MAX_POSTINGS = cold.LOCAL_PATH_MAX_POSTINGS = 0
        for q in QUERIES:
            for with_docs in (False, True):
                a = reused.top_k(q, 10, with_docs=with_docs).collect()
                assert a == cold.top_k(q, 10, with_docs=with_docs).collect()
        live = [reused, cold]  # the registry now holds cold's entries


@pytest.fixture(scope="module")
def churned(spark, tmp_path_factory):
    """A built index after one append and one delete (so every
    directory, deletes included, has data files)."""
    path = str(tmp_path_factory.mktemp("refresh_idx"))
    pdf = generate_transcripts_pdf(0.05)
    IndexBuilder(spark, path, CFG).build(
        spark.createDataFrame(pdf), input_fingerprint="refresh"
    )
    new = generate_transcripts_pdf(0.01, seed=7)
    new["conv_id"] = "app-" + new["conv_id"]
    new["ts"] = new["ts"] + pd.Timedelta(days=120)
    append_conversations(spark, path, spark.createDataFrame(new), CFG)
    delete_conversations(
        spark, path, list(pdf["conv_id"].drop_duplicates()[:3]), CFG
    )
    return path


def test_unchanged_refresh_runs_no_spark_job(spark, churned):
    live = _pinned(spark, churned)
    jobs, eng = _jobs_during(spark, lambda: _pinned(spark, churned))
    assert jobs == 0
    assert eng._snap.deletes is not None and eng._snap.deletes.size == 3
    q = "error retry timeout"
    assert eng.top_k(q, 10).collect() == live.top_k(q, 10).collect()


def test_pin_after_append_reads_only_appended_files(spark, tmp_path,
                                                    monkeypatch):
    path = str(tmp_path / "grow")
    pdf = generate_transcripts_pdf(0.05)
    chunks = _time_chunks(pdf, 2)
    IndexBuilder(spark, path, CFG).build(
        spark.createDataFrame(chunks[0]), input_fingerprint="grow"
    )
    live = _pinned(spark, path)
    before = _postings_files(spark, path)
    append_conversations(spark, path, spark.createDataFrame(chunks[1]), CFG)
    appended = _postings_files(spark, path) - before
    assert appended

    eng = QueryEngine(spark, path)
    eng.preload_term_stats()
    frame_cls = type(eng._snap.postings)
    collect = frame_cls.collect
    read = set()

    def recording_collect(df):
        read.update(reader._rel_path(u, "postings")
                    for u in df.inputFiles() if "/postings/" in u)
        return collect(df)

    monkeypatch.setattr(frame_cls, "collect", recording_collect)
    jobs, n = _jobs_during(spark, eng.cache_postings)
    monkeypatch.undo()
    assert jobs > 0
    assert read == appended
    cold = _cold_pinned(spark, path)
    assert n == cold.cache_postings()
    held = {id(f) for f in live._snap.driver_shards._held}
    assert sum(id(f) in held for f in eng._snap.driver_shards._held) == len(before)
    q = "error retry timeout"
    assert eng.top_k(q, 10).collect() == cold.top_k(q, 10).collect()


def test_pinned_reader_between_append_phases_sees_committed_snapshot(
        spark, tmp_path):
    """The registry already holds the index when a crashed append's
    postings land in the live tree: a newly pinned engine must still
    serve exactly the committed rows, and the writer's retry must
    become visible to the next pin."""
    pdf = generate_transcripts_pdf(0.05)
    convs = sorted(pdf["conv_id"].unique())
    pdf_a = pdf[pdf["conv_id"].isin(set(convs[:30]))]
    pdf_b = pdf[pdf["conv_id"].isin(set(convs[30:]))]
    path = str(tmp_path / "vis")
    IndexBuilder(spark, path, CFG).build(
        spark.createDataFrame(pdf_a), input_fingerprint="vis"
    )
    live = _pinned(spark, path)
    n_rows = live.cache_postings()
    before = {q: live.top_k(q, 20).collect() for q in QUERIES}

    with pytest.raises(RuntimeError, match="kill-switch"):
        append_conversations(
            spark, path, spark.createDataFrame(pdf_b), CFG,
            _fail_before_commit=True,
        )
    assert fsio.glob(spark, f"{path}/_meta/pending_append_*.json")

    eng = _pinned(spark, path)
    assert eng.meta["max_doc"] == live.meta["max_doc"]
    assert eng.cache_postings() == n_rows
    for q in QUERIES:
        got = eng.top_k(q, 20).collect()
        assert got == before[q], q
        assert all(r["conv_id"] is not None for r in got), q
        assert all(r["doc_id"] <= eng.meta["max_doc"] for r in got), q
        ids = eng.top_k(q, 20, with_docs=False).collect()
        assert [r["doc_id"] for r in ids] == [r["doc_id"] for r in got], q

    meta = append_conversations(spark, path, spark.createDataFrame(pdf_b), CFG)
    assert not fsio.glob(spark, f"{path}/_meta/pending_append_*.json")
    eng2 = _pinned(spark, path)
    assert eng2.meta["n_docs"] == meta["n_docs"] > live.meta["n_docs"]
    cold = _cold_pinned(spark, path)
    for q in QUERIES:
        got = eng2.top_k(q, 50).collect()
        assert got == cold.top_k(q, 50).collect(), q
    assert any(
        r["doc_id"] > live.meta["max_doc"]
        for q in QUERIES for r in eng2.top_k(q, 50).collect()
    )


def test_concurrent_refreshes_beside_an_append(spark, tmp_path):
    """Four client threads each open, pin and query engines on one
    index while a fifth appends and refreshes.  Every answer must equal
    the serial answer for the snapshot its engine opened (keyed by the
    committed max_doc), with no exception."""
    pdf = generate_transcripts_pdf(0.05)
    chunks = _time_chunks(pdf, 2)
    path = str(tmp_path / "conc")
    IndexBuilder(spark, path, CFG).build(
        spark.createDataFrame(chunks[0]), input_fingerprint="conc"
    )
    queries = ["error retry", "tool call", "timeout", "search file"]

    def answers(eng):
        return {(q, wd): eng.top_k(q, 10, with_docs=wd).collect()
                for q in queries for wd in (False, True)}

    serial = {}
    eng = _cold_pinned(spark, path)
    serial[eng.meta["max_doc"]] = answers(eng)
    seen, errors = [], []

    def client():
        try:
            for _ in range(3):
                e = _pinned(spark, path)
                seen.append((e.meta["max_doc"], answers(e)))
        except Exception as e:  # reported below
            errors.append(e)

    def writer():
        try:
            append_conversations(
                spark, path, spark.createDataFrame(chunks[1]), CFG)
            e = _pinned(spark, path)
            seen.append((e.meta["max_doc"], answers(e)))
        except Exception as e:  # reported below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=client) for _ in range(4)]
        threads.append(threading.Thread(target=writer))
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    eng = _cold_pinned(spark, path)
    serial[eng.meta["max_doc"]] = answers(eng)
    assert len(serial) == 2 and len(seen) == 13
    for max_doc, got in seen:
        assert got == serial[max_doc], max_doc


def test_empty_answers_build_one_frame_per_schema(spark, churned,
                                                  monkeypatch):
    eng = QueryEngine(spark, churned)
    calls = []
    create = spark.createDataFrame

    def counting(data, *args, **kwargs):
        if isinstance(data, list) and not data:
            calls.append(args)
        return create(data, *args, **kwargs)

    monkeypatch.setattr(spark, "createDataFrame", counting)
    absent = "qqzzxxnotaterm"
    sets = [
        (["doc_id"], lambda: eng.matching_doc_ids(absent)),
        (["doc_id", "dl"], lambda: eng.matching_doc_ids(absent, with_dl=True)),
        (["query_id", "doc_id"], lambda: eng.matching_doc_ids_batch(
            [("q", absent)])),
        (["doc_id"], lambda: eng.match_phrase_prefix_doc_ids("")),
    ]
    schemas = {}
    for _ in range(3):
        for with_docs in (False, True):
            df = eng.top_k(absent, 10, with_docs=with_docs)
            assert df.collect() == []
            assert schemas.setdefault(with_docs, df.schema) == df.schema
        for names, call in sets:
            df = call()
            assert df.collect() == []
            assert df.schema.names == names
    assert len(calls) <= 2 + 3  # match_phrase_prefix shares "doc_id long"
    assert schemas[False].names == ["doc_id", "score"]
    assert tuple(schemas[True].names) == query_mod.HITS_COLUMNS


def test_matching_doc_ids_builds_only_its_answer(spark, churned,
                                                 monkeypatch):
    """A non-empty answer on the driver-local leg is one frame: no empty
    frame is built beside it."""
    eng = _pinned(spark, churned)
    q = "error retry"
    want = eng.matching_doc_ids(q).collect()
    calls = []
    create = spark.createDataFrame

    def counting(data, *args, **kwargs):
        calls.append(data)
        return create(data, *args, **kwargs)

    monkeypatch.setattr(spark, "createDataFrame", counting)
    df = eng.matching_doc_ids(q)
    monkeypatch.undo()
    assert want and sorted(df.collect()) == sorted(want)
    assert len(calls) == 1


def test_repin_does_not_tear_a_query_in_flight(spark, churned, monkeypatch):
    """A query that runs on the same engine while cache_postings builds
    its selective pin reads the snapshot it started with: the pre-pin
    rows, never a half-published pin."""
    from pyspark.sql.classic.dataframe import DataFrame

    eng = QueryEngine(spark, churned)
    q = "error retry"
    want = eng.top_k(q, 5, with_docs=False).collect()
    cache = DataFrame.cache
    got = []

    def caching(df):
        if not got:
            got.append(None)
            got[0] = eng.top_k(q, 5, with_docs=False).collect()
        return cache(df)

    monkeypatch.setattr(DataFrame, "cache", caching)
    eng.cache_postings(top_terms=3)
    monkeypatch.undo()
    assert got == [want]
    assert eng.top_k(q, 5, with_docs=False).collect() == want


def test_preload_during_a_pin_keeps_both(spark, churned, monkeypatch):
    """A dictionary preload started while cache_postings builds its
    selective pin on the same engine waits for it: the engine ends up
    with the pin and the dictionary, neither update lost."""
    from pyspark.sql.classic.dataframe import DataFrame

    eng = QueryEngine(spark, churned)
    cache = DataFrame.cache
    errors = []

    def preload():
        try:
            eng.preload_term_stats()
        except Exception as e:  # reported below
            errors.append(e)

    other = threading.Thread(target=preload)

    def caching(df):
        if other.ident is None:
            other.start()
            # long enough for an unserialized preload to publish first
            other.join(timeout=5)
        return cache(df)

    monkeypatch.setattr(DataFrame, "cache", caching)
    eng.cache_postings(top_terms=3)
    monkeypatch.undo()
    other.join(timeout=600)
    assert not other.is_alive() and not errors, errors
    assert eng._snap.hot_terms is not None and len(eng._snap.hot_terms) == 3
    assert eng._snap.df_cache


def test_queries_beside_repins_return_the_serial_answers(spark, churned):
    """Four client threads query one engine while a fifth re-pins it in
    a loop (full pin, selective pin, dictionary preload).  Every answer
    must equal the serial one, with no exception."""
    queries = ["error retry", "tool call", "timeout"]
    bool_q = Bool(must=["error"], should=["retry timeout"])

    def answers(eng):
        out = {"bool": eng.top_k_bool(bool_q, 10).collect()}
        for q in queries:
            out[q, "ids"] = eng.top_k(q, 10, with_docs=False).collect()
            out[q, "hits"] = eng.top_k(q, 10).collect()
            out[q, "set"] = sorted(eng.matching_doc_ids(q).collect())
        return out

    want = answers(_pinned(spark, churned))
    eng = QueryEngine(spark, churned)
    seen, errors = [], []
    done = threading.Event()

    def client():
        try:
            for _ in range(2):
                seen.append(answers(eng))
        except Exception as e:  # reported below
            errors.append(e)

    def pinner():
        try:
            while not done.is_set():
                eng.cache_postings()
                eng.cache_postings(top_terms=5)
                eng.preload_term_stats()
        except Exception as e:  # reported below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        clients = [threading.Thread(target=client) for _ in range(4)]
        pin = threading.Thread(target=pinner)
        for t in [pin, *clients]:
            t.start()
        for t in clients:
            t.join(timeout=600)
        done.set()
        pin.join(timeout=600)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in [pin, *clients])
    assert not errors, errors
    assert len(seen) == 8
    for got in seen:
        assert got == want


def _self_assignments(fn) -> set:
    """Engine attributes ``fn`` assigns: plain, augmented and subscript
    targets on ``self`` (tuple targets unpacked)."""
    out = set()
    for node in ast.walk(fn):
        if isinstance(node, ast.Assign):
            targets = list(node.targets)
        elif isinstance(node, (ast.AugAssign, ast.AnnAssign)):
            targets = [node.target]
        else:
            continue
        while targets:
            t = targets.pop()
            if isinstance(t, (ast.Tuple, ast.List)):
                targets += t.elts
                continue
            if isinstance(t, ast.Starred):
                targets.append(t.value)
                continue
            while isinstance(t, ast.Subscript):
                t = t.value
            if (isinstance(t, ast.Attribute) and isinstance(t.value, ast.Name)
                    and t.value.id == "self"):
                out.add(t.attr)
    return out


def test_engine_state_is_one_snapshot():
    """After __init__ no QueryEngine method assigns engine state other
    than the snapshot and the two per-call attributes; __init__ sets
    only the open's inputs and those."""
    tree = ast.parse(inspect.getsource(query_mod))
    cls = next(n for n in tree.body
               if isinstance(n, ast.ClassDef) and n.name == "QueryEngine")
    per_call = {"_snap", "_shared_bc", "last_query_stats"}
    opened = {"spark", "rules", "store", "path", "cfg", "_local_gate",
              "_publish", "MAX_DRIVER_DELETES"}
    methods = [f for f in cls.body
               if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))]
    assert any(f.name == "__init__" for f in methods)
    for f in methods:
        allowed = per_call | opened if f.name == "__init__" else per_call
        assert _self_assignments(f) <= allowed, f.name
