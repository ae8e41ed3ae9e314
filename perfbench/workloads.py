"""The benchmark's workloads, one client thread in a closed loop.

``search-hot``: a pinned engine (``preload_term_stats`` +
``cache_postings``) serves a seeded mix of ids/hits/bool queries, then
one write round (append, delete, refresh).
``ingest``: an unpinned engine over an index that fragments and merges;
rounds of append, delete, refresh and queries over whole merge cycles.

Every operation is timed around the public call into the program, runs
under its own Spark job group, and is checked for correctness after
the timed phase.
"""

from __future__ import annotations

import sys
import time
import traceback
from collections import defaultdict


import checks
import inputs
from measure import (JobCounter, median, pct, peak_rss_mb, reset_peak_rss,
                     self_seconds, storage, walk, written_payload_bytes)
from sotohp_spark import fsio
from sotohp_spark.config import EngineConfig
from sotohp_spark.generator import TRANSCRIPT_SCHEMA
from sotohp_spark.index import IndexBuilder, QueryEngine
from sotohp_spark.index import query as query_mod
from sotohp_spark.index.query import Bool
from sotohp_spark.operators import wand
from sotohp_spark.streaming import incremental
from sotohp_spark.streaming.incremental import (append_conversations,
                                                delete_conversations)

OPS = ("ids", "hits", "bool")
# Passes over the search mix per second of --seconds (one pass is ~3.3 s
# on a 4-core box).
PASSES_PER_SECOND = 0.3
# Ingest: one merge cycle is two appends at 4 shuffle partitions (the
# default auto_merge_segments=8 fires on every second append); one cycle
# with its refreshes and queries is ~30 s on a 4-core box.
CYCLE_SECONDS = 30.0
ROUNDS_PER_CYCLE = 2
ROUND_IDS, ROUND_HITS, ROUND_BOOL = 32, 4, 8
WARM_IDS, WARM_HITS, WARM_BOOL = 6, 1, 2
# Stop issuing timed work past this many seconds of process time, so a
# run on an overloaded box still ends inside the 180 s limit.
WALL_GUARD_S = 150.0


class Bench:
    """State shared by both workloads: the session, timers, job
    counters, operation records and failure accounting."""

    def __init__(self, spark, tracer, workdir: str, seed: int, t0: float,
                 nproc: int):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.t0 = t0
        self.index = f"{workdir}/index"
        self.jobs = JobCounter(spark)
        self.cfg = EngineConfig(shuffle_partitions=nproc)
        self.records: list = []
        self.attempted = 0
        self.failed = 0
        self.layer: dict = {}
        # run totals the metrics are derived from
        self.acc = defaultdict(float)
        self.samples = defaultdict(list)
        self.timed_start = None
        self.last_engine = None
        self._n = 0

    # ---------------------------------------------------------- plumbing

    def op_id(self, kind: str) -> str:
        self._n += 1
        return f"{kind}-{self._n:05d}"

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def out_of_time(self) -> bool:
        if time.perf_counter() - self.t0 > WALL_GUARD_S:
            print("perfbench: wall guard reached, timed phase cut short",
                  file=sys.stderr)
            return True
        return False

    def start_timed(self) -> None:
        self.timed_start = time.perf_counter()
        self.acc["setup_s"] = self.timed_start - self.t0
        self.acc["overhead_s"] = -self.tracer.overhead_s
        reset_peak_rss()

    def end_timed(self) -> None:
        self.acc["timed_s"] = time.perf_counter() - self.timed_start
        self.acc["rss_mb"] = peak_rss_mb()
        self.acc["overhead_s"] += self.tracer.overhead_s

    def run_op(self, kind: str, fn):
        """Run one operation under its job group and operation id;
        returns (record, value) or (None, None) when it raised."""
        self.attempted += 1
        rec = {"kind": kind, "op": self.op_id(kind)}
        try:
            with self.tracer.operation(rec["op"]), self.jobs.group(kind) as c:
                value = fn(rec)
        except Exception:
            traceback.print_exc()
            self.fail(f"{kind} raised")
            return None, None
        rec.update(c)
        self.records.append(rec)
        return rec, value

    # ------------------------------------------------------------ layers

    def build(self, turns_pdf) -> dict:
        turns = self.spark.createDataFrame(turns_pdf, schema=TRANSCRIPT_SCHEMA)

        def go(rec):
            with self.tracer.span("build") as s:
                meta = IndexBuilder(self.spark, self.index, self.cfg).build(
                    turns, input_fingerprint=f"perfbench-{self.seed}")
            rec["s"] = s.seconds
            return meta

        rec, meta = self.run_op("build", go)
        if rec is not None:
            self.layer.update({
                "build.wall_s": rec["s"], "build.spark_jobs": rec["jobs"],
                "build.spark_stages": rec["stages"],
                "build.spark_tasks": rec["tasks"],
            })
        return meta

    def open_engine(self, pin: bool, probe=None):
        """QueryEngine + preload_term_stats (+ cache_postings), then an
        optional probe query; one refresh when ``probe`` is given."""
        if pin:
            # release the previous engine's pinned frames first
            self.spark.catalog.clearCache()

        def go(rec):
            with self.tracer.span("refresh") as total:
                with self.tracer.span("open") as s:
                    engine = QueryEngine(self.spark, self.index)
                rec["open_ms"] = s.ms
                with self.tracer.span("open.preload") as s:
                    engine.preload_term_stats()
                rec["preload_ms"] = s.ms
                rec["pin_ms"] = 0.0
                if pin:
                    with self.tracer.span("open.pin") as s:
                        engine.cache_postings()
                    rec["pin_ms"] = s.ms
                if probe is not None:
                    with self.tracer.span("refresh.probe") as s:
                        rows = engine.top_k(probe[0], probe[1],
                                            with_docs=False).collect()
                    rec["probe_ms"] = s.ms
                    rec["doc_ids"] = [r["doc_id"] for r in rows]
            rec["ms"] = total.ms
            return engine

        return self.run_op("refresh" if probe is not None else "open", go)

    def query(self, engine, q, timed: bool):
        def go(rec):
            with self.tracer.span(f"{q.kind}.call") as s:
                if q.kind == "bool":
                    df = engine.top_k_bool(
                        Bool(must=q.must, should=q.should, must_not=q.must_not,
                             ts_min=q.ts_min, ts_max=q.ts_max),
                        q.k, with_docs=False)
                else:
                    df = engine.top_k(q.text, q.k, with_docs=q.kind == "hits",
                                      ts_min=q.ts_min, ts_max=q.ts_max)
            rec["call_ms"] = s.ms
            with self.tracer.span(f"{q.kind}.collect") as s:
                rows = df.collect()
            rec["collect_ms"] = s.ms
            rec["doc_ids"] = [r["doc_id"] for r in rows]
            rec["score"] = [r["score"] for r in rows]
            if q.kind == "hits":
                rec["conv_id"] = [r["conv_id"] for r in rows]
            rec["q"] = q
            rec["timed"] = timed
            if timed:
                self.samples[q.kind].append(rec["call_ms"] + rec["collect_ms"])

        return self.run_op(q.kind, go)

    def write(self, kind: str, fn) -> float:
        def go(rec):
            with self.tracer.span(kind) as s:
                fn()
            rec["s"] = s.seconds

        rec, _ = self.run_op(kind, go)
        return rec["s"] if rec is not None else 0.0

    # --------------------------------------------------------- reporting

    def end_to_end(self, live_text_bytes: int) -> dict:
        s = self.samples
        files = walk(self.index)
        return {
            "setup_s": self.acc["setup_s"],
            "ids_p50_ms": median(s["ids"]),
            "ids_p90_ms": pct(s["ids"], 90),
            "hits_p50_ms": median(s["hits"]),
            "bool_p50_ms": median(s["bool"]),
            "write_turns_per_s": self.acc["write_turns"] / self.acc["write_s"],
            "refresh_p50_ms": median(s["refresh"]),
            "index_bytes_per_text_byte": sum(files.values()) / live_text_bytes,
            "driver_rss_mb": self.acc["rss_mb"],
        }

    def per_layer(self, live_text_bytes: int) -> dict:
        timed = [r for r in self.records if r.get("timed")]
        out = dict(self.layer)
        out.update(storage(walk(self.index)))
        out["storage.text_bytes"] = live_text_bytes
        refreshes = [r for r in self.records if r["kind"] in ("open", "refresh")]
        for key, name in (("open_ms", "open.ms"), ("preload_ms", "open.preload_ms"),
                          ("pin_ms", "open.pin_ms")):
            out[name] = median([r[key] for r in refreshes])
        out["refresh.probe_ms"] = median(
            [r["probe_ms"] for r in refreshes if "probe_ms" in r])
        for op in OPS:
            recs = [r for r in timed if r["kind"] == op]
            for key in ("call_ms", "collect_ms"):
                out[f"{op}.{key}"] = median([r[key] for r in recs])
            for key in ("jobs", "tasks"):
                out[f"{op}.spark_{key}"] = median([r[key] for r in recs])
        appends = [r for r in self.records if r["kind"] == "append"]
        deletes = [r for r in self.records if r["kind"] == "delete"]
        out["append.wall_s"] = median([r["s"] for r in appends])
        out["append.spark_jobs"] = median([r["jobs"] for r in appends])
        out["delete.ms"] = median([r["s"] * 1e3 for r in deletes])
        out["delete.spark_jobs"] = median([r["jobs"] for r in deletes])
        out["append.bytes_written_per_text_byte"] = (
            self.acc["written_bytes"] / self.acc["written_text_bytes"])
        out.update(self._traced(timed, appends))
        return out

    def _traced(self, timed: list, appends: list) -> dict:
        """Per-layer numbers from the wrapper spans (traced run only)."""
        by_op = self.tracer.by_op()
        out = {}
        for op in OPS:
            recs = [r for r in timed if r["kind"] == op]
            acc = defaultdict(list)
            for r in recs:
                spans = by_op.get(r["op"], [])
                score = [s for s in spans if s.name == "wand.score"]
                decode = [s for s in spans if s.name == "postings.decode"]
                acc["wand_ms"].append(sum(s.ms for s in score))
                acc["wand_self_ms"].append(
                    sum(self_seconds(s, decode) for s in score) * 1e3)
                acc["wand_calls"].append(len(score))
                acc["decode_ms"].append(sum(s.ms for s in decode))
                acc["decode_calls"].append(len(decode))
                acc["tok_ms"].append(
                    sum(s.ms for s in spans if s.name == "tokenizer"))
            out[f"wand.{op}.score_ms"] = median(acc["wand_ms"])
            out[f"wand.{op}.self_ms"] = median(acc["wand_self_ms"])
            out[f"wand.{op}.calls"] = median(acc["wand_calls"])
            out[f"postings.{op}.decode_ms"] = median(acc["decode_ms"])
            out[f"postings.{op}.decode_calls"] = median(acc["decode_calls"])
            out[f"tokenizer.{op}.ms"] = median(acc["tok_ms"])
        calls, ms, merges, merge_s = [], [], 0, []
        for r in appends:
            spans = by_op.get(r["op"], [])
            ids = {s.sid: s for s in spans}
            top = [s for s in spans if s.name.startswith("fsio.") and not (
                s.parent in ids and ids[s.parent].name.startswith("fsio."))]
            calls.append(len(top))
            ms.append(sum(s.ms for s in top))
            m = [s for s in spans if s.name == "merge"]
            merges += len(m)
            merge_s += [s.seconds for s in m]
        out["fsio.calls"] = median(calls)
        out["fsio.ms"] = median(ms)
        out["merge.count"] = merges
        out["merge.wall_s"] = median(merge_s)
        out["trace.overhead_s"] = self.acc["overhead_s"]
        out["trace.overhead_share"] = self.acc["overhead_s"] / self.acc["timed_s"]
        out["trace.ids_p50_ms"] = median(self.samples["ids"])
        return out


def install_wrappers(tracer) -> None:
    """Traced run only: spans on the program's own layers."""
    tracer.wrap(wand, "score_range", "wand.score")
    tracer.wrap(wand, "decode_shard_blocks", "postings.decode")
    tracer.wrap(query_mod, "tokenize", "tokenizer")
    tracer.wrap(incremental, "compact_buckets", "merge")
    for name in sorted(vars(fsio)):
        fn = getattr(fsio, name)
        if (not name.startswith("_") and callable(fn)
                and getattr(fn, "__module__", None) == fsio.__name__):
            tracer.wrap(fsio, name, f"fsio.{name}")


# --------------------------------------------------------------- search-hot


def search_hot(b: Bench, seconds: int) -> int:
    base = inputs.base_corpus(b.seed)
    mix = inputs.query_mix(b.seed, 1, inputs.vocabulary(base), inputs.IDS_PER_PASS,
                           inputs.HITS_PER_PASS, inputs.BOOL_PER_PASS)
    b.build(base)
    _, engine = b.open_engine(pin=True)
    # warm-up: one full pass fills the docs cache that hits join against
    # and lets the driver-local path settle (its first ~50 calls are slower)
    for q in mix:
        b.query(engine, q, timed=False)

    b.start_timed()
    passes = max(1, round(seconds * PASSES_PER_SECOND))
    for p in range(passes):
        if b.out_of_time():
            break
        for q in inputs.pass_order(b.seed, mix, p):
            b.query(engine, q, timed=True)
    # one write round: an append (the first after a build never merges),
    # a delete, then refreshes of the pinned engine
    new = inputs.batch(b.seed, 0, base["ts"].max())
    dels = inputs.delete_script(b.seed, base, 1)[0]
    b.acc["write_s"] = write_round(b, new, dels, pin=True, round_no=0,
                                   refreshes=2)
    b.acc["write_turns"] = len(new)
    b.end_timed()

    # ---- checks (untimed) ----
    oracle = checks.SearchOracle(base)
    for r in b.records:
        if r["kind"] in OPS and not checks.same_result(
                r, oracle.expected(r["q"]), with_conv=r["kind"] == "hits"):
            b.fail(f"{r['q'].qid} ({r['kind']}) differs from the oracle")
    check_probes(b, base, [new])
    # stats after the append: df and n_docs keep counting deleted docs
    want_df = oracle.df()
    for t, d in checks.SearchOracle(new).df().items():
        want_df[t] = want_df.get(t, 0) + d
    b.attempted += 1
    if checks.read_df(b.index) != want_df:
        b.fail("term_stats df differs from the oracle")
    b.attempted += 1
    n_docs = len(checks.read_docs(b.index))
    if n_docs != oracle.n_docs() + new["conv_id"].nunique():
        b.fail(f"docs table holds {n_docs} docs")
    check_live(b, base, [new], [dels])
    return live_text(base, [new], [dels])


# ------------------------------------------------------------------ ingest


def ingest(b: Bench, seconds: int) -> int:
    base = inputs.base_corpus(b.seed)
    vocab = inputs.vocabulary(base)
    rounds = max(1, round(seconds / CYCLE_SECONDS)) * ROUNDS_PER_CYCLE
    dels = inputs.delete_script(b.seed, base, rounds)
    b.build(base)
    # warm-up: the unpinned query path's first parquet scans
    _, engine = b.open_engine(pin=False)
    for q in inputs.query_mix(b.seed, 2, vocab, WARM_IDS, WARM_HITS, WARM_BOOL):
        rec, _ = b.query(engine, q, timed=False)
        if rec is not None:
            rec["round"] = -1

    b.start_timed()
    batches, last_ts = [], base["ts"].max()
    for r in range(rounds):
        if b.out_of_time():
            break
        new = inputs.batch(b.seed, r, last_ts)
        last_ts = new["ts"].max()
        batches.append(new)
        b.acc["write_s"] += write_round(b, new, dels[r], pin=False,
                                        round_no=r, refreshes=2)
        b.acc["write_turns"] += len(new)
        engine = b.last_engine
        mix = inputs.query_mix(b.seed, 10 + r, vocab, ROUND_IDS, ROUND_HITS,
                               ROUND_BOOL)
        for q in inputs.pass_order(b.seed, mix, r):
            rec, _ = b.query(engine, q, timed=True)
            if rec is not None:
                rec["round"] = r
    b.end_timed()

    # ---- checks (untimed) ----
    check_probes(b, base, batches)
    conv_of = model_doc_ids(base, batches)
    for r in b.records:
        if r["kind"] not in OPS:
            continue
        gone = {c for d in dels[:r["round"] + 1] for c in d}
        convs = r.get("conv_id") or [conv_of.get(d) for d in r["doc_ids"]]
        if any(c is None or c in gone for c in convs):
            b.fail(f"{r['q'].qid} round {r['round']} returned a deleted "
                   "or unknown conversation")
    check_live(b, base, batches, dels[:len(batches)])
    return live_text(base, batches, dels[:len(batches)])


# ----------------------------------------------------------------- shared


def write_round(b: Bench, new, dels, pin: bool, round_no: int,
                refreshes: int) -> float:
    """Append one batch, delete a few older conversations, then
    reopen the engine ``refreshes`` times, each ending in a probe for
    the new batch.  Returns the write calls' wall seconds."""
    before = walk(b.index)
    frame = b.spark.createDataFrame(new, schema=TRANSCRIPT_SCHEMA)
    t = b.write("append", lambda: append_conversations(
        b.spark, b.index, frame, b.cfg))
    t += b.write("delete", lambda: delete_conversations(
        b.spark, b.index, dels))
    b.acc["written_bytes"] += written_payload_bytes(before, walk(b.index))
    b.acc["written_text_bytes"] += inputs.text_bytes(new)
    n_new = new["conv_id"].nunique()
    for _ in range(refreshes):
        rec, engine = b.open_engine(
            pin=pin, probe=(inputs.marker(round_no), n_new + 5))
        if rec is not None:
            rec["round"] = round_no
            b.samples["refresh"].append(rec["ms"])
            b.last_engine = engine
    return t


def model_doc_ids(base, batches) -> dict:
    """doc id -> conv id as the engine assigns them: the base in
    (first ts, conv_id) order, each appended batch after the previous
    highest id in the same order (deletes only hit base conversations,
    so the highest id is never deleted)."""
    order = checks.doc_order(base)
    for new in batches:
        order += checks.doc_order(new)
    return dict(enumerate(order))


def check_probes(b: Bench, base, batches) -> None:
    conv_of = model_doc_ids(base, batches)
    for r in b.records:
        if r["kind"] != "refresh":
            continue
        want = set(batches[r["round"]]["conv_id"])
        got = {conv_of.get(d) for d in r["doc_ids"]}
        if got != want:
            b.fail(f"refresh probe of round {r['round']} found "
                   f"{len(got & want)} of {len(want)} new conversations")


def check_live(b: Bench, base, batches, dels) -> None:
    """The final index holds exactly base + appended - deleted, under the
    doc ids the model predicts."""
    b.attempted += 2
    gone = {c for d in dels for c in d}
    want = set(base["conv_id"]) | {c for n in batches for c in n["conv_id"]}
    want -= gone
    live = checks.live_conv_ids(b.index)
    if live != want:
        b.fail(f"index holds {len(live)} live conversations, want {len(want)}")
    conv_of = model_doc_ids(base, batches)
    docs = checks.read_docs(b.index)
    if any(conv_of.get(int(d)) != c for d, c in zip(docs["doc_id"], docs["conv_id"])):
        b.fail("doc ids differ from the append order")


def live_text(base, batches, dels) -> int:
    gone = {c for d in dels for c in d}
    frames = [base] + list(batches)
    return sum(inputs.text_bytes(f[~f["conv_id"].isin(gone)]) for f in frames)


WORKLOADS = {"search-hot": search_hot, "ingest": ingest}
