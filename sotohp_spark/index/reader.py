"""What a QueryEngine reads: one immutable ``Snapshot`` of an index.

A snapshot holds the committed meta, the directory readers and the
frames derived from them, the tombstones, and the serving tiers a pin
adds.  An engine holds one and replaces it whole: ``open_snapshot``
builds the first, ``pin`` and ``preload`` the next from the last.  A
query reads its engine's snapshot once and keeps it, so a concurrent
pin never tears it — the point-in-time reader Elasticsearch serves each
search from, swapped by one reference change on refresh.

What a refresh reuses (``_REUSE``).  A parquet index directory's data
files are immutable once listed, so whatever an engine builds from a
directory listing (its reader, the term dictionary, the tombstone
array) or from one postings file (its shard rows) is valid for any
later engine that lists the same (path, size, mtime) identities.  The
registry maps weakly and engines hold strongly, so an entry lives
exactly as long as some engine holds it.
"""

from __future__ import annotations

import dataclasses
import hashlib
import threading
import weakref
from collections import OrderedDict
from collections.abc import Mapping

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

TOPK_SCHEMA = T.StructType([T.StructField("doc_id", T.LongType(), False),
                            T.StructField("score", T.DoubleType(), False)])

# the with_docs result columns, in order (_attach_docs)
HITS_COLUMNS = ("doc_id", "conv_id", "score", "doc_ts", "n_turns", "doc_len")

_REUSE_LOCK = threading.Lock()
_REUSE: "weakref.WeakValueDictionary" = weakref.WeakValueDictionary()


def _registered(key, entry=None):
    """The live registry entry under ``key`` (None if there is none);
    given ``entry``, register it there unless another engine got there
    first — the first registration wins and every racer holds it."""
    with _REUSE_LOCK:
        if entry is None:
            return _REUSE.get(key)
        return _REUSE.setdefault(key, entry)


def _data_files(spark, root: str) -> tuple:
    """The (path, size, mtime) identity of every data file under
    ``root`` that Spark's file reader lists: names starting with ``.``,
    or with ``_`` outside a partition directory, are not data."""
    from sotohp_spark import fsio

    return tuple(
        f for f in fsio.list_file_stats(spark, root)
        if not any(
            p.startswith(".") or (p.startswith("_") and "=" not in p)
            for p in f[0].split("/")
        )
    )


def _rel_path(uri: str, root_name: str) -> str:
    """A data file's path below its index directory, from the URI
    Spark reports for it (inputFiles, input_file_name)."""
    from urllib.parse import unquote

    return unquote(uri).rsplit(f"/{root_name}/", 1)[-1]


class _DirState:
    """What engines built from one index directory as listed: its
    reader DataFrame and ``value``, the driver state derived from it
    (the term dictionary; the tombstone count and array).  ``files``
    is the listing, or None when the reader saw other files than the
    listing (a concurrent writer) — such an entry is never shared."""

    __slots__ = ("reader", "files", "value", "__weakref__")

    def __init__(self, reader, files):
        self.reader = reader
        self.files = files
        self.value = None


class _FileRows:
    """One postings data file's shard rows in the scoring projection,
    unguarded and grouped by term, with their payload bytes and sorted
    first_doc values (so each engine counts and masks by its own
    committed max_doc)."""

    __slots__ = ("by_term", "firsts", "payload", "__weakref__")

    def __init__(self, rows: list):
        by_term: dict[str, list] = {}
        for r in rows:
            by_term.setdefault(r["term"], []).append(r)
        self.by_term = by_term
        self.firsts = np.sort(np.fromiter(
            (r["first_doc"] for r in rows), np.int64, len(rows)))
        self.payload = sum(len(r["payload"] or b"") for r in rows)


class _ShardRows(Mapping):
    """term -> driver-tier shard rows of one engine: the rows of its
    postings files under its committed-snapshot guard (first_doc <=
    max_doc).  A read-only view; rows are shared with other engines
    and never mutated by scoring."""

    def __init__(self, files: list, max_doc: int):
        self._held = files
        self._max_doc = max_doc
        self._parts = [
            (f.by_term, not f.firsts.size or int(f.firsts[-1]) <= max_doc)
            for f in files
        ]

    def get(self, term, default=None):
        rows: list = []
        for by_term, committed in self._parts:
            part = by_term.get(term)
            if part:
                rows += part if committed else [
                    r for r in part if r["first_doc"] <= self._max_doc
                ]
        return rows or default

    def __getitem__(self, term):
        rows = self.get(term)
        if rows is None:
            raise KeyError(term)
        return rows

    def __iter__(self):
        terms = sorted({t for by_term, _ in self._parts for t in by_term})
        return (t for t in terms if self.get(t))

    def __len__(self):
        return sum(1 for _ in self)

    def count(self) -> int:
        """Shard rows visible to this engine."""
        return sum(
            int(np.searchsorted(f.firsts, self._max_doc, side="right"))
            for f in self._held
        )


class _Memo:
    """What queries fill lazily on a snapshot.  The tables — term df
    LRU (absent terms as 0), resolved ts windows, positional shard rows
    LRU, typed empty answers — depend only on the listing, so a pin
    passes them on (``repinned``); every dict operation on them holds
    ``lock``, and no Spark job runs under it.  The docs tier belongs to
    one pin: ``driver_docs_room`` is what its shard rows left of the
    driver budget (None while off or once tried), ``driver_docs`` the
    filled frame; it fills under the engine's local gate."""

    __slots__ = ("spark", "lock", "terms", "bounds", "pos_rows", "empties",
                 "driver_docs_room", "driver_docs")

    def __init__(self, spark, driver_docs_room: int | None = None,
                 tables: tuple | None = None):
        self.spark = spark
        self.lock, self.terms, self.bounds, self.pos_rows, self.empties = (
            tables or (threading.Lock(), OrderedDict(), {}, OrderedDict(), {})
        )
        self.driver_docs_room = driver_docs_room
        self.driver_docs: pd.DataFrame | None = None

    def repinned(self, driver_docs_room: int | None) -> "_Memo":
        """The same tables, with a fresh docs tier for a new pin."""
        return _Memo(self.spark, driver_docs_room, (
            self.lock, self.terms, self.bounds, self.pos_rows, self.empties,
        ))


@dataclasses.dataclass(frozen=True, eq=False)
class Snapshot:
    """One engine's immutable view of its index.  ``postings`` is
    guarded to the committed max_doc; ``postings_scoring`` is its
    positionless projection.  A pin sets ``postings_hot`` (the executor
    cache), ``hot_terms`` (its terms, when only the head is pinned) and
    ``driver_shards``; ``deletes`` is None when the tombstones stay
    distributed in ``deletes_df``; ``df_cache`` is the preloaded term
    dictionary."""

    meta: dict
    dirs: dict
    postings: DataFrame
    postings_scoring: DataFrame
    docs: DataFrame
    docs_raw: DataFrame
    term_stats: DataFrame
    deletes: np.ndarray | None
    deletes_df: DataFrame | None
    hits_struct: T.StructType
    memo: _Memo
    postings_hot: DataFrame | None = None
    hot_terms: frozenset | None = None
    driver_shards: _ShardRows | None = None
    df_cache: dict | None = None

    def empty(self, schema) -> DataFrame:
        """A typed empty answer of ``schema`` (a StructType or a DDL
        string), built once per schema: a DataFrame is immutable, so
        every empty answer can hand out the same one."""
        memo = self.memo
        with memo.lock:
            df = memo.empties.get(schema)
        if df is None:
            df = memo.spark.createDataFrame([], schema).limit(0)
            with memo.lock:
                df = memo.empties.setdefault(schema, df)
        return df


def _open_dir(spark, store, path: str | None, name: str) -> _DirState:
    """The reader of index directory ``name`` (postings, docs,
    term_stats or deletes) with its shared driver state.  On the
    parquet leg the entry is shared with every live engine whose
    listing of that directory has the same data files; the reader is
    created (one schema-inference job) only when none does.  The
    catalog leg opens its table reader on every engine."""
    if store.kind != "parquet":
        return _DirState(getattr(store, f"read_{name}")(), None)
    app = spark.sparkContext.applicationId
    root = f"{path}/{name}"
    files = _data_files(spark, root)
    key = (app, root, files)
    entry = _registered(key)
    if entry is None:
        # Spark's cache matches file relations by root path, not by
        # the files listed, so a frame an engine cached over an older
        # listing would serve a newer engine stale or deleted files;
        # the reader carries its listing's digest to keep them apart
        read = spark.read.option("basePath", root).option(
            "sotohp.listing",
            hashlib.sha1(repr(files).encode()).hexdigest(),
        )
        # Spark infers a directory's schema from one of its files, so
        # a live listing that shares a file with this one already
        # has it: reading with it skips the inference job
        last = _registered((app, root))
        if last is not None and not set(last.files).isdisjoint(files):
            read = read.schema(last.reader.schema)
        reader = read.parquet(root)
        seen = {_rel_path(u, name) for u in reader.inputFiles()}
        if seen == {f[0] for f in files}:
            entry = _registered(key, _DirState(reader, files))
            with _REUSE_LOCK:
                _REUSE[(app, root)] = entry
        else:
            entry = _DirState(reader, None)  # a writer moved files
    return entry


def _load_deletes(spark, store, path, dirs: dict, max_deletes: int):
    """(tombstone array or None, deletes frame or None), sized to the
    delete volume.

    Small delete sets (<= ``max_deletes``) are collected once: the
    array rides into the scoring closures and keeps the driver-local
    interactive path available.  Large delete sets are never collected
    past ``max_deletes + 1`` rows (one bounded collect both sizes and
    fetches them): the array is None and every scoring path cogroups
    the deletes frame with the postings on range_id — per-range delete
    bitmaps co-partitioned with the shards, O(deletes-in-range) per
    task, no driver OOM and no per-task broadcast of a global array."""
    if not store.has_deletes():
        return np.zeros(0, dtype=np.int64), None
    entry = dirs["deletes"] = _open_dir(spark, store, path, "deletes")
    df = entry.reader.select("doc_id")
    # shared by the engines on this listing: (n, every id) from n
    # rows, or (n, None) when there are at least n rows
    n, arr = entry.value or (0, None)
    if arr is None and n <= max_deletes:
        rows = df.limit(max_deletes + 1).collect()
        n = len(rows)
        if n <= max_deletes:
            arr = np.unique(np.array(
                [r["doc_id"] for r in rows], dtype=np.int64))
            arr.flags.writeable = False
        entry.value = (n, arr)
    if n > max_deletes:
        return None, df  # distributed-only: see _apply_per_range
    return arr, df


def open_snapshot(spark, store, path: str | None,
                  max_deletes: int) -> Snapshot:
    """The snapshot an engine opens with: meta after recovery, the
    directory readers (shared through the registry on the parquet
    leg), the guarded and projected frames, and the tombstones; no
    serving tier yet."""
    # engine open = recovery point: an interrupted compaction swap
    # (full or bucket-local) is finished, and on the catalog leg the
    # pending commit points are reconciled, so a reader never sees a
    # missing or torn index
    store.recover()
    meta = store.read_meta()
    if meta is None:
        raise ValueError(f"no index at {path or store.prefix}")
    dirs = {
        name: _open_dir(spark, store, path, name)
        for name in ("postings", "term_stats", "docs")
    }
    postings = (
        dirs["postings"].reader
        # COMMITTED-SNAPSHOT GUARD: phase 1 of a concurrent 2-phase
        # append moves postings files into the live tree BEFORE the
        # docs-table commit; their shards cover only doc ids above
        # this engine's meta["max_doc"] (ids are allocated past the
        # committed maximum), so one shard-level predicate masks
        # every uncommitted/ghost posting.  first_doc is a plain
        # data column -> parquet row-group pruning makes it ~free.
        # (Same guard on the catalog leg: a pending append's
        # postings snapshot may be committed before its docs
        # commit — identical ordering, identical mask.)
        .where(F.col("first_doc") <= int(meta["max_doc"]))
    )
    # explicit projection -> the tfs map column (kept for the postings
    # build) is pruned out of every docs scan; range_bucket (the hive
    # partition key, layout v3) rides along for DPP in _attach_docs.
    # Pre-v3 flat docs tables don't have the partition column — derive
    # it (no pruning, same semantics) so the engine stays
    # READ-compatible across layouts (the offline migrator upgrades
    # writes; reads must not require it).
    docs_raw = dirs["docs"].reader
    if "range_bucket" not in docs_raw.columns:
        span = meta["range_size"] * meta.get("ranges_per_batch", 8)
        docs_raw = docs_raw.withColumn(
            "range_bucket", (F.col("doc_id") / F.lit(span)).cast("int")
        )
    docs = docs_raw.select(
        "range_bucket", "doc_id", "conv_id", "doc_ts", "n_turns", "doc_len"
    )
    fields = {f.name: f for f in docs.schema.fields}
    fields["score"] = TOPK_SCHEMA["score"]
    deletes, deletes_df = _load_deletes(spark, store, path, dirs, max_deletes)
    return Snapshot(
        meta=meta,
        dirs=dirs,
        postings=postings,
        # scoring/candidate paths never touch the positional payload;
        # dropping the columns keeps the parquet scan pruned to the
        # positionless fields on a store_positions index (Lucene's
        # .doc/.pos file separation, as a projection)
        postings_scoring=postings.drop("pos_offsets", "pos_payload"),
        docs=docs,
        # unpruned frame (carries tfs) for the rare single-row readers
        # (explain); every scan-heavy path uses the pruned docs
        docs_raw=docs_raw,
        term_stats=dirs["term_stats"].reader,
        deletes=deletes,
        deletes_df=deletes_df,
        hits_struct=T.StructType([fields[c] for c in HITS_COLUMNS]),
        memo=_Memo(spark),
    )


def preload(snap: Snapshot) -> Snapshot:
    """``snap`` with the whole term dictionary on the driver, shared
    with every live engine on the same term_stats listing."""
    entry = snap.dirs["term_stats"]
    if entry.value is None:
        entry.value = {
            r["term"]: int(r["df"])
            for r in snap.term_stats.select("term", "df").collect()
        }
    return dataclasses.replace(snap, df_cache=entry.value)


def pin(snap: Snapshot, spark, path: str | None, top_terms: int | None,
        budget: int) -> tuple[Snapshot, int]:
    """(the pinned snapshot, its cached shard row count); see
    QueryEngine.cache_postings.  The previous pin's executor cache is
    released first; ``budget`` is the driver shard tier's payload
    budget."""
    if snap.postings_hot is not None:
        snap.postings_hot.unpersist()
    if top_terms is not None:
        hot_list = [
            r["term"]
            for r in snap.term_stats
            .orderBy(F.col("df").desc(), F.col("term"))
            .limit(int(top_terms))
            .select("term")
            .collect()
        ]
        hot = snap.postings_scoring.where(F.col("term").isin(hot_list))
        n = hot.cache().count()
        return dataclasses.replace(
            snap, postings_hot=hot, hot_terms=frozenset(hot_list),
            driver_shards=None, memo=snap.memo.repinned(None),
        ), n
    hot = snap.postings_scoring.cache()
    # driver tier (r08): when the ENTIRE scoring payload fits the
    # budget, also pin the shard rows in driver memory — the local fast
    # path then runs with zero Spark jobs per query.  Scale-adaptive:
    # past the budget (any big corpus) this stays off, one count
    # materializes the executor cache, and the per-query pruned collect
    # path is unchanged; the selective (top_terms=N) posture never
    # builds it.
    tier = _pin_shard_rows(snap, spark, path, budget)
    if tier is None:
        shards, n, room = None, hot.count(), None
    else:
        shards, payload = tier
        n, room = shards.count(), budget - payload
    # pin the docs METADATA projection too (doc_id, conv_id, doc_ts,
    # n_turns, doc_len — never text/tfs): every sort/collapse/agg
    # surface joins it per query.  Bounded by committed doc count — a
    # big corpus keeps the pruned parquet scan (row width ~40 B, so 10M
    # docs ~ 400 MB of executor storage).
    if int(snap.meta["n_docs"]) <= 10_000_000:
        snap.docs.cache()
    return dataclasses.replace(
        snap, postings_hot=hot, hot_terms=None, driver_shards=shards,
        memo=snap.memo.repinned(room),
    ), n


def _pin_shard_rows(snap: Snapshot, spark, path: str | None, budget: int):
    """(shard rows, payload bytes) of the driver shard tier, or None
    when the scoring payload exceeds ``budget``.

    The rows of a postings file some live engine already holds are
    reused; only the other files are probed for their payload and,
    when the total fits, collected once with each row tagged by its
    source file.  The view masks rows past the snapshot's committed
    max_doc, so a file moved in by a pending append is held but never
    served before the docs commit.  Without a shareable listing (the
    catalog leg, or a writer raced the open) the guarded scoring frame
    is probed and collected whole."""
    postings = snap.dirs["postings"]

    def payload_of(df: DataFrame) -> int:
        return df.agg(
            F.coalesce(F.sum(F.length("payload")), F.lit(0))
        ).collect()[0][0]

    if postings.files is None:
        if payload_of(snap.postings_scoring) > budget:
            return None
        rows = [_FileRows([r.asDict()
                           for r in snap.postings_scoring.collect()])]
    else:
        app = spark.sparkContext.applicationId
        root = f"{path}/postings"
        held = {f: _registered((app, root, *f)) for f in postings.files}
        missing = [f for f, e in held.items() if e is None]
        payload = sum(e.payload for e in held.values() if e is not None)
        if payload > budget:
            return None
        if missing:
            new = postings.reader if len(missing) == len(held) else (
                spark.read.schema(postings.reader.schema)
                .option("basePath", root)
                .parquet(*[f"{root}/{f[0]}" for f in missing])
            )
            new = new.drop("pos_offsets", "pos_payload")
            if payload + payload_of(new) > budget:
                return None
            by_file: dict[str, list] = {f[0]: [] for f in missing}
            tagged = new.withColumn("_file", F.input_file_name())
            for r in tagged.collect():
                d = r.asDict()
                by_file[_rel_path(d.pop("_file"), "postings")].append(d)
            for f in missing:
                held[f] = _registered((app, root, *f), _FileRows(by_file[f[0]]))
        rows = [held[f] for f in postings.files]
    return (
        _ShardRows(rows, int(snap.meta["max_doc"])),
        sum(f.payload for f in rows),
    )
