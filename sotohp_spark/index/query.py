"""BM25 top-k query engine over the built index.

Distributed plan (driver -> executors -> driver merge, the analog of
the reference's entry point C, SURVEY §3.3):

1. tokenize the query with the SAME analysis chain as documents
   (reference parity: queries and docs share extractKeywords
   semantics, MediaServiceLive.scala:1641-1668);
2. look up df per query term in term_stats (tiny, driver-side) ->
   idf weights; terms absent from the corpus drop out;
3. scan only the postings rows of those terms: the postings files are
   sorted by term, so the `term IN (...)` predicate prunes parquet
   row groups; doc-range pruning comes free from the hive partition
   column `range_bucket`;
4. groupBy(range_id).applyInPandas: block-max WAND (or conjunctive
   intersection) per aligned doc range -> local top-k;
5. global ORDER BY (score desc, doc_id asc) LIMIT k — a k-row
   driver merge, never a full sort of all candidates (Spark's
   TakeOrderedAndProject).

Latency note: for interactive single queries the candidate postings
for 1-4 terms are usually small; `top_k` also offers a `local`
fast path that collects the pruned shards and scores on the driver —
same code path (score_range), used when the shard count is tiny.
"""

from __future__ import annotations

import logging
import threading

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sotohp_spark.config import EngineConfig, DEFAULT
from sotohp_spark.functions.tokenizer import KeywordRules, tokenize
from sotohp_spark.index import reader
from sotohp_spark.index.reader import HITS_COLUMNS, TOPK_SCHEMA
from sotohp_spark.operators import bm25, wand

log = logging.getLogger(__name__)


from dataclasses import dataclass  # noqa: E402


@dataclass(frozen=True)
class Bool:
    """A composable ES ``bool`` query (the single object the
    reference's dashboards send to Elasticsearch,
    ElasticOperations.scala:32-76) — every clause list holds match
    clauses over the analyzed text stream:

      * a clause is ``"error retry"`` (boost 1.0) or
        ``("error retry", 2.0)`` — a MATCH clause: it matches a doc
        iff ANY of its analyzed terms match, and contributes the
        boosted BM25 sum of its matched terms (ES match semantics);
      * ``must``: every clause must match (AND across clauses, OR
        within a clause); all contribute to the score;
      * ``should``: optional clauses; matching ones add score;
        ``minimum_should_match`` (default: 1 when there are no must
        clauses, else 0 — the ES default) requires that many should
        clauses to match;
      * ``must_not``: clauses that EXCLUDE matching docs (membership
        only — boosts ignored, like ES);
      * ``filter``: match clauses in FILTER CONTEXT — each must match
        (like must) but contributes NOTHING to the score (ES filter
        clauses are unscored; compiled as required clause groups whose
        term weight is zero);
      * ``ts_min``/``ts_max``: the time-window filter (membership
        window, scores keep global collection stats).

    Execute with ``QueryEngine.top_k_bool``.
    """

    must: tuple = ()
    should: tuple = ()
    must_not: tuple = ()
    filter: tuple = ()
    ts_min: object = None
    ts_max: object = None
    minimum_should_match: int | None = None

    def __post_init__(self):
        # accept lists/tuples interchangeably; freeze to tuples
        for name in ("must", "should", "must_not", "filter"):
            v = getattr(self, name)
            if not isinstance(v, tuple):
                object.__setattr__(self, name, tuple(v))


def _bool_clauses(clauses) -> list:
    """Normalize a Bool clause list to [(text, boost, fields, terms)].

    Accepted clause forms: ``"error retry"`` (boost 1.0),
    ``(text, boost)``, or a dict with optional keys beyond ``text``/
    ``boost``:

      * ``fields``: a PER-CLAUSE field list (names or (name, boost)
        pairs) overriding the query-level ``fields`` argument — the
        query_string ``field:term`` scoping shape;
      * ``terms``: pre-analyzed {term: qtf-weight} bypassing the
        tokenizer — how prefix/wildcard expansions enter a clause
        (each expansion keeps its OWN idf downstream, the Lucene
        scoring-rewrite contract).  Mutually exclusive with a
        non-empty ``text``.
    """
    out = []
    for c in clauses:
        if isinstance(c, str):
            out.append((c, 1.0, None, None))
        elif isinstance(c, dict):
            text = str(c.get("text", ""))
            boost = float(c.get("boost", 1.0))
            if boost <= 0.0:
                raise ValueError(f"clause boost must be > 0, got {boost}")
            fields = c.get("fields")
            terms = c.get("terms")
            if terms is not None:
                if text:
                    raise ValueError(
                        "clause takes text OR pre-analyzed terms, not both"
                    )
                terms = {str(t): float(w) for t, w in dict(terms).items()}
                if not terms:
                    raise ValueError("clause 'terms' must be non-empty")
                if any(w <= 0.0 for w in terms.values()):
                    raise ValueError("clause term weights must be > 0")
            out.append((text, boost, fields, terms))
        else:
            text, boost = c
            boost = float(boost)
            if boost <= 0.0:
                raise ValueError(f"clause boost must be > 0, got {boost}")
            out.append((str(text), boost, None, None))
    return out


def _edit_distance(a: str, b: str, cap: int) -> int:
    """Plain Levenshtein distance, early-exited past ``cap`` (returns
    cap+1 then).  Driver-side attribution twin of the JVM
    F.levenshtein predicate in top_k_fuzzy — same metric, no
    transpositions, so the two can never disagree on membership."""
    if abs(len(a) - len(b)) > cap:
        return cap + 1
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        best = i
        for j, cb in enumerate(b, 1):
            v = min(
                prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)
            )
            cur.append(v)
            best = min(best, v)
        if best > cap:
            return cap + 1
        prev = cur
    return prev[-1]


class QueryEngine:
    # candidate postings below this count are scored on the driver
    # (same score_range code, no Spark job) — the interactive path;
    # above it, scoring distributes per doc-range.  At 10^12 turns a
    # hot term exceeds this instantly; a long-tail term never does.
    LOCAL_PATH_MAX_POSTINGS = 2_000_000

    # tombstone counts at or below this are collected once and shipped
    # in the scoring closures (cheap, enables the driver-local fast
    # path); above it the deletes STAY distributed and are cogrouped
    # with the postings per range — no driver materialization ever.
    MAX_DRIVER_DELETES = 200_000

    # cache_postings(None) additionally pins shard rows in DRIVER
    # memory when the total scoring payload fits this budget (zero
    # Spark jobs per warm local-path query); bigger indexes keep the
    # per-query pruned-collect path.  The budget meters PAYLOAD bytes;
    # the resident python row dicts (block-offset lists, per-dict
    # overhead) run ~3-10x that, so 128 MB of payload budgets roughly
    # 0.4-1.3 GB of driver heap against the 8 GB default.
    DRIVER_POSTINGS_CACHE_MAX_BYTES = 128 << 20

    # per-TERM driver LRU for POSITIONAL shard rows (payload +
    # pos_payload), filled on first use by the local phrase/span leg —
    # the serving-tier page-cache analog for the positional stream,
    # bounded so a big corpus only ever pins its query working set.
    DRIVER_POS_CACHE_MAX_BYTES = 128 << 20

    def __init__(self, spark: SparkSession, index_path: str | None = None,
                 rules: KeywordRules | None = None, cfg: EngineConfig | None = None,
                 max_driver_deletes: int | None = None, store=None):
        """Open over a parquet index path (default) or any index store.

        ``store``: an explicit sources/catalog store object; when None
        it resolves from ``cfg`` — a configured ``iceberg_table_prefix``
        (with the runtime present) opens the catalog tables, otherwise
        the parquet layout at ``index_path``.  Every query path below
        is leg-independent: it sees only DataFrames + meta.

        An engine holds one immutable snapshot (index/reader.py),
        opened here: meta after recovery, the directory readers, the
        postings masked to the committed ``max_doc``, the docs
        projections and the tombstones.  Queries load it once per
        method and keep it; preload_term_stats and cache_postings
        publish a new one with one assignment, one at a time, so they
        never tear a query in flight.  On the parquet leg a refresh (a
        new engine over the same index) reuses what live engines built
        from unchanged files — readers, term dictionary, tombstones,
        shard rows — so opening over an unchanged index runs no Spark
        job."""
        self.spark = spark
        self.rules = rules
        if store is None and index_path is not None:
            from sotohp_spark.sources.catalog import resolve_store

            store = resolve_store(
                spark, index_path, cfg if cfg is not None else DEFAULT
            )
        if store is None:
            raise ValueError("QueryEngine needs index_path or store")
        self.store = store
        self.path = index_path.rstrip("/") if index_path else None
        if max_driver_deletes is not None:
            self.MAX_DRIVER_DELETES = max_driver_deletes
        self._snap = reader.open_snapshot(
            spark, store, self.path, self.MAX_DRIVER_DELETES
        )
        meta = self._snap.meta
        # GEOMETRY COMES FROM META, NEVER FROM THE CALLER'S CFG: the
        # on-disk partition key (range_bucket), block layout, and range
        # boundaries were fixed at build time.  A caller cfg exists to
        # tune SCORING (k1/b) and execution (shuffle_partitions); if its
        # default geometry fields were honored, _attach_docs /
        # _doc_bounds_for_ts would derive a bucket span that mismatches
        # the on-disk hive key and every query would silently return
        # zero rows (compact_buckets guards against exactly this class;
        # the engine must too).
        self.cfg = EngineConfig(
            k1=cfg.k1 if cfg is not None else meta["k1"],
            b=cfg.b if cfg is not None else meta["b"],
            range_size=meta["range_size"],
            block_size=meta["block_size"],
            ranges_per_batch=meta.get("ranges_per_batch", 8),
            shuffle_partitions=(
                cfg.shuffle_partitions if cfg is not None
                else DEFAULT.shuffle_partitions
            ),
        )
        # serving-concurrency gate for the driver-LOCAL fast path: the
        # local path decodes postings in THIS process, so two client
        # threads running it concurrently serialize on the GIL and
        # thrash memory bandwidth — measured at sf100 the 4-client
        # local-path posture collapsed to 0.6 QPS while the distributed
        # path scaled 1.3 -> 7.1 QPS at 8 clients.  One in-flight query
        # may hold the driver (single-client latency unchanged); any
        # CONCURRENT query falls through to per-range distributed
        # scoring, which shares executors via FAIR pools.  Non-blocking
        # acquire = routing decision, never a wait.
        self._local_gate = threading.BoundedSemaphore(1)
        # serializes the publishers (cache_postings, preload_term_stats):
        # each reads the current snapshot and publishes one built from
        # it, so two running at once would drop one's update.  Queries
        # never take it.
        self._publish = threading.Lock()
        # the latest ``shared`` table _apply_per_range broadcast (see
        # there); None until a distributed batch call runs
        self._shared_bc = None
        self.last_query_stats: dict = {}

    @property
    def meta(self) -> dict:
        """The committed index meta this engine opened at."""
        return self._snap.meta

    def _query_rules(self, source=None):
        """Per-source query tokenization (reference: rules are resolved
        per store, MediaServiceLive.scala:1670-1676).  A plain
        KeywordRules applies to every query; a KeywordRulesRouter
        resolves by the optional ``source`` argument."""
        from sotohp_spark.functions.tokenizer import KeywordRulesRouter

        if isinstance(self.rules, KeywordRulesRouter):
            return self.rules.rules_for(source)
        return self.rules

    # cap on the per-term df LRU (vocabulary working set for an
    # interactive session; the full dictionary may not fit the driver)
    TERM_LRU_MAX = 100_000

    # verify-branch cap for phrase_search_batch: beyond this the
    # when-chain becomes an O(N)-branch plan expression; switch to the
    # broadcast pattern-table + column-valued regexp_like path
    WHEN_CHAIN_MAX = 16

    def _term_dfs(self, terms) -> dict:
        """df per query term.  Three tiers:
        1. full dictionary preloaded (preload_term_stats) — dict hit;
        2. LRU of previously looked-up terms (negative results cached
           as 0) — repeat queries over a session's working set cost
           ZERO Spark jobs;
        3. ONE pruned parquet lookup job for the misses: term_stats is
           written sorted by term, so the IN-list predicate prunes to
           the row groups containing those terms.
        This is what keeps the interactive path viable when the
        vocabulary is too large to collect (tens of millions of
        distinct terms and up)."""
        snap = self._snap
        if snap.df_cache is not None:
            return {t: snap.df_cache[t] for t in terms if t in snap.df_cache}
        lru = snap.memo.terms
        out: dict[str, int] = {}
        missing = []
        with snap.memo.lock:
            for t in terms:
                if t in lru:
                    lru.move_to_end(t)
                    out[t] = lru[t]
                else:
                    missing.append(t)
        if missing:
            found = {
                r["term"]: int(r["df"])
                for r in snap.term_stats.where(F.col("term").isin(missing))
                .select("term", "df")
                .collect()
            }
            with snap.memo.lock:
                for t in missing:
                    v = found.get(t, 0)
                    lru[t] = v
                    out[t] = v
                while len(lru) > self.TERM_LRU_MAX:
                    lru.popitem(last=False)
        return {t: v for t, v in out.items() if v > 0}

    # ------------------------------------------------------------------
    def query_weights(self, query_text: str, source=None):
        """(term -> qtf*idf, total candidate postings) for corpus terms."""
        toks = tokenize(query_text, self._query_rules(source))
        if not toks:
            return {}, 0
        qtf: dict[str, int] = {}
        for t in toks:
            qtf[t] = qtf.get(t, 0) + 1
        dfs = self._term_dfs(list(qtf))
        n = self.meta["n_docs"]
        weights = {
            t: qtf[t] * bm25.lucene_idf_scalar(n, d) for t, d in dfs.items()
        }
        return weights, sum(dfs.values())

    def cache_postings(self, top_terms: int | None = None) -> int:
        """Pin the postings hot set in executor memory (the serving-node
        posture; measured ~30% p95 cut at local scale).

        ``top_terms=None`` (default): cache the whole POSITIONLESS
        scoring projection.  Even on a store_positions index this never
        pins pos_offsets/pos_payload (comparable in size to the doc
        payload) — BM25-only serving should not pay phrase memory.

        ``top_terms=N``: SELECTIVE — cache only the N highest-df terms.
        Warm p95 tracks the Zipf-head posting volume (BENCH/p95_sf400),
        so the head is the hot set; caching it bounds executor cache
        memory to the head's postings while rare terms keep the pruned
        parquet path (term-sorted row groups -> the cold read is the
        cheap one).  At 100 TB you pin the head, not the table.
        Scoring-path routing is driver-side exact: query terms are
        split against the hot set and the cold scan's IN-list carries
        ONLY the cold terms, so parquet pushdown is never polluted by a
        NOT-IN over the hot list.

        Driver tiers (``top_terms=None`` only): when the whole scoring
        payload fits DRIVER_POSTINGS_CACHE_MAX_BYTES, the shard rows are
        pinned in driver memory too, and what they leave of that budget
        is reserved for the docs metadata (doc_id, conv_id, doc_ts,
        n_turns, doc_len — never text/tfs).  The docs tier is filled by
        the first ``with_docs`` query on the driver-local path, not
        here, and stays off when the collected projection does not fit
        the remainder.  With both tiers on a warm ``with_docs`` top-k
        runs no Spark job; with only the shard tier its metadata comes
        from the docs join.

        The driver shard rows are held per postings data file and
        shared with every live engine on the same index: a re-pin after
        an append collects only the appended files, and a re-pin over
        an unchanged index runs no Spark job.  With the driver tier on,
        the executor cache is marked but not materialized here — the
        first distributed-leg read fills it; with it off, one count
        materializes it.

        Publishes the pinned snapshot with one assignment: a query in
        flight finishes on the one it started with; the term, window
        and positional memos pass on.  Pins and preload_term_stats on
        one engine run one at a time.  Returns the number of cached
        shard rows.  Re-invocation releases the previous pin first."""
        with self._publish:
            self._snap, n = reader.pin(
                self._snap, self.spark, self.path, top_terms,
                self.DRIVER_POSTINGS_CACHE_MAX_BYTES,
            )
        return n

    def _scoring_shards(self, terms) -> DataFrame:
        """Postings shards for ``terms`` (positionless projection),
        routed through the selective cache when one is pinned: hot
        terms read the InMemoryRelation, cold terms read parquet with
        an IN-list of only the cold terms (full pushdown).  One plan,
        one job — the union lives inside the same action."""
        snap = self._snap
        terms = sorted(terms)
        if snap.hot_terms is None:
            return snap.postings_scoring.where(F.col("term").isin(terms))
        hot = [t for t in terms if t in snap.hot_terms]
        cold = [t for t in terms if t not in snap.hot_terms]
        parts = []
        if hot:
            parts.append(snap.postings_hot.where(F.col("term").isin(hot)))
        if cold:
            parts.append(
                snap.postings_scoring.where(F.col("term").isin(cold))
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def preload_term_stats(self) -> int:
        """Pull term->df to the driver (the search head's dictionary
        cache).  Vocabulary is O(distinct terms) — fine up to tens of
        millions; beyond that leave it off and pay one pruned parquet
        lookup per query.  Publishes a new snapshot carrying it, after
        any pin in progress on this engine."""
        with self._publish:
            self._snap = snap = reader.preload(self._snap)
        return len(snap.df_cache)

    def _coerce_ts(self, v):
        """Normalize a window bound to a NAIVE session-local datetime —
        meta['segment_ts'] stores naive session-tz wall times (str of a
        Spark timestamp), so a tz-AWARE caller argument must be
        converted to the session zone before comparison (Spark's own
        column filters do the equivalent on the scan side)."""
        import datetime

        if v is None:
            return None
        if not isinstance(v, datetime.datetime):
            v = datetime.datetime.fromisoformat(str(v))
        if v.tzinfo is not None:
            from zoneinfo import ZoneInfo

            tz = self.spark.conf.get("spark.sql.session.timeZone")
            v = v.astimezone(ZoneInfo(tz)).replace(tzinfo=None)
        return v

    def _doc_bounds_for_ts(self, ts_min, ts_max):
        """Translate a timestamp window to inclusive doc-id intervals,
        ONE PER INDEX SEGMENT.

        Doc ids are assigned in (doc_ts, conv_id) order WITHIN a
        segment (docs.py); each append creates a new segment at the top
        of the id space (meta["segments"]), so the window is a union of
        per-segment intervals — the engine's analog of the reference's
        monthly-index routing (ElasticOperations.scala:113-130).  A
        single-interval answer would be WRONG after an append: a
        February conversation appended after a March one gets a doc_id
        above all of March, so the envelope would sweep March in.

        meta["segment_ts"] (per-segment event-time bounds, recorded at
        build/append) answers the common cases from METADATA ALONE:
        a segment disjoint from the window is skipped, one fully inside
        it contributes its whole id interval — the interactive monthly-
        window query never runs a docs-scan job.  Only segments the
        window PARTIALLY overlaps need a scan, and that scan is pruned
        to their range buckets (hive partition pruning on docs).

        Resolved windows are memoized per segment layout (r08): the
        (window -> id-interval) answer is index METADATA — like the
        term df memo — so a repeated window (dashboards
        re-issuing the same month) skips the partial-segment scan.
        The key carries max_doc + segment count, so any append (which
        changes both) naturally misses; tombstones never change id
        intervals."""
        snap = self._snap
        meta = snap.meta
        w_lo, w_hi = self._coerce_ts(ts_min), self._coerce_ts(ts_max)
        lru_key = (
            str(w_lo), str(w_hi), int(meta["max_doc"]),
            len(meta.get("segments") or []),
        )
        memo = snap.memo
        with memo.lock:
            cached = memo.bounds.get(lru_key)
        if cached is not None:
            return list(cached) if cached else None
        segs = [
            (int(lo), int(hi))
            for lo, hi in meta.get("segments") or [[0, meta["max_doc"]]]
        ]
        seg_ts = meta.get("segment_ts") or []
        full, partial = [], []
        for idx, (lo, hi) in enumerate(segs):
            b = seg_ts[idx] if idx < len(seg_ts) else None
            if b is None:
                partial.append((lo, hi))  # unknown bounds: must scan
                continue
            s_lo, s_hi = self._coerce_ts(b[0]), self._coerce_ts(b[1])
            if (w_lo is not None and s_hi < w_lo) or (
                w_hi is not None and s_lo > w_hi
            ):
                continue  # disjoint: skip without touching data
            if (w_lo is None or w_lo <= s_lo) and (w_hi is None or s_hi <= w_hi):
                full.append((lo, hi))  # window covers the whole segment
            else:
                partial.append((lo, hi))

        ivs = list(full)
        if partial:
            d = snap.docs
            span = self.cfg.range_size * self.cfg.ranges_per_batch
            # same IN-list cap as _prune_shards_to_bounds: a segment
            # spanning millions of buckets must not materialize them
            # all into a literal list — fall back to min/max envelopes
            n_buckets = sum(hi // span - lo // span + 1 for lo, hi in partial)
            if n_buckets <= self.MAX_PRUNE_BUCKET_LIST:
                buckets = sorted(
                    {
                        b
                        for lo, hi in partial
                        for b in range(lo // span, hi // span + 1)
                    }
                )
                d = d.where(F.col("range_bucket").isin(buckets))
            else:
                pred = None
                for lo, hi in partial:
                    p = (F.col("range_bucket") >= lo // span) & (
                        F.col("range_bucket") <= hi // span
                    )
                    pred = p if pred is None else (pred | p)
                d = d.where(pred)
            if ts_min is not None:
                d = d.where(F.col("doc_ts") >= ts_min)
            if ts_max is not None:
                d = d.where(F.col("doc_ts") <= ts_max)
            if len(partial) == 1:
                lo, hi = partial[0]
                row = (
                    d.where(F.col("doc_id").between(lo, hi))
                    .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
                    .collect()[0]
                )
                if row["lo"] is not None:
                    ivs.append((int(row["lo"]), int(row["hi"])))
            else:
                seg_df = self.spark.createDataFrame(
                    [(lo, hi) for lo, hi in partial], "slo long, shi long"
                )
                rows = (
                    d.join(
                        F.broadcast(seg_df),
                        (F.col("doc_id") >= F.col("slo"))
                        & (F.col("doc_id") <= F.col("shi")),
                    )
                    .groupBy("slo")
                    .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
                    .collect()
                )
                ivs.extend((int(r["lo"]), int(r["hi"])) for r in rows)
        out = sorted(ivs)
        with memo.lock:
            memo.bounds[lru_key] = out  # [] memoizes the empty window
            while len(memo.bounds) > 256:
                memo.bounds.pop(next(iter(memo.bounds)))
        return out or None

    # cap on the explicit bucket IN-list for partition pruning; above
    # it a min/max envelope conjunct is used instead
    MAX_PRUNE_BUCKET_LIST = 10_000

    def _prune_shards_to_bounds(self, shards: DataFrame, doc_bounds):
        """range_bucket (hive partition pruning) + range_id shard filter
        for the doc-id intervals.

        The partition-prunable predicate must be a TOP-LEVEL conjunct
        referencing ONLY the partition column: an OR of per-interval
        conjunctions that mixes in range_id defeats
        PruneFileSourcePartitions (it only extracts conjuncts whose
        references are a subset of the partition columns) and every
        bucket would be listed.  So: one bucket-only conjunct (IN-list,
        or a min/max envelope if the list would be huge) AND the exact
        per-interval OR as a data filter.  Exact doc membership is
        applied at decode time in score_range."""
        rs = self.cfg.range_size
        span = rs * self.cfg.ranges_per_batch
        buckets: set = set()
        for lo, hi in doc_bounds:
            if len(buckets) <= self.MAX_PRUNE_BUCKET_LIST:
                buckets.update(range(lo // span, hi // span + 1))
        if len(buckets) <= self.MAX_PRUNE_BUCKET_LIST:
            bucket_pred = F.col("range_bucket").isin(sorted(buckets))
        else:
            bucket_pred = (
                F.col("range_bucket") >= min(lo // span for lo, _ in doc_bounds)
            ) & (
                F.col("range_bucket") <= max(hi // span for _, hi in doc_bounds)
            )
        range_pred = None
        for lo, hi in doc_bounds:
            p = (F.col("range_id") >= lo // rs) & (F.col("range_id") <= hi // rs)
            range_pred = p if range_pred is None else (range_pred | p)
        return shards.where(bucket_pred & range_pred)

    def top_k(
        self,
        query_text: str,
        k: int = 10,
        conjunctive: bool = False,
        with_docs: bool = True,
        source=None,
        ts_min=None,
        ts_max=None,
        search_after: tuple | None = None,
        must_not: str | None = None,
        min_should_match: int | None = None,
    ) -> DataFrame:
        """Top-k BM25. Returns DataFrame(doc_id, score[, conv_id...]).

        Every knob compiles onto a ``Bool`` (_match_bool) that
        top_k_bool runs — the way Lucene rewrites ``operator=and``,
        ``minimum_should_match`` and ``must_not`` into one
        BooleanQuery — so the shape rule there picks the per-range
        kernel (block-max disjunction, conjunction or N-of-M count).

        ``source`` selects the per-source rules chain for query
        tokenization when the engine holds a KeywordRulesRouter.
        ``ts_min``/``ts_max`` restrict results to conversations whose
        doc_ts falls in the (inclusive) window — membership filter
        only; scores keep global collection stats (Lucene filter-query
        semantics).  Time-ordered doc ids turn the window into a doc-id
        interval, so untouched range buckets are partition-pruned.

        ``search_after``: (score, doc_id) of the LAST row of the
        previous page — deep pagination without OFFSET (the ES
        search_after shape).  Only docs strictly after the cursor in
        (score desc, doc_id asc) order are returned; the cursor rides
        into the per-range scorer, which keeps block-max pruning valid
        over cursor-eligible docs (operators/wand.score_range).  Page
        boundaries compare float64-exact — always feed back a score
        the engine itself returned, not a rounded display value.

        ``conjunctive``: every distinct query term is required (one
        single-term must clause each); a term absent from the corpus
        empties the result (reference AND semantics, mediaSearch,
        MediaServiceLive.scala:108-112).

        ``must_not``: text whose terms EXCLUDE matching docs (the ES
        bool-query must_not clause; Lucene MUST_NOT semantics: a doc
        containing ANY excluded term is removed from the result set,
        scores of survivors are unchanged — exclusion is membership,
        not scoring).  Scale shape: excluded terms' postings ride the
        SAME pruned shard scan as the query terms (one job, term-IN +
        bucket pruning intact) and are decoded per range into the
        tombstone mask, so exclusion is co-partitioned with scoring and
        never shuffles or collects a doc-id list.

        ``min_should_match``: the ES/Lucene bool-query N-of-M shape —
        a doc must contain at least this many DISTINCT query terms to
        appear; survivors score disjunctively over the terms they DO
        contain.  ``min_should_match=1`` is plain disjunction,
        ``= n_terms`` ranks identically to ``conjunctive=True`` (but
        keeps OR absent-term semantics: an absent query term lowers
        the reachable count instead of emptying the result, so asking
        for more matches than the corpus has present terms returns
        empty).  Mutually exclusive with ``conjunctive``.  The count
        filter rides inside the per-range block-max scorer (wand.
        score_range min_match) — same one-job plan, pruning stays
        valid because the all-terms bound also bounds any subset."""
        if min_should_match is not None and conjunctive:
            raise ValueError(
                "min_should_match and conjunctive are mutually "
                "exclusive (conjunctive == min_should_match=n_terms "
                "with AND absent-term semantics)"
            )
        q = self._match_bool(
            query_text, conjunctive, source, must_not=must_not,
            min_should_match=min_should_match, ts_min=ts_min, ts_max=ts_max,
        )
        if q is None:
            self.last_query_stats = {}
            return self._empty_hits(with_docs)
        return self.top_k_bool(
            q, k=k, with_docs=with_docs, source=source,
            search_after=search_after,
        )

    def _match_bool(self, query_text: str, conjunctive: bool = False,
                    source=None, must_not: str | None = None,
                    min_should_match: int | None = None,
                    ts_min=None, ts_max=None) -> "Bool | None":
        """The ``Bool`` a match query compiles to, with the text
        analyzed once into pre-analyzed ``terms`` clauses: plain text
        is one should clause; ``conjunctive`` one single-term must
        clause per distinct term; ``min_should_match`` one single-term
        should clause per distinct term under that minimum.  None when
        analysis leaves no term."""
        qtf: dict[str, int] = {}
        for t in tokenize(query_text, self._query_rules(source)):
            qtf[t] = qtf.get(t, 0) + 1
        if not qtf:
            return None
        per_term = tuple({"terms": {t: c}} for t, c in qtf.items())
        if conjunctive:
            must, should = per_term, ()
        elif min_should_match is not None:
            must, should = (), per_term
        else:
            must, should = (), ({"terms": qtf},)
        return Bool(
            must=must, should=should,
            must_not=(must_not,) if must_not else (),
            ts_min=ts_min, ts_max=ts_max,
            minimum_should_match=min_should_match,
        )

    def _norm_fields(self, fields) -> list:
        """[(name, boost)] for a field list of names or (name, boost)
        pairs — the one normalizer behind top_k_bool, top_k_multi_match
        and query_string.  "text" is the default stream; any other name
        must be an indexed extra field, every boost > 0, and a field may
        appear once (a repeat has no one obvious boost)."""
        indexed = set(self.meta.get("fields") or ())
        norm: list = []
        for f in fields:
            name, boost = (f, 1.0) if isinstance(f, str) else f
            name, boost = str(name), float(boost)
            if boost <= 0.0:
                raise ValueError(f"field boost must be > 0: {f}")
            if name != "text" and name not in indexed:
                raise ValueError(
                    f"field {name!r} is not indexed (index fields: "
                    f"{sorted(indexed)}); build with "
                    f"EngineConfig(extra_fields=...)"
                )
            if any(name == n for n, _ in norm):
                raise ValueError(f"field {name!r} is listed twice")
            norm.append((name, boost))
        return norm

    def top_k_bool(self, q: Bool, k: int = 10, with_docs: bool = True,
                   source=None, search_after: tuple | None = None,
                   fields=None, _no_cut: bool = False) -> DataFrame:
        """Top-k BM25 for a composable ES ``bool`` query (see Bool) —
        must + should + must_not + filter + minimum_should_match +
        per-clause boosts in ONE object.  The one BM25 scoring compile:
        top_k, scored_matches and the expansion surfaces (fuzzy,
        wildcard, regexp, more_like_this) all compile onto a Bool and
        run here.

        Compilation: every clause's analyzed terms pre-merge into one
        (term -> sum of qtf * idf * boost) weight map on the driver
        (a boosted weight is just scaled idf — a pre-analyzed
        ``terms`` clause of expansions gets each its own idf), and the
        clause SHAPE picks the per-range kernel:

          * every group a single distinct-term required (must/filter)
            group, no should group -> the conjunctive kernel
            (intersection, ranges lacking a term prefiltered away);
          * no required group, every should group a single distinct
            term, minimum_should_match > 1 -> the N-of-M count kernel
            (wand.score_range min_match);
          * one required group covering every scoring term, or should
            groups under minimum_should_match <= 1 -> plain block-max
            disjunction;
          * anything else -> a wand.BoolSpec: one bit per clause group
            (at most 62), each term carrying the OR of its groups'
            bits, evaluated per doc inside the per-range scorer.

        Block-max pruning stays valid in every mode (the min_match
        argument — see BoolSpec).  Scale shape: one pruned term-IN
        shard scan, one job warm, driver-local fast path when the
        candidate volume is tiny (_apply_per_range).

        ES parity notes: minimum_should_match defaults to 1 with no
        must clauses and 0 otherwise; a must clause none of whose
        terms exist in the corpus empties the result; an unmatchable
        should clause just can't count toward minimum_should_match;
        must_not boosts are ignored (exclusion is membership).
        Reference: the bool queries the dashboards issue
        (ElasticOperations.scala:32-76).

        ``fields``: the FULL dashboard shape — every clause evaluates
        as a multi_match (type=most_fields) over this field list
        (names or (name, boost) pairs; "text" = the default stream,
        others need a multi-field index).  A clause matches a doc iff
        ANY of its terms matches in ANY field; its score is the sum of
        its matched (field, term) contributions, each normalized with
        the field's own avgdl and scaled by clause boost x field
        boost.  Compiled by KEY EXPANSION: each clause's analyzed
        terms become field-tagged dictionary keys, and the whole
        group-bitmask machinery runs unchanged over keys — still ONE
        pruned block-max job (wand.score_range's per-term-avgdl
        form).  None (default) = the plain text stream."""
        # reset per query: the kernel below fills the block-max pruning
        # evidence (blocks_total / decoded / skipped) into this dict only
        # when it runs on the driver — the distributed leg fills a pickled
        # copy — so a distributed or early-exit query leaves it empty
        self.last_query_stats = stats = {}
        must = _bool_clauses(q.must)
        should = _bool_clauses(q.should)
        must_not = _bool_clauses(q.must_not)
        # filter clauses are unscored: force boost 0 (the compile below
        # makes them required groups whose weight contribution is zero)
        filt = [
            (text, 0.0, cfields, cterms)
            for text, _, cfields, cterms in _bool_clauses(q.filter)
        ]
        if not must and not should:
            raise ValueError(
                "Bool needs at least one must or should clause "
                "(must_not/filter alone is unranked membership — use "
                "matching_doc_ids or a docs-table filter)"
            )
        rules = self._query_rules(source)

        # field set: None = the plain text stream (keys == tokens);
        # otherwise each clause key-expands across the fields.  A
        # clause carrying its OWN fields (the query_string field:term
        # scoping) overrides the query-level set for that clause only.
        from sotohp_spark.index.build import FIELD_SEP

        norm_fields = (
            [("text", 1.0)] if fields is None else self._norm_fields(fields)
        )
        any_clause_fields = False

        def _analyze(clauses):
            """clause list -> [(key -> qtf * field_boost, clause_boost)]
            — keys are field-tagged dictionary terms; the multiplier
            carries everything per-key except clause boost and idf."""
            nonlocal any_clause_fields
            out = []
            for text, boost, cfields, cterms in clauses:
                if cterms is not None:
                    qtf: dict = dict(cterms)
                else:
                    qtf = {}
                    for t in tokenize(text, rules):
                        qtf[t] = qtf.get(t, 0) + 1
                cfs = norm_fields
                if cfields is not None:
                    cfs = self._norm_fields(cfields)
                    any_clause_fields = True
                keys: dict[str, float] = {}
                for name, fboost in cfs:
                    for t, c in qtf.items():
                        key = (
                            t if name == "text"
                            else name + FIELD_SEP + t
                        )
                        keys[key] = keys.get(key, 0.0) + c * fboost
                out.append((keys, boost))
            return out

        must_a = _analyze(must)
        should_a = _analyze(should)
        filt_a = _analyze(filt)
        all_terms = sorted(
            {t for qtf, _ in must_a + should_a + filt_a for t in qtf}
        )
        dfs = self._term_dfs(all_terms)

        must_groups = []
        # filter clauses compile as REQUIRED groups with zero weight —
        # identical membership semantics to must, zero score influence
        for qtf, boost in must_a + filt_a:
            present = {t: c for t, c in qtf.items() if dfs.get(t)}
            if not present:
                # a required clause with no corpus term matches nothing
                return self._empty_hits(with_docs)
            must_groups.append((present, boost))

        msm = q.minimum_should_match
        if msm is None:
            msm = 0 if must_groups else 1
        msm = int(msm)
        if not must and msm == 0:
            # no SCORING requirement would admit filter-only matches at
            # score 0, which block-max pruning cannot surface
            # consistently — this engine returns scored matches only,
            # so without must clauses at least one should clause must
            # match (deliberate, documented deviation from ES's
            # score-0 filter-context hits)
            msm = 1
        should_groups = []
        for qtf, boost in should_a:
            present = {t: c for t, c in qtf.items() if dfs.get(t)}
            if present:
                should_groups.append((present, boost))
        if msm > 0 and len(should_groups) < msm:
            return self._empty_hits(with_docs)
        if not must_groups and not should_groups:
            return self._empty_hits(with_docs)

        n = self.meta["n_docs"]
        weights: dict[str, float] = {}
        for present, boost in must_groups + should_groups:
            for t, c in present.items():
                weights[t] = weights.get(t, 0.0) + (
                    c * boost * bm25.lucene_idf_scalar(n, dfs[t])
                )

        excl: set = set()
        for qtf, _boost in _analyze(must_not):
            excl.update(qtf)
        excl_dfs = self._term_dfs(sorted(excl)) if excl else {}
        excl_terms = frozenset(t for t in excl if excl_dfs.get(t))
        if any(g.keys() <= excl_terms for g, _ in must_groups):
            # every doc matching this required group contains an
            # excluded term
            return self._empty_hits(with_docs)

        def single_terms(groups) -> bool:
            ts = [t for g, _ in groups for t in g]
            return len(ts) == len(groups) == len(set(ts))

        # kernel mode by clause shape (see the docstring)
        conjunctive = (
            len(must_groups) >= 2 and not should_groups
            and single_terms(must_groups)
        )
        min_match = (
            msm if not must_groups and msm > 1
            and single_terms(should_groups) else None
        )
        # membership spec, only when no kernel mode expresses it (a
        # scored doc always matched >= 1 term, so ONE must group
        # covering every scoring term — or no must and msm <= 1 over
        # should groups — needs no per-doc group test)
        spec = None
        must_terms = set().union(*(g.keys() for g, _ in must_groups))
        needs_spec = not conjunctive and min_match is None and (
            len(must_groups) >= 2
            or (len(must_groups) == 1
                and any(t not in must_terms for t in weights))
            or (bool(must_groups) and msm > 0)
            or msm > 1
        )
        if needs_spec:
            n_groups = len(must_groups) + (
                len(should_groups) if msm > 0 else 0
            )
            if n_groups > 62:
                raise ValueError(
                    f"too many bool clause groups ({n_groups} > 62)"
                )
            term_bits: dict[str, int] = {}
            bit = 1
            must_mask = 0
            for present, _ in must_groups:
                for t in present:
                    term_bits[t] = term_bits.get(t, 0) | bit
                must_mask |= bit
                bit <<= 1
            should_bits = []
            if msm > 0:
                for present, _ in should_groups:
                    for t in present:
                        term_bits[t] = term_bits.get(t, 0) | bit
                    should_bits.append(bit)
                    bit <<= 1
            spec = wand.BoolSpec(
                term_bits=term_bits,
                must_mask=must_mask,
                should_bits=tuple(should_bits),
                min_should=msm if msm > 0 else 0,
            )

        # per-term avgdl for field-tagged keys: the kernel normalizes
        # each key with its field's own collection avgdl (wand.
        # score_range's dict form)
        avgdl = self.meta["avgdl"]
        if fields is not None or any_clause_fields:
            field_avgdl = self.meta.get("field_avgdl") or {}

            def _avgdl(key):
                name = (
                    key.split(FIELD_SEP, 1)[0] if FIELD_SEP in key
                    else "text"
                )
                return (
                    float(self.meta["avgdl"]) if name == "text"
                    else float(field_avgdl.get(name, 0.0))
                )

            avgdl = {key: _avgdl(key) for key in weights}

        doc_bounds = None
        if q.ts_min is not None or q.ts_max is not None:
            doc_bounds = self._doc_bounds_for_ts(q.ts_min, q.ts_max)
            if doc_bounds is None:
                return self._empty_hits(with_docs)

        cfg = self.cfg
        terms_all = sorted(set(weights) | excl_terms)
        # excluded postings are collected/decoded too — they count
        # against the driver-local gate like candidate postings
        n_candidates = sum(dfs[t] for t in weights) + sum(
            excl_dfs[t] for t in excl_terms
        )

        def shards():
            s = self._scoring_shards(terms_all)
            if doc_bounds is not None:
                s = self._prune_shards_to_bounds(s, doc_bounds)
            return s

        prefilter = None
        if conjunctive:
            # ranges lacking any required term can't contribute
            prefilter = (len(weights), excl_terms)
        elif min_match is not None:
            # a range holding fewer than min_match distinct POSITIVE
            # terms cannot produce an eligible doc
            prefilter = (min_match, excl_terms, False)

        # _no_cut (internal: scored_matches, aggregations, query_string
        # phrase composition): a caller that consumes or refines the
        # membership AFTER scoring needs EVERY matched doc scored —
        # per-range k disabled, no global order/limit; cost is the
        # matched postings.
        k_range = None if _no_cut else k

        def score_rows(rows: list, deletes) -> dict:
            if excl_terms:
                rows, deletes = wand.split_excluded(
                    rows, excl_terms, deletes
                )
            docs, scores = wand.score_range(
                rows, weights, k_range, avgdl, conjunctive=conjunctive,
                cfg=cfg, deletes=deletes, doc_bounds=doc_bounds,
                stats=stats, cursor=search_after, min_match=min_match,
                bool_spec=spec,
            )
            return {"doc_id": docs, "score": scores}

        out = self._apply_per_range(
            shards, score_rows, TOPK_SCHEMA, n_candidates=n_candidates,
            terms=terms_all, prefilter=prefilter,
            hits=None if _no_cut else (k, with_docs),
        )
        return self._attach_docs(out) if _no_cut and with_docs else out

    def _compile_qs_items(self, items, fields, max_expansions,
                          source, texts_given: bool):
        """Shared query_string clause compiler: QSItems -> (must,
        should, must_not clause dicts, must-phrases, must_not-phrases,
        unmatchable flag).  ``unmatchable``: a REQUIRED item provably
        matches nothing (required prefix with zero expansions, must
        words all dropped by analysis, index-only all-dropped phrase)
        — callers return empty.  Field scoping validated up front so
        an unknown field raises uniformly across item kinds."""
        from sotohp_spark.index.build import FIELD_SEP

        rules = self._query_rules(source)

        def _expand_prefix(prefix: str, fieldname):
            # expansions resolved in the field's key space, stripped
            # back to raw terms (the Bool compile re-tags per clause)
            tag = (
                "" if fieldname in (None, "text")
                else fieldname + FIELD_SEP
            )
            exps = self.wildcard_expand(
                tag + prefix + "*", max_expansions, order="df"
            )
            out = []
            for term, _df in exps:
                if tag:
                    if term.startswith(tag):
                        out.append(term[len(tag):])
                elif FIELD_SEP not in term:
                    out.append(term)
            return out

        field_names = (
            [name for name, _ in self._norm_fields(fields)] if fields
            else None
        )
        indexed = set(self.meta.get("fields") or ())
        for it in items:
            if it.field is not None and it.field != "text" \
                    and it.field not in indexed:
                raise ValueError(
                    f"field {it.field!r} is not indexed (index "
                    f"fields: {sorted(indexed)})"
                )

        must, should, must_not = [], [], []
        phrases_must, phrases_not = [], []
        for it in items:
            if it.phrase is not None:
                if it.field not in (None, "text"):
                    raise ValueError(
                        "field-scoped phrases are only supported on "
                        "the text stream"
                    )
                if it.occur == "must_not":
                    phrases_not.append(it)
                    continue
                # one required scoring clause PER analyzed term ==
                # conjunctive membership over the phrase's terms
                toks = tokenize(it.phrase, rules)
                if not toks:
                    # every token dropped: no index evidence.  With
                    # texts the verify join falls back to
                    # phrase_search's full scan (scored 0.0);
                    # index-only is unmatchable (phrase_search's
                    # lossless contract puts the fallback on callers)
                    if texts_given:
                        phrases_must.append(it)
                        continue
                    return [], [], [], [], [], True
                qtf: dict = {}
                for t in toks:
                    qtf[t] = qtf.get(t, 0) + 1
                for t, c in qtf.items():
                    must.append(
                        {"terms": {t: float(c)}, "boost": it.boost,
                         "fields": ["text"] if fields else None}
                    )
                phrases_must.append(it)
                continue
            clause: dict = {"boost": it.boost}
            if it.field is not None:
                clause["fields"] = [it.field]
            terms: dict = {}
            for w in it.words:
                for t in tokenize(w, rules):
                    terms[t] = terms.get(t, 0.0) + 1.0
            # a bare prefix under a query-level field set expands in
            # EVERY field's key space (the clause key-expands across
            # the same set downstream, so each expansion can score
            # wherever it exists)
            exp_fields = (
                [it.field] if it.field is not None
                else (field_names or [None])
            )
            for p in it.prefixes:
                for fname in exp_fields:
                    for t in _expand_prefix(p.lower(), fname):
                        terms[t] = terms.get(t, 0.0) + 1.0
            if not terms:
                if it.occur == "must" and it.prefixes and not it.words:
                    # required prefix, zero expansions: matches
                    # nothing (ES prefix query)
                    return [], [], [], [], [], True
                if it.occur in ("must_not", "should"):
                    continue  # can't exclude / count toward msm
                # must words all dropped by analysis: unmatchable
                return [], [], [], [], [], True
            clause["terms"] = terms
            {"must": must, "should": should, "must_not": must_not}[
                it.occur
            ].append(clause)
        return must, should, must_not, phrases_must, phrases_not, False

    # an analyzed term can never contain the field separator, so a
    # required clause on this key is provably unmatchable — the Bool
    # form of "this query string matches nothing" (query_string_bool)
    _UNMATCHABLE_TERM = "\x1f\x1f"

    def query_string_bool(
        self,
        query_string: str,
        default_operator: str = "or",
        minimum_should_match: int | None = None,
        fields=None,
        max_expansions: int = 50,
        source=None,
        ts_min=None,
        ts_max=None,
    ) -> "Bool":
        """Compile a PHRASE-FREE query string to a composable ``Bool``
        — the bridge between the search-box grammar and everything
        that consumes Bool queries (every aggregation, percolation
        filters, ...): ``engine.facets(engine.query_string_bool(
        '+error -t0040 ti*'), by='month')``.

        Same grammar and compilation as top_k_query_string's
        term/prefix path (per-item fields, boosts, OR groups, prefix
        expansion with per-expansion idf).  Quoted phrases raise
        QueryStringError — phrase membership needs the positional
        composition only the retrieval path performs.  A provably
        unmatchable query (required prefix with no expansions, must
        words all dropped) compiles to a Bool carrying a reserved
        impossible term, so every consumer yields EMPTY through the
        normal machinery instead of special-casing."""
        from sotohp_spark.index.qs import (
            QueryStringError,
            parse_query_string,
        )

        items = parse_query_string(query_string, default_operator)
        if any(it.phrase is not None for it in items):
            raise QueryStringError(
                "query_string_bool compiles term/prefix queries only "
                "— quoted phrases need the retrieval path "
                "(top_k_query_string)"
            )
        (must, should, must_not, _pm, _pn,
         unmatchable) = self._compile_qs_items(
            items, fields, max_expansions, source, texts_given=False,
        )
        if unmatchable or (not must and not should):
            return Bool(
                must=({"terms": {self._UNMATCHABLE_TERM: 1.0}},),
                ts_min=ts_min, ts_max=ts_max,
            )
        if fields:
            # the returned Bool must CARRY the query-level field set —
            # consumers (aggregations) call top_k_bool(q) without a
            # fields argument, so scoping rides the clauses themselves
            for lst in (must, should, must_not):
                for clause in lst:
                    clause.setdefault("fields", list(fields))
        return Bool(
            must=tuple(must), should=tuple(should),
            must_not=tuple(must_not),
            ts_min=ts_min, ts_max=ts_max,
            minimum_should_match=minimum_should_match,
        )

    def validate_query_string(self, query_string: str,
                              default_operator: str = "or",
                              fields=None, max_expansions: int = 50,
                              source=None) -> dict:
        """ES ``_validate/query``-style diagnostics for a query string
        — parse and compile WITHOUT running a search, returning what a
        user debugging a search box needs:

          * ``valid``: parsed and compiled (False carries ``error``);
          * ``items``: per parsed item — occur, analyzed terms (with
            per-term corpus df), prefix expansions (capped), phrase
            flag, field, boost;
          * ``matchable``: False when a REQUIRED item provably
            matches nothing (absent must terms, zero-expansion
            required prefix, all-dropped tokens) — the query would
            return empty.

        Cost: the parser + analyzer on the driver, df lookups from
        the warm term-stats LRU, one dictionary job per prefix item —
        never a postings or corpus scan."""
        from sotohp_spark.index.build import FIELD_SEP
        from sotohp_spark.index.qs import (
            QueryStringError,
            parse_query_string,
        )

        try:
            items = parse_query_string(query_string, default_operator)
        except (QueryStringError, ValueError) as e:
            return {"valid": False, "error": str(e), "items": [],
                    "matchable": False}
        rules = self._query_rules(source)
        # fields must validate exactly as execution would — the
        # diagnostics may never say "valid" where the search raises
        indexed = set(self.meta.get("fields") or ())
        bad_fields = sorted(
            {it.field for it in items
             if it.field not in (None, "text")
             and it.field not in indexed}
        )
        error = (
            f"fields not indexed: {bad_fields} (index fields: "
            f"{sorted(indexed)})" if bad_fields else None
        )
        try:
            self._norm_fields(fields or ())
        except ValueError as e:
            error = error or str(e)
        if error:
            return {"valid": False, "error": error, "items": [],
                    "matchable": False}

        qf_names = [
            f if isinstance(f, str) else f[0] for f in (fields or ())
        ] or None

        def _dfs_for(toks, fieldname):
            # df of the keys the search would actually score: the
            # field-TAGGED entries for a scoped item, summed across
            # the query-level field set for an unscoped one (a clause
            # matches if ANY of its keys matches)
            names = (
                [fieldname] if fieldname is not None
                else (qf_names or ["text"])
            )
            uniq = sorted(set(toks))
            out = {t: 0 for t in uniq}
            for name in names:
                tag = "" if name == "text" else name + FIELD_SEP
                keyed = self._term_dfs([tag + t for t in uniq])
                for t in uniq:
                    out[t] += keyed.get(tag + t, 0)
            return out

        out_items = []
        matchable = True
        for it in items:
            info: dict = {"occur": it.occur, "boost": it.boost,
                          "field": it.field}
            if it.phrase is not None:
                toks = tokenize(it.phrase, rules)
                dfs = _dfs_for(toks, it.field) if toks else {}
                info["phrase"] = it.phrase
                info["terms"] = [(t, dfs.get(t, 0)) for t in toks]
                if it.occur == "must" and (
                    not toks or any(dfs.get(t, 0) == 0 for t in toks)
                ):
                    matchable = False
            else:
                toks = [
                    t for w in it.words for t in tokenize(w, rules)
                ]
                dfs = _dfs_for(toks, it.field) if toks else {}
                info["terms"] = [(t, dfs.get(t, 0)) for t in toks]
                exps = []
                exp_fields = (
                    [it.field] if it.field is not None
                    else (qf_names or [None])
                )
                for p in it.prefixes:
                    for fname in exp_fields:
                        tag = (
                            "" if fname in (None, "text")
                            else fname + FIELD_SEP
                        )
                        exps.extend(
                            (t[len(tag):] if tag else t, df)
                            for t, df in self.wildcard_expand(
                                tag + p.lower() + "*", max_expansions,
                                order="df",
                            )
                            if (t.startswith(tag) if tag
                                else FIELD_SEP not in t)
                        )
                info["expansions"] = exps
                present = (
                    any(df for _t, df in info["terms"]) or bool(exps)
                )
                if it.occur == "must" and not present:
                    matchable = False
            out_items.append(info)
        return {"valid": True, "items": out_items,
                "matchable": matchable}

    def top_k_query_string(
        self,
        query_string: str,
        k: int = 10,
        with_docs: bool = True,
        fields=None,
        default_operator: str = "or",
        minimum_should_match: int | None = None,
        max_expansions: int = 50,
        source=None,
        ts_min=None,
        ts_max=None,
        texts: DataFrame | None = None,
        search_after: tuple | None = None,
    ) -> DataFrame:
        """Top-k BM25 for an ES ``simple_query_string`` query — the
        free-text search-box grammar (``+must -not "exact phrase"
        field:term term^2 pre* (a | b)``), parsed by
        ``qs.parse_query_string`` and compiled onto the composable
        ``Bool`` machinery.  Reference: the query strings the
        reference's UI sends to its search tier
        (ElasticOperations.scala:32-76, README.md:89-90).

        Compilation:

          * term / prefix / group items -> one ``Bool`` clause each
            (per-item field scoping and boosts ride the per-clause
            compile), prefixes expanded against the term dictionary
            (``max_expansions`` cap, df order — Lucene's scoring
            rewrite; every expansion keeps its OWN idf);
          * ``fields``: the query-level multi_match field set bare
            terms score over (an explicit ``field:`` item overrides
            it for that item);
          * phrases execute POSITIONALLY: a required phrase
            contributes each analyzed term as a required scoring
            clause (conjunctive prefilter + BM25 with document tf —
            the phrase_ranked contract) and membership is refined to
            exact adjacency with phrase_match_doc_ids; a must_not
            phrase anti-joins adjacency matches (docs merely
            CONTAINING the words stay in).

        Scale shape: without phrases this is EXACTLY top_k_bool — one
        pruned block-max job.  With phrases, the scoring scan runs
        uncut (the conjunctive phrase-term groups already shrink the
        matched set to docs containing every phrase term) plus one
        positional adjacency job per phrase; the joins are
        matched-set x phrase-set, never corpus-sized.

        ``texts``: optional (doc_id, text) frame — phrase membership
        is then regex-VERIFIED against the raw text before the top-k
        (phrase_search's prune-then-verify), so phrase semantics are
        exactly raw-text word-boundary matches (the oracle-checkable
        form); without it, phrases use analyzed-stream adjacency (a
        documented superset — see phrase_match_doc_ids).

        Documented deviations from ES: an OPTIONAL (should-context)
        phrase alongside other optional items is rejected — promote
        it with ``+`` or drop to phrase_ranked (exact optional-phrase
        msm accounting needs adjacency inside the kernel); a lone
        bare phrase under ``default_operator="or"`` is auto-promoted
        to must (identical semantics when minimum_should_match is 1,
        which is the ES default there).  Phrase scoring uses document
        term frequencies, not phrase-occurrence counts (ES scores
        match_phrase by phrase tf) — ordering within the adjacency-
        matched set can differ from ES when a doc repeats the words
        outside the phrase.
        """
        from sotohp_spark.index.qs import QSItem, parse_query_string

        items = parse_query_string(query_string, default_operator)

        # bare-phrase promotion: a should-phrase is exactly a must
        # item when it is the only should item and msm defaults to 1
        n_should = sum(1 for it in items if it.occur == "should")
        normed = []
        for it in items:
            if it.phrase is not None and it.occur == "should":
                if n_should == 1 and minimum_should_match in (None, 1):
                    it = QSItem(
                        occur="must", boost=it.boost, field=it.field,
                        phrase=it.phrase,
                    )
                else:
                    raise ValueError(
                        "optional (should-context) phrases are not "
                        "supported alongside other optional items — "
                        "mark the phrase required with +\"...\" or "
                        "use phrase_ranked"
                    )
            normed.append(it)
        items = normed

        (must, should, must_not, phrases_must, phrases_not,
         unmatchable) = self._compile_qs_items(
            items, fields, max_expansions, source,
            texts_given=texts is not None,
        )
        if unmatchable:
            return self._empty_hits(with_docs)

        if not must and not should:
            if texts is not None and phrases_must:
                # only all-dropped phrases carry the query: membership
                # from the full-scan verify, scored 0.0 (BM25 over
                # zero indexed terms — the phrase_ranked contract)
                scored = None
                for it in phrases_must:
                    ids = self.phrase_search(it.phrase, texts).select(
                        "doc_id"
                    )
                    scored = ids if scored is None else scored.join(
                        ids, "doc_id", "left_semi"
                    )
                for it in phrases_not:
                    ids = self.phrase_search(it.phrase, texts).select(
                        "doc_id"
                    )
                    scored = scored.join(ids, "doc_id", "left_anti")
                out = (
                    scored.select(
                        "doc_id", F.lit(0.0).alias("score")
                    )
                    .orderBy(F.col("doc_id").asc())
                    .limit(k)
                )
                return self._attach_docs(out) if with_docs else out
            return self._empty_hits(with_docs)

        q = Bool(
            must=tuple(must), should=tuple(should),
            must_not=tuple(must_not),
            ts_min=ts_min, ts_max=ts_max,
            minimum_should_match=minimum_should_match,
        )
        if not phrases_must and not phrases_not:
            return self.top_k_bool(
                q, k=k, with_docs=with_docs, source=source,
                fields=fields, search_after=search_after,
            )

        if search_after is not None:
            raise ValueError(
                "search_after composes with term/prefix query strings "
                "only — a phrase refines membership AFTER scoring, so "
                "cursor validity would need the refined set (page "
                "with k windows or drop the phrase to a filter)"
            )
        scored = self.top_k_bool(
            q, k=k, with_docs=False, source=source, fields=fields,
            _no_cut=True,
        )

        def _phrase_ids(phrase):
            if texts is not None:
                return self.phrase_search(phrase, texts).select(
                    F.col("doc_id")
                )
            return self.phrase_match_doc_ids(phrase, source)

        for it in phrases_must:
            scored = scored.join(
                _phrase_ids(it.phrase), "doc_id", "left_semi"
            )
        for it in phrases_not:
            scored = scored.join(
                _phrase_ids(it.phrase), "doc_id", "left_anti"
            )
        out = scored.orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        ).limit(k)
        return self._attach_docs(out) if with_docs else out

    def synonyms_bool(self, query_text: str, synonyms: dict,
                      operator: str = "or",
                      source=None) -> "Bool":
        """Compile a query with query-time SYNONYM expansion into a
        Bool — the ES ``synonym_graph`` token-filter shape applied at
        query time (index-time positions stay untouched, exactly why
        ES recommends query-time synonyms).  Each analyzed query term
        becomes one match clause covering its synonym group (the term
        + its expansions, OR within); ``operator`` "or"/"and" decides
        whether clauses are should (minimum_should_match 1) or must —
        the match-query operator.  Execute with top_k_bool.

        Scoring contract: every group member scores with its OWN idf
        (the per-expansion contract of wildcard/fuzzy — a documented
        deviation from Lucene's SynonymQuery blended-df, stated
        because the oracle mirrors it).  ``synonyms``: dict mapping a
        term to its synonym list; lookups happen on ANALYZED query
        terms; synonym texts are analyzed too (multi-word synonyms
        contribute each of their tokens to the group)."""
        if operator not in ("or", "and"):
            raise ValueError(
                f"operator must be 'or' or 'and', got {operator!r}"
            )
        rules = self._query_rules(source)
        toks = tokenize(query_text, rules)
        clauses = []
        seen = set()
        for t in toks:
            if t in seen:
                continue
            seen.add(t)
            group = [t]
            for syn in synonyms.get(t, ()):
                group.extend(tokenize(str(syn), rules))
            # dedupe, keep order
            text = " ".join(dict.fromkeys(group))
            clauses.append(text)
        if operator == "and":
            return Bool(must=tuple(clauses))
        return Bool(should=tuple(clauses), minimum_should_match=1)

    def top_k_synonyms(self, query_text: str, synonyms: dict,
                       k: int = 10, operator: str = "or",
                       with_docs: bool = True, source=None) -> DataFrame:
        """Top-k BM25 with query-time synonym expansion (see
        synonyms_bool): ONE pruned block-max job via top_k_bool —
        group membership is the clause bitmask, so "and" requires a
        hit from EVERY group (any member), never every member."""
        q = self.synonyms_bool(query_text, synonyms, operator, source)
        if not q.must and not q.should:
            return self._empty_hits(with_docs)
        return self.top_k_bool(q, k=k, with_docs=with_docs,
                               source=source)

    def top_k_match_bool_prefix(self, query_text: str, k: int = 10,
                                with_docs: bool = True,
                                max_expansions: int = 50,
                                source=None) -> DataFrame:
        """ES ``match_bool_prefix``: search-as-you-type where every
        analyzed term is an optional bool clause and the LAST term
        matches as a PREFIX (dictionary expansion, per-expansion idf)
        — unlike match_phrase_prefix there is no adjacency
        requirement, so results stream in as the user types any word
        order.  Compiled onto the Bool machinery: one dictionary job
        for the trailing expansion + ONE pruned block-max job
        (minimum_should_match=1, the ES default here).

        A last term with zero dictionary expansions just cannot count
        (ES: the prefix clause matches nothing); if NO clause has
        corpus evidence the result is empty."""
        rules = self._query_rules(source)
        toks = tokenize(query_text, rules)
        if not toks:
            return self._empty_hits(with_docs)
        *head, last = toks
        head_qtf: dict[str, float] = {}
        for t in head:
            head_qtf[t] = head_qtf.get(t, 0.0) + 1.0
        clauses: list = [
            {"terms": {t: c}} for t, c in sorted(head_qtf.items())
        ]
        exps = [
            t for t, _ in self.wildcard_expand(
                last + "*", max_expansions, order="df"
            )
        ]
        from sotohp_spark.index.build import FIELD_SEP

        exps = [t for t in exps if FIELD_SEP not in t]
        if exps:
            clauses.append({"terms": {t: 1.0 for t in exps}})
        if not clauses:
            return self._empty_hits(with_docs)
        return self.top_k_bool(
            Bool(should=tuple(clauses), minimum_should_match=1),
            k=k, with_docs=with_docs, source=source,
        )

    def top_k_multi_match(self, query_text: str, fields=None, k: int = 10,
                          match_type: str = "best_fields",
                          with_docs: bool = True, source=None,
                          tie_breaker: float = 0.0) -> DataFrame:
        """ES ``multi_match``: the query scored against SEVERAL
        analyzed fields with per-field boosts — the reference's
        multi-field search doc (keywords / description /
        classifications..., SaoMedia.scala:17-47) as ES scores it.

        ``fields``: list of field names or (field, boost) pairs;
        ``"text"`` is the default stream, other names must have been
        indexed at build time (EngineConfig.extra_fields — meta
        records them).  ``match_type``: ``"best_fields"`` (ES default
        — a doc's score is its BEST single field's score, dis_max),
        ``"most_fields"`` (fields' scores add), or ``"cross_fields"``
        (term-centric: per TERM the best single field's contribution,
        summed over terms — the ES cross_fields shape at
        tie_breaker=0, evaluated with per-field statistics rather
        than ES's blended dfs; stated because the oracle mirrors it).

        ``tie_breaker`` (best_fields only — the ES dis_max knob): the
        best field scores fully and every other matching field adds
        ``tie_breaker`` x its score (``max + tb * (sum - max)``);
        0.0 = pure dis_max (ES default), 1.0 ranks identically to
        most_fields.

        Scoring contract: per field, standard BM25 with the FIELD's
        stats — df of the field-tagged dictionary entry, the field's
        own doc lengths (stored in its postings) and avgdl (meta),
        scaled by the field boost; idf uses the global doc count N
        (one deliberate simplification vs Lucene's per-field docCount,
        stated here because the oracle mirrors it).

        Scale shape: field-tagged terms are ordinary dictionary terms,
        so this is ONE pruned term-IN shard scan (all fields' keys in
        one IN list, same parquet pushdown as top_k) into one
        per-range kernel; the kernel is full-decode (no block-max cut
        — the cross-field max/sum needs every field's exact partial
        per doc; cost tracks the query terms' posting volume, the same
        contract as function_score).  Single-field queries never see
        any of this: their scan's IN-list contains no tagged keys."""
        norm = self._norm_fields(fields or ["text"])
        combine = {"best_fields": "best", "most_fields": "sum",
                   "cross_fields": "cross"}.get(match_type)
        if combine is None:
            raise ValueError(
                f"match_type must be best_fields|most_fields|"
                f"cross_fields, got {match_type!r}"
            )
        tie_breaker = float(tie_breaker)
        if not 0.0 <= tie_breaker <= 1.0:
            raise ValueError(
                f"tie_breaker must be in [0, 1], got {tie_breaker}"
            )
        if tie_breaker and combine != "best":
            raise ValueError("tie_breaker applies to best_fields only")
        if combine == "sum":
            # most_fields IS a weighted disjunction over the tagged
            # keys (fields' scores ADD, membership = any key matched):
            # one should clause over the fields compiles to the same
            # weights and per-key avgdl and runs the BLOCK-MAX top_k.
            # Only best/cross need the full-decode multi kernel (their
            # cross-field max cannot be bounded per interval).
            return self.top_k_bool(
                Bool(should=[query_text]), k=k, with_docs=with_docs,
                source=source, fields=norm,
            )
        from sotohp_spark.index.build import FIELD_SEP

        toks = tokenize(query_text, self._query_rules(source))
        qtf: dict[str, int] = {}
        for t in toks:
            qtf[t] = qtf.get(t, 0) + 1
        if not qtf:
            return self._empty_hits(with_docs)

        field_avgdl: list = []
        keys: list = []
        key_field: dict = {}
        key_qtf: dict = {}
        key_boost: dict = {}
        for fi, (name, boost) in enumerate(norm):
            field_avgdl.append(
                float(self.meta["avgdl"]) if name == "text"
                else float((self.meta.get("field_avgdl") or {}).get(name, 0.0))
            )
            for t, c in qtf.items():
                key = t if name == "text" else name + FIELD_SEP + t
                keys.append(key)
                key_field[key] = fi
                key_qtf[key] = c
                key_boost[key] = boost
        dfs = self._term_dfs(sorted(keys))
        n = self.meta["n_docs"]
        weights = {
            key: key_qtf[key] * key_boost[key]
            * bm25.lucene_idf_scalar(n, d)
            for key, d in dfs.items() if d
        }
        if not weights:
            return self._empty_hits(with_docs)
        term_field = {key: key_field[key] for key in weights}
        term_tid = None
        if combine == "cross":
            tid_of = {t: i for i, t in enumerate(sorted(qtf))}
            term_tid = {
                key: tid_of[
                    key.split(FIELD_SEP, 1)[1] if FIELD_SEP in key
                    else key
                ]
                for key in weights
            }
        cfg = self.cfg
        terms = sorted(weights)

        def score_rows(rows: list, deletes) -> dict:
            d, s = wand.score_range_multi(
                rows, weights, term_field, field_avgdl, k, cfg=cfg,
                deletes=deletes, combine=combine, term_tid=term_tid,
                tie_breaker=tie_breaker,
            )
            return {"doc_id": d, "score": s}

        return self._apply_per_range(
            lambda: self._scoring_shards(terms), score_rows, TOPK_SCHEMA,
            n_candidates=sum(dfs[key] for key in weights), terms=terms,
            hits=(k, with_docs),
        )

    def _bucket_keyed(self, ids: DataFrame) -> DataFrame:
        """Attach the derived range_bucket join key to a doc-id frame
        — the _attach_docs idiom: joining the docs table on
        (range_bucket, doc_id) lets dynamic partition pruning read
        only the hive partitions holding those docs."""
        span = self.cfg.range_size * self.cfg.ranges_per_batch
        return ids.withColumn(
            "range_bucket", (F.col("doc_id") / F.lit(span)).cast("int")
        )

    def _prefilter_ranges(self, shards: DataFrame, n_required: int,
                          excl_terms=frozenset(),
                          exact: bool = True) -> DataFrame:
        """Drop ranges that cannot satisfy the query's distinct-term
        requirement BEFORE the heavy decode: per-range
        countDistinct(term) over POSITIVE terms only (excluded terms
        must not inflate the count), broadcast back as a semi-filter.
        ``exact`` compares == n_required (conjunctions, phrases);
        ``exact=False`` compares >= (minimum_should_match).  Worth its
        one extra tiny job: it prunes whole ranges' Arrow
        deserialization, measured faster than folding the check into
        the kernel alone (BENCH/p95_es_surfaces_sf100.md)."""
        pos = shards
        if excl_terms:
            pos = pos.where(~F.col("term").isin(list(excl_terms)))
        nt = F.col("nt") == n_required if exact else F.col("nt") >= n_required
        ok = (
            pos.groupBy("range_id")
            .agg(F.countDistinct("term").alias("nt"))
            .where(nt)
            .select("range_id")
        )
        return shards.join(F.broadcast(ok), "range_id")

    def _positional_rows(self, snap, terms) -> list:
        """FULL-column shard rows (positions included) for ``terms`` of
        ``snap``'s postings, through the per-term driver LRU: only terms
        not yet resident cost a pruned collect, so a session's phrase
        working set pays the parquet read once (the postings frame this
        reads is immutable for the snapshot's listing, so residency can
        never go stale within it).  Eviction is byte-budgeted, oldest
        term first, never a term of the current query."""
        cache = snap.memo.pos_rows
        with snap.memo.lock:
            got = {t: cache[t] for t in terms if t in cache}
        missing = [t for t in terms if t not in got]
        if missing:
            by_t: dict[str, list] = {t: [] for t in missing}
            for r in snap.postings.where(
                F.col("term").isin(missing)
            ).collect():
                d = r.asDict()
                by_t[d["term"]].append(d)
            for t in missing:
                rs = by_t[t]
                got[t] = (sum(
                    len(x["payload"] or b"")
                    + len(x.get("pos_payload") or b"")
                    for x in rs
                ), rs)
        with snap.memo.lock:
            cache.update(got)
            for t in terms:
                cache.move_to_end(t)
            held = sum(nb for nb, _ in cache.values())
            while (
                held > self.DRIVER_POS_CACHE_MAX_BYTES
                and len(cache) > len(got)
            ):
                t0 = next(iter(cache))
                if t0 in got:
                    break
                held -= cache.pop(t0)[0]
        return [r for t in terms for r in got[t][1]]

    def _apply_per_range(self, shards, kernel, schema,
                         n_candidates: int | None = None,
                         terms=None, pos_terms=None, prefilter=None,
                         hits: tuple | None = None,
                         shared=None) -> DataFrame:
        """The one per-range executor: run ``kernel`` once per range_id
        group of the candidate shard rows, on the driver or in Spark
        tasks, and return the result frame.

        Kernel contract, rows in and columns out:
        ``kernel(rows, deletes) -> {column: array}`` — ``rows`` is one
        range's shard rows as a list of dicts, ``deletes`` the sorted
        tombstones that apply to it, and the result holds equal-length
        arrays under ``schema``'s column names.  The distributed leg
        pickles the kernel, so it must not close over the engine.

        ``shared``: a read-only table every kernel call reads (a batch's
        per-query terms or weights), passed as the kernel's third
        argument.  The local leg hands it over as is; the distributed
        leg ships it ONCE per executor as a broadcast variable instead
        of pickling it into every task closure.  The engine keeps one
        such broadcast: the previous one is unpersisted, never
        destroyed, because a still-unexecuted frame holding it may
        re-broadcast lazily.

        Route, decided here and nowhere else: the driver-local leg runs
        when ``n_candidates`` (the dictionary's candidate-postings
        count) is given and at most LOCAL_PATH_MAX_POSTINGS, the
        tombstones are driver-resident, and the serving gate is free
        (a concurrent query routes distributed, never waits); otherwise
        the distributed leg.  Both legs run the same kernel over the
        same rows and deletes, so results are identical by
        construction — only where it executes changes.

        Local leg: the rows are sourced once — the driver-tier shard
        rows when ``terms`` names them (zero Spark jobs), else the
        positional rows of ``pos_terms`` through the driver LRU, else
        one collect() of ``shards()`` — and grouped by range_id in plain
        Python; no pandas object is built before the result.

        Distributed leg: the frame ``shards()`` returns (a zero-arg
        callable, so the local leg never plans it), narrowed by
        ``_prefilter_ranges(shards, *prefilter)`` when given — pure I/O
        pruning, since every kernel re-checks its own term coverage
        per range — feeds groupBy(range_id).applyInPandas with the
        collected tombstones in the closure, or, when the deletes are
        too many to collect, a cogroup with the deletes by range (each
        task sees only ITS range's tombstones; the deletes table never
        touches the driver).  One adapter turns each pandas group into
        rows and the kernel's columns back into a frame.

        Result: with ``hits=(k, with_docs)`` the global top-k in (score
        desc, doc_id asc) order — _local_hits on the local leg (inside
        the gate, which the docs-tier fill needs), orderBy/limit and
        _attach_docs on the distributed leg; otherwise the unordered
        kernel rows as one frame of ``schema``.

        The shards are repartitioned by range_id with an EXPLICIT
        partition count first: the shuffled payload is compressed
        varbyte (small bytes, enormous decode CPU per byte), so AQE's
        coalescing — which reasons from bytes — would merge the
        post-shuffle partitions down to ONE and serialize the decode
        (measured 9.1 s -> 1.2 s on a 3-hot-term positional match over
        100k docs at 32 cores).  A user-numbered repartition is exempt
        from AQE coalescing, and its HashPartitioning(range_id, n)
        satisfies the groupBy's required distribution, so no second
        exchange appears.
        """
        import numpy as np

        snap = self._snap
        if (
            n_candidates is not None
            and snap.deletes is not None
            and n_candidates <= self.LOCAL_PATH_MAX_POSTINGS
            and self._local_gate.acquire(blocking=False)
        ):
            try:
                if terms is not None and snap.driver_shards is not None:
                    rows = [
                        s
                        for t in sorted(terms)
                        for s in snap.driver_shards.get(t, ())
                    ]
                elif pos_terms is not None:
                    rows = self._positional_rows(snap, sorted(pos_terms))
                else:
                    rows = [r.asDict() for r in shards().collect()]
                by_range: dict[int, list] = {}
                for r in rows:
                    by_range.setdefault(r["range_id"], []).append(r)
                parts = []
                extra = () if shared is None else (shared,)
                for rid in sorted(by_range):
                    cols = kernel(by_range[rid], snap.deletes, *extra)
                    if len(next(iter(cols.values()))):
                        parts.append(cols)
                if hits is not None:
                    return self._local_hits(
                        [c["doc_id"] for c in parts],
                        [c["score"] for c in parts], *hits,
                    )
                if not parts:
                    return snap.empty(schema)
                return self.spark.createDataFrame(
                    pd.DataFrame({
                        name: np.concatenate([c[name] for c in parts])
                        for name in parts[0]
                    }),
                    schema=schema,
                )
            finally:
                self._local_gate.release()
        shards = shards()
        if prefilter is not None:
            shards = self._prefilter_ranges(shards, *prefilter)
        try:
            n_part = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        except (TypeError, ValueError):
            # e.g. "auto" under managed auto-optimized shuffle — fall
            # back to the cluster's default parallelism
            n_part = self.spark.sparkContext.defaultParallelism
        shards = shards.repartition(n_part, "range_id")
        bc = None
        if shared is not None:
            prev = self._shared_bc
            if prev is not None:
                prev.unpersist()
            bc = self._shared_bc = self.spark.sparkContext.broadcast(shared)

        def run(pdf: pd.DataFrame, deletes) -> pd.DataFrame:
            extra = () if bc is None else (bc.value,)
            return pd.DataFrame(
                kernel(pdf.to_dict("records"), deletes, *extra)
            )

        if snap.deletes is not None:
            deletes = snap.deletes
            out = shards.groupBy("range_id").applyInPandas(
                lambda pdf: run(pdf, deletes), schema
            )
        else:
            def fn(shard_pdf: pd.DataFrame,
                   del_pdf: pd.DataFrame) -> pd.DataFrame:
                return run(
                    shard_pdf,
                    np.unique(del_pdf["doc_id"].to_numpy(np.int64)),
                )

            # prune the tombstone table to the CANDIDATE ranges before
            # the cogroup: without this, every query shuffles the full
            # deletes table and spawns a task per delete-only range
            # with no shards; deletes are keyed like the postings:
            # range_id = doc_id // range_size
            dels = snap.deletes_df.select(
                (F.col("doc_id") / F.lit(self.cfg.range_size))
                .cast("int").alias("range_id"),
                "doc_id",
            ).join(
                shards.select("range_id").distinct(), "range_id",
                "left_semi",
            )
            out = (
                shards.groupBy("range_id")
                .cogroup(dels.groupBy("range_id"))
                .applyInPandas(fn, schema)
            )
        if hits is None:
            return out
        k, with_docs = hits
        out = out.orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        ).limit(k)
        return self._attach_docs(out) if with_docs else out

    def top_k_batch(
        self, queries: list, k_default: int = 10, conjunctive: bool = False
    ) -> DataFrame:
        """Evaluate MANY queries in ONE distributed job.

        ``queries``: list of (query_id, query_text, k).  One postings
        scan pruned to the union of all query terms, one
        groupBy(range_id) stage that scores every query against its
        shard subset, one per-query top-k window.  This is the bulk /
        offline-evaluation path (relevance sweeps, nightly eval sets)
        — per-query driver latency is amortized away, so throughput
        scales with executors instead of job-submission overhead.

        Returns DataFrame(query_id, rank, doc_id, score) — rank-
        identical per query to top_k().
        """
        import numpy as np

        # the batch path is always distributed and never writes
        # pruning stats; reset so a prior top_k's numbers are not
        # misattributed to this batch
        self.last_query_stats = {}

        per_query = {}
        all_terms: set = set()
        for qid, qtext, kk in queries:
            w, _ = self.query_weights(qtext)
            if conjunctive and len(w) < len(set(tokenize(qtext, self._query_rules()))):
                w = {}  # reference AND semantics: absent term -> empty
            if w:
                per_query[qid] = (w, int(kk or k_default))
                all_terms.update(w)
        spark = self.spark
        if not per_query:
            return self._snap.empty(
                "query_id string, rank int, doc_id long, score double"
            )

        avgdl = self.meta["avgdl"]
        cfg = self.cfg
        conj = conjunctive

        def score_rows(rows: list, deletes, queries: dict) -> dict:
            by_term: dict[str, list] = {}
            for r in rows:
                by_term.setdefault(r["term"], []).append(r)
            qids, docs, scores = [], [], []
            for qid, (weights, kk) in queries.items():
                qrows = [r for t in weights for r in by_term.get(t, ())]
                if not qrows:
                    continue
                d, s = wand.score_range(
                    qrows, weights, kk, avgdl, conjunctive=conj, cfg=cfg,
                    deletes=deletes,
                )
                qids += [qid] * len(d)
                docs.append(d)
                scores.append(s)
            return {
                "query_id": qids,
                "doc_id": np.concatenate(docs or [np.zeros(0, np.int64)]),
                "score": np.concatenate(scores or [np.zeros(0)]),
            }

        # the (possibly 10^5-entry) query-weight table rides as the
        # shared broadcast: at eval-sweep scale the per-task
        # serialization tax is real
        local = self._apply_per_range(
            lambda: self._scoring_shards(all_terms), score_rows,
            "query_id string, doc_id long, score double",
            shared=per_query,
        )
        from pyspark.sql import Window

        w = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        )
        ks = {qid: kk for qid, (_, kk) in per_query.items()}
        k_col = F.create_map(
            *[x for qid, kk in ks.items() for x in (F.lit(qid), F.lit(kk))]
        )
        return (
            local.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k_col[F.col("query_id")])
            .select("query_id", "rank", "doc_id", "score")
        )

    def _local_hits(self, all_docs: list, all_scores: list, k: int,
                    with_docs: bool) -> DataFrame:
        """Top-k tail of _apply_per_range's local leg: the global top-k
        of the per-range (doc_id, score) arrays in (score desc, doc_id
        asc) order, as ONE pandas createDataFrame.  ``with_docs`` takes the
        metadata from the driver docs tier when it is on — an inner
        join by searchsorted, so the warm pinned query runs no Spark
        job — and through the Spark join of _attach_docs otherwise."""
        import numpy as np

        snap = self._snap
        docs = np.concatenate(all_docs) if all_docs else np.zeros(0, np.int64)
        if docs.size == 0:
            return self._empty_hits(with_docs)
        scores = np.concatenate(all_scores)
        sel = np.lexsort((docs, -scores))[:k]
        docs, scores = docs[sel].astype("int64"), scores[sel]
        meta = self._driver_docs_tier(snap) if with_docs else None
        if meta is None:
            out = self.spark.createDataFrame(
                pd.DataFrame({"doc_id": docs, "score": scores}),
                schema=TOPK_SCHEMA,
            )
            return self._attach_docs(out) if with_docs else out
        ids = meta["doc_id"].to_numpy()
        pos = np.searchsorted(ids, docs)
        found = pos < len(ids)
        found[found] = ids[pos[found]] == docs[found]
        if not found.any():
            return self._empty_hits(True)
        pdf = meta.iloc[pos[found]].reset_index(drop=True)
        pdf.insert(2, "score", scores[found])
        return self.spark.createDataFrame(pdf, schema=snap.hits_struct)

    @staticmethod
    def _driver_docs_tier(snap) -> pd.DataFrame | None:
        """The driver-tier docs metadata of ``snap``'s pin, or None
        while it is off.

        Filled once per pin by the first with_docs query on the local
        leg (callers hold _local_gate), so neither cache_postings nor a
        refresh pays for it.  It is kept only if the collected frame's
        memory fits what the shard rows left of
        DRIVER_POSTINGS_CACHE_MAX_BYTES; the collect itself is bounded
        because the tier is tried only when the shard rows fit.
        doc_ts travels as epoch microseconds and is held UTC-aware, so
        the frame round-trips it exactly under any session time zone."""
        memo = snap.memo
        room, memo.driver_docs_room = memo.driver_docs_room, None
        if room is not None:
            pdf = snap.docs.select(
                "doc_id", "conv_id", F.unix_micros("doc_ts").alias("doc_ts"),
                "n_turns", "doc_len",
            ).toPandas()
            if pdf.memory_usage(index=False, deep=True).sum() <= room:
                pdf["doc_ts"] = pd.to_datetime(pdf["doc_ts"], unit="us",
                                               utc=True)
                memo.driver_docs = pdf.sort_values(
                    "doc_id", ignore_index=True
                )
        return memo.driver_docs

    def _empty_hits(self, with_docs: bool) -> DataFrame:
        """A typed empty result — (doc_id, score), or the _attach_docs
        schema with ``with_docs`` — without planning a join."""
        snap = self._snap
        return snap.empty(snap.hits_struct if with_docs else TOPK_SCHEMA)

    def _attach_docs(self, topk: DataFrame) -> DataFrame:
        """Join doc metadata onto a (tiny) top-k frame.

        INNER join with the k-row side broadcast: the committed-snapshot
        guard on the postings scan means every scored doc_id exists in
        the docs table, so no left join is needed (broadcasting the
        preserved side of a left-outer join is unsupported anyway — the
        old hint was silently ignored).  The derived range_bucket join
        key triggers dynamic partition pruning on the docs scan: only
        the hive partitions holding the k result docs are read."""
        keyed = self._bucket_keyed(topk)
        return (
            self._snap.docs.join(F.broadcast(keyed), ["range_bucket", "doc_id"])
            .select(*HITS_COLUMNS)
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        )

    def top_k_pdf(self, query_text: str, k: int = 10, conjunctive: bool = False):
        """Convenience: (doc_id, score) pandas frame with rank column."""
        pdf = self.top_k(query_text, k, conjunctive, with_docs=False).toPandas()
        pdf["rank"] = range(1, len(pdf) + 1)
        return pdf

    def count(self, query_text: str, source=None) -> DataFrame:
        """Matched-set cardinality without retrieval (the ES `_count`
        shape): docs containing ALL query terms, counted.  Returns a
        one-row DataFrame(n_matches long).

        Scale shape: the count aggregates the per-range block-skipping
        conjunction's output (matching_doc_ids — each doc id lives in
        exactly one range, so per-range counts partial-aggregate into
        the global one); no scores, no ordering, no k."""
        return self._matched_ids(query_text, source).agg(
            F.count(F.lit(1)).alias("n_matches")
        )

    def index_stats(self) -> DataFrame:
        """ES ``_stats`` / ``_cat/indices`` shape: one row of
        operational index facts — committed doc count, average doc
        length, distinct-term (vocabulary) count, total postings
        (sum of dictionary dfs), live segment count, and whether the
        index stores positions.  Returns a one-row DataFrame.

        Scale shape: n_docs/avgdl/segments/positions come from the
        (tiny, driver-resident) meta; vocabulary and posting counts
        are ONE columnar aggregate over the term_stats dictionary —
        never the postings or the docs."""
        dict_agg = self._snap.term_stats.agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.coalesce(
                F.sum(F.col("df").cast("long")), F.lit(0)
            ).alias("n_postings"),
        )
        return dict_agg.select(
            F.lit(int(self.meta["n_docs"])).alias("n_docs"),
            F.round(F.lit(float(self.meta["avgdl"])), 6).alias("avgdl"),
            "n_terms",
            "n_postings",
            F.lit(len(self.meta.get("segment_ts", []))).alias("n_segments"),
            F.lit(bool(self.meta.get("positions", False))).alias("positions"),
        )

    def suggest(self, prefix: str, k: int = 10) -> DataFrame:
        """Prefix completion over the term dictionary, ranked by
        document frequency (the ES `completion`/`terms` suggest shape:
        the dictionary IS the index artifact, so no doc scan ever
        happens).  Returns DataFrame(term, df), df desc, term asc.

        Scale shape: term_stats is a parquet table of the vocabulary
        (term, df, cf).  `startswith` compiles to a StringStartsWith
        pushdown (parquet row-group min/max on the term column prune
        non-matching groups), so the scan cost tracks the PREFIX RANGE,
        not the vocabulary; the result is capped at k before collect.
        df counts committed docs as of the last stats write — like a
        Lucene term dictionary, tombstoned docs decay df only at
        merge/compaction, never per delete."""
        prefix = prefix.strip().lower()
        if not prefix:
            return self._snap.empty("term string, df long")
        return (
            self._snap.term_stats.where(F.col("term").startswith(prefix))
            .select("term", F.col("df").cast("long").alias("df"))
            .orderBy(F.col("df").desc(), F.col("term").asc())
            .limit(k)
        )

    def fuzzy_expand(self, term: str, max_edits: int = 1,
                     prefix_length: int = 1) -> list:
        """Dictionary terms within ``max_edits`` Levenshtein edits of
        ``term`` (the ES `fuzziness` expansion), as (term, df) pairs.

        Scale shape: the expansion runs over the TERM DICTIONARY
        (term_stats), never the postings or docs.  With
        ``prefix_length`` >= 1 (the ES default recommendation for
        exactly this reason) the candidate set is a dictionary PREFIX
        RANGE — `startswith` compiles to a StringStartsWith pushdown on
        the term-sorted parquet, the same pruning suggest() gets — plus
        a length band; the Levenshtein itself is JVM-side
        (F.levenshtein, whole-stage codegen).  prefix_length=0 is
        honored but scans the length band of the whole vocabulary
        (Lucene pays the same: its automaton walks the full FST)."""
        term = term.strip().lower()
        if not term or max_edits < 1:
            return []
        cand = self._snap.term_stats.where(
            F.length("term").between(
                len(term) - max_edits, len(term) + max_edits
            )
        )
        if prefix_length > 0:
            cand = cand.where(
                F.col("term").startswith(term[:prefix_length])
            )
        cand = cand.where(
            F.levenshtein(F.col("term"), F.lit(term)) <= max_edits
        )
        return [
            (r["term"], int(r["df"]))
            for r in cand.select("term", "df").collect()
        ]

    def _fuzzy_candidates_df(self, terms: list, max_edits: int,
                             prefix_length: int) -> DataFrame:
        """Dictionary (term, df) candidates for ALL query terms in one
        plan.  TWO separate predicates, not one Or: a source filter
        drops an Or node whose ANY child is unsupported, so mixing
        levenshtein into the disjunction would silence the pushdown
        entirely.  The prefix-only disjunction is pure
        Or(StringStartsWith...) and reaches the parquet scan
        (plan-asserted in tests); the length-band + Levenshtein
        refinement evaluates post-scan in codegen."""
        from functools import reduce
        from operator import or_

        dic = self._snap.term_stats
        if prefix_length > 0:
            dic = dic.where(
                reduce(
                    or_,
                    [
                        F.col("term").startswith(t[:prefix_length])
                        for t in terms
                    ],
                )
            )
        conds = [
            F.length("term").between(
                len(t) - max_edits, len(t) + max_edits
            ) & (F.levenshtein(F.col("term"), F.lit(t)) <= max_edits)
            for t in terms
        ]
        return dic.where(reduce(or_, conds)).select("term", "df")

    def _live_corpus(self) -> DataFrame:
        """The percolators' ``docs=None`` default: every live doc with
        its tf map.  Valid (the oracle/backfill use), but a FOOT-GUN in
        the alerting loop, so the corpus-scan choice is logged instead
        of silently paid per call (VERDICT r6 cost nit #4).  ES parity:
        tombstoned docs do not percolate."""
        log.warning(
            "percolate over the WHOLE corpus (docs=None) — the "
            "alerting use passes the new batch only"
        )
        snap = self._snap
        if snap.deletes_df is None:
            return snap.docs_raw
        return snap.docs_raw.join(
            snap.deletes_df.select("doc_id"), "doc_id", "left_anti"
        )

    def percolate(self, queries: list, docs: DataFrame | None = None,
                  source=None) -> DataFrame:
        """The ES percolator shape (reverse search): match MANY
        registered conjunctive queries against a batch of documents in
        ONE pass.  ``queries``: [(query_id, query_text)]; ``docs``: a
        frame carrying (doc_id, tfs) — defaults to the whole indexed
        corpus, but the alerting use passes the NEW batch only.
        Returns DataFrame(doc_id, query_id): doc contains EVERY
        analyzed term of the query.  Queries whose analysis drops all
        tokens match nothing (same contract as matching_doc_ids).

        Scale shape: one scan of the doc batch — explode its stored tf
        map keys, semi-broadcast-join the (tiny) registered term table,
        then a partial-aggregated distinct-term count per (doc, query)
        against the broadcast per-query term count.  Cost tracks batch
        size x matched terms, never registered-query count x corpus
        (the reason ES indexes percolator queries instead of looping
        them)."""
        rules = self._query_rules(source)
        q_terms: list = []
        n_terms: dict = {}
        for qid, text in queries:
            terms = sorted(set(tokenize(text, rules)))
            if not terms:
                continue
            n_terms[qid] = len(terms)
            q_terms += [(str(qid), t) for t in terms]
        if not q_terms:
            return self._snap.empty("doc_id long, query_id string")
        qdf = self.spark.createDataFrame(
            q_terms, "query_id string, term string"
        )
        if docs is None:
            docs = self._live_corpus()
        hits = (
            docs.select("doc_id", F.explode(F.map_keys("tfs")).alias("term"))
            .join(F.broadcast(qdf), "term")
            .groupBy("doc_id", "query_id")
            .agg(F.count(F.lit(1)).alias("nt"))
        )
        if len(n_terms) <= 1000:
            need = F.create_map(
                *[x for qid, n in n_terms.items()
                  for x in (F.lit(str(qid)), F.lit(n))]
            )
            out = hits.where(F.col("nt") == need[F.col("query_id")])
        else:
            # alerting-scale registries (10^4+ queries): a literal map
            # that size bloats the plan tree — broadcast-join the
            # per-query term counts instead (same result, same single
            # pass, one extra tiny build side)
            ndf = self.spark.createDataFrame(
                [(qid, n) for qid, n in n_terms.items()],
                "query_id string, n int",
            )
            out = hits.join(F.broadcast(ndf), "query_id").where(
                F.col("nt") == F.col("n")
            )
        return out.select("doc_id", "query_id")

    def register_percolator_queries(self, queries: list, name: str = "default",
                                    source=None,
                                    registry_path: str | None = None) -> int:
        """Persist an analyzed percolator registry as a table — the ES
        model (percolator queries are INDEXED documents, analyzed once
        at registration, reused by every later percolate call).

        ``queries``: [(query_id, query_text)] — analyzed HERE, once;
        the stored rows are (query_id, term, n_terms).  Re-registering
        a name overwrites it.  Returns the number of queries that
        registered (queries whose analysis drops every token match
        nothing and are not stored — same contract as percolate()).

        Scale shape: the registry is written once and percolation cost
        becomes batch x matched terms with ZERO per-call driver
        tokenization — at alerting scale (10^5 registered queries,
        one percolate per micro-batch) the per-call driver loop is the
        serial bottleneck this removes."""
        if registry_path is None:
            if self.path is None:
                raise ValueError(
                    "catalog-backed engine: pass registry_path explicitly"
                )
            registry_path = f"{self.path}/percolator/{name}"
        rules = self._query_rules(source)
        rows: list = []
        n_q = 0
        for qid, text in queries:
            terms = sorted(set(tokenize(text, rules)))
            if not terms:
                continue
            n_q += 1
            rows += [(str(qid), t, len(terms)) for t in terms]
        (
            self.spark.createDataFrame(
                rows, "query_id string, term string, n_terms int"
            )
            .repartition(1)
            .sortWithinPartitions("term")
            .write.mode("overwrite")
            .parquet(registry_path)
        )
        return n_q

    def percolate_registered(self, docs: DataFrame | None = None,
                             name: str = "default",
                             registry_path: str | None = None) -> DataFrame:
        """Percolate against a PERSISTED registry (see
        register_percolator_queries) — identical semantics to
        percolate(), but the analyzed query table is read from storage:
        no per-call driver tokenization, no per-call literal plan
        growth, and any session (not just the registering one) can
        percolate the same registry.

        Scale shape: one scan of the doc batch — explode stored tf map
        keys, broadcast-join the registry table (tiny: terms of the
        registered queries), partial-aggregated distinct-term count per
        (doc, query) compared against the rode-along n_terms column.
        Cost tracks batch x matched terms, never registry x corpus."""
        if registry_path is None:
            if self.path is None:
                raise ValueError(
                    "catalog-backed engine: pass registry_path explicitly"
                )
            registry_path = f"{self.path}/percolator/{name}"
        qdf = self.spark.read.parquet(registry_path)
        if docs is None:
            docs = self._live_corpus()
        return (
            docs.select("doc_id", F.explode(F.map_keys("tfs")).alias("term"))
            .join(F.broadcast(qdf), "term")
            .groupBy("doc_id", "query_id")
            .agg(
                F.count(F.lit(1)).alias("nt"),
                F.max("n_terms").alias("n_terms"),
            )
            .where(F.col("nt") == F.col("n_terms"))
            .select("doc_id", "query_id")
        )

    def suggest_corrections(self, text: str, k: int = 5,
                            max_edits: int = 1, prefix_length: int = 1,
                            source=None) -> DataFrame:
        """The ES term suggester (did-you-mean): for every analyzed
        token of ``text``, the top-k dictionary corrections within
        ``max_edits`` Levenshtein edits (identity excluded), ranked
        the way ES ranks them — distance asc, then df desc, then term
        asc.  Returns DataFrame(source_term, term, distance, df, rank).

        Scale shape: ONE dictionary job — the pruned candidate frame
        (_fuzzy_candidates_df: Or(StringStartsWith) pushdown + length
        band) broadcast-joins the tiny source-token frame on the
        per-pair prefix + Levenshtein condition (JVM codegen), and the
        per-token top-k is a rank<=k window Spark rewrites to
        WindowGroupLimit.  Never a postings or docs scan."""
        from pyspark.sql import Window

        toks = sorted(set(tokenize(text, self._query_rules(source))))
        empty = "source_term string, term string, distance int, " \
                "df long, rank int"
        if not toks or max_edits < 1:
            return self._snap.empty(empty)
        src = self.spark.createDataFrame(
            [(t,) for t in toks], "source_term string"
        )
        dic = self._fuzzy_candidates_df(toks, max_edits, prefix_length)
        dist = F.levenshtein(F.col("term"), F.col("source_term"))
        cond = (dist <= max_edits) & (dist >= 1)
        if prefix_length > 0:
            cond = (
                F.col("term").startswith(
                    F.substring(F.col("source_term"), 1, prefix_length)
                )
                & cond
            )
        w = Window.partitionBy("source_term").orderBy(
            F.col("distance").asc(), F.col("df").desc(),
            F.col("term").asc(),
        )
        return (
            dic.join(F.broadcast(src), cond)
            .select(
                "source_term",
                "term",
                dist.cast("int").alias("distance"),
                F.col("df").cast("long").alias("df"),
            )
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .orderBy("source_term", "rank")
        )

    def top_k_fuzzy(self, query_text: str, k: int = 10,
                    max_edits: int = 1, prefix_length: int = 1,
                    with_docs: bool = True, source=None) -> DataFrame:
        """Top-k BM25 with fuzzy term matching (the ES `match` +
        `fuzziness` shape): every query term expands to its dictionary
        neighborhood and a doc scores the SUM over matched expansions
        of qtf * idf(expansion's own df) * tfn — each expansion scores
        like a regular disjunctive term with its own document
        frequency.  (Lucene's FuzzyQuery blends the expansions' dfs
        under TopTermsBlendedFreqScoringRewrite; the per-expansion-idf
        contract here is deterministic, linear, and exactly
        reproducible in SQL, which keeps the oracle honest.)

        The expansion for ALL query terms is ONE dictionary job: a
        pure Or(StringStartsWith...) prefix disjunction that pushes
        into the term-sorted parquet scan (plan-asserted — it must be
        a SEPARATE predicate, because a source filter drops any Or
        with an unsupported child like levenshtein), then the
        length-band + Levenshtein refinement post-scan in codegen;
        matches are attributed back to their source terms on the
        driver over the tiny collected candidate list.
        Each source term's expansions become one pre-analyzed
        ``terms`` should clause of top_k_bool, which applies the idf,
        so block-max pruning, the driver-local gate, deletes, and
        pagination all apply unchanged — warm cost is 1 dictionary job
        + the usual scoring job."""
        toks = tokenize(query_text, self._query_rules(source))
        qtf: dict[str, int] = {}
        for t in toks:
            qtf[t] = qtf.get(t, 0) + 1
        if not qtf or max_edits < 1:
            return self._empty_hits(with_docs)
        cand = [
            (r["term"], int(r["df"]))
            for r in self._fuzzy_candidates_df(
                sorted(qtf), max_edits, prefix_length
            ).collect()
        ]
        # clauses in sorted source-term order: an expansion shared by
        # two source terms sums its weights in that order
        clauses = []
        for t, q in sorted(qtf.items()):
            pfx = t[:prefix_length] if prefix_length > 0 else ""
            exps = {
                t2: q for t2, _df in cand
                if t2.startswith(pfx)
                and _edit_distance(t, t2, max_edits) <= max_edits
            }
            if exps:
                clauses.append({"terms": exps})
        if not clauses:
            return self._empty_hits(with_docs)
        return self.top_k_bool(Bool(should=clauses), k=k, with_docs=with_docs)

    def wildcard_expand(self, pattern: str,
                        max_expansions: int = 50,
                        order: str = "df") -> list:
        """Dictionary terms matching an ES wildcard pattern (``*`` =
        any run, ``?`` = exactly one char), as (term, df) pairs —
        highest df first (term asc ties), capped at ``max_expansions``
        (the Lucene multi-term rewrite cap, default 50).

        ``order``: which ``max_expansions`` survive when the pattern
        matches more terms than the cap — ``"df"`` (default, Lucene's
        top-terms scoring rewrite, what wildcard/prefix queries use)
        or ``"term"`` (index/term order, what Lucene's
        match_phrase_prefix expansion uses).

        Scale shape: ONE dictionary job over term_stats.  The literal
        prefix before the first wildcard pushes down as
        StringStartsWith (row-group pruning on the term-sorted scan);
        the full pattern refines post-scan as an anchored rlike in
        codegen.  A LEADING-wildcard pattern scans the whole
        dictionary — same cost cliff ES documents for wildcard
        queries; still never touches postings or docs."""
        import re

        pat = pattern.strip().lower()
        if not pat or max_expansions < 1:
            return []
        prefix = re.split(r"[*?]", pat, maxsplit=1)[0]
        rx = (
            "^"
            + re.escape(pat).replace(r"\*", ".*").replace(r"\?", ".")
            + "$"
        )
        if order not in ("df", "term"):
            raise ValueError(f"order must be 'df' or 'term', got {order!r}")
        dic = self._snap.term_stats
        if prefix:
            dic = dic.where(F.col("term").startswith(prefix))
        sort_cols = (
            [F.col("df").desc(), F.col("term").asc()]
            if order == "df"
            else [F.col("term").asc()]
        )
        rows = (
            dic.where(F.col("term").rlike(rx))
            .orderBy(*sort_cols)
            .limit(int(max_expansions))
            .collect()
        )
        return [(r["term"], int(r["df"])) for r in rows]

    def regexp_expand(self, regex: str, max_expansions: int = 50,
                      order: str = "df") -> list:
        """Dictionary terms whose WHOLE text matches ``regex`` — the
        ES ``regexp`` query's expansion step (Lucene anchors regexp
        queries to the full term; no ^/$ needed or allowed).  Returns
        (term, df) pairs capped at ``max_expansions`` in ``order``
        ("df" = highest df first, the scoring rewrite; "term" =
        index order), the wildcard_expand contract.

        Dialect: the pattern executes JVM-side as a codegen ``rlike``
        (Java regex) after driver-side validation with Python ``re``
        — stick to the shared subset (literals, ``.``, classes,
        groups, ``|``, ``*+?{}``); Lucene-specific operators
        (``~`` complement, ``<>`` intervals, ``&`` intersection) are
        not part of this dialect.

        Scale shape: ONE dictionary job over term_stats.  The leading
        LITERAL run of the pattern pushes down as StringStartsWith
        (row-group pruning on the term-sorted scan); the anchored
        regex refines post-scan in codegen.  A pattern with no
        literal prefix scans the whole dictionary — the same
        documented cost cliff as leading-wildcard queries."""
        import re

        pat = regex.strip().lower()
        if not pat or max_expansions < 1:
            return []
        if pat.startswith("^") or pat.endswith("$"):
            raise ValueError(
                "regexp queries are whole-term anchored already — "
                "drop the ^/$ (the Lucene regexp contract)"
            )
        if re.search(r"\\[DWSB]", regex):
            # lowercasing the pattern (terms are lowercase) would
            # INVERT negated escape classes (\D -> \d); refuse rather
            # than silently match the complement
            raise ValueError(
                "uppercase escape classes (\\D \\W \\S \\B) are not "
                "part of this dialect — dictionary terms are "
                "lowercase; spell the class out ([^0-9], ...)"
            )
        try:
            re.compile(pat)
        except re.error as e:
            raise ValueError(f"invalid regexp {regex!r}: {e}") from e
        if order not in ("df", "term"):
            raise ValueError(f"order must be 'df' or 'term', got {order!r}")
        # the literal-prefix pushdown and the bare anchors are both
        # unsound under a TOP-LEVEL alternation ('err|fail' must not
        # become startswith('err'), and '^err|fail$' would un-anchor
        # each branch) — detect one by scanning depth-0 pipes
        depth, top_alt = 0, False
        i = 0
        while i < len(pat):
            c = pat[i]
            if c == "\\":
                i += 2
                continue
            if c == "(":
                depth += 1
            elif c == ")":
                depth = max(0, depth - 1)
            elif c == "|" and depth == 0:
                top_alt = True
            i += 1
        m = re.match(r"[a-z0-9_]+", pat)
        # a literal run followed by a quantifier binds to its LAST
        # char, so only the part strictly before it is a fixed prefix
        prefix = "" if top_alt else (m.group(0) if m else "")
        if prefix and len(prefix) < len(pat) and pat[len(prefix)] in "*?+{|":
            prefix = prefix[:-1]
        rx = "^(?:" + pat + ")$"
        dic = self._snap.term_stats
        if prefix:
            dic = dic.where(F.col("term").startswith(prefix))
        sort_cols = (
            [F.col("df").desc(), F.col("term").asc()]
            if order == "df"
            else [F.col("term").asc()]
        )
        rows = (
            dic.where(F.col("term").rlike(rx))
            .orderBy(*sort_cols)
            .limit(int(max_expansions))
            .collect()
        )
        return [(r["term"], int(r["df"])) for r in rows]

    def top_k_regexp(self, regex: str, k: int = 10,
                     max_expansions: int = 50,
                     with_docs: bool = True) -> DataFrame:
        """Top-k BM25 for an ES ``regexp`` query: whole-term regex
        expansion against the dictionary (regexp_expand), each
        expansion scoring as a disjunctive term with idf(its OWN df)
        — the same deterministic per-expansion contract as
        top_k_wildcard/top_k_fuzzy, reproducible in SQL.  Warm cost:
        1 dictionary job + the standard top_k_bool machinery
        (block-max, driver-local gate, deletes, pagination
        unchanged)."""
        cand = self.regexp_expand(regex, max_expansions)
        return self._top_k_terms([t for t, _ in cand], k, with_docs)

    def top_k_wildcard(self, pattern: str, k: int = 10,
                       max_expansions: int = 50,
                       with_docs: bool = True) -> DataFrame:
        """Top-k BM25 for an ES ``wildcard``/``prefix`` query: the
        pattern expands against the term dictionary (wildcard_expand)
        and each expansion scores as a regular disjunctive term with
        weight idf(its OWN df) — the same deterministic per-expansion
        contract as top_k_fuzzy, exactly reproducible in SQL.  The
        expansion cap keeps the scoring term set bounded (Lucene's
        maxExpansions); expansions are chosen highest-df first.

        Warm cost: 1 dictionary job + the standard top_k_bool
        machinery — block-max pruning, the driver-local gate,
        deletes, and pagination all apply unchanged."""
        cand = self.wildcard_expand(pattern, max_expansions)
        return self._top_k_terms([t for t, _ in cand], k, with_docs)

    def _top_k_terms(self, terms: list, k: int,
                     with_docs: bool) -> DataFrame:
        """Top-k over dictionary terms as one pre-analyzed should
        clause, qtf 1 each — top_k_bool gives every term its own
        idf."""
        if not terms:
            return self._empty_hits(with_docs)
        return self.top_k_bool(
            Bool(should=[{"terms": {t: 1.0 for t in terms}}]),
            k=k, with_docs=with_docs,
        )

    def explain(self, query_text: str, doc_id: int,
                source=None) -> DataFrame:
        """Per-term score breakdown for one (query, doc) — the ES
        `_explain` shape.  Returns one row per query term PRESENT in
        the doc: (term, qtf, df, idf, tf, score) with score =
        qtf * idf * tfn; the rows sum to exactly the doc's top_k score
        (pytest-pinned), term asc.

        Scale shape: df/idf come from the warm term-stats LRU (zero
        jobs warm), the doc row is ONE partition-pruned docs lookup
        (range_bucket derived from the id like _attach_docs), and the
        breakdown explodes that single row's tf map filtered to the
        query terms — one tiny job, never a postings or corpus scan."""
        snap = self._snap
        schema = ("term string, qtf int, df long, idf double, "
                  "tf long, score double")
        weights_terms = tokenize(query_text, self._query_rules(source))
        qtf: dict[str, int] = {}
        for t in weights_terms:
            qtf[t] = qtf.get(t, 0) + 1
        if not qtf:
            return snap.empty(schema)
        dfs = self._term_dfs(sorted(qtf))
        n = self.meta["n_docs"]
        avgdl = float(self.meta["avgdl"])
        k1, b = self.cfg.k1, self.cfg.b
        from sotohp_spark.operators import bm25 as _bm25

        idf = {t: _bm25.lucene_idf_scalar(n, d) for t, d in dfs.items()}
        # a TOMBSTONED doc explains to EMPTY (ES _explain reports a
        # deleted doc unmatched)
        row = self._live_doc_row(snap, doc_id)
        if row is None:
            return snap.empty(schema)
        qtf_m = F.create_map(
            *[x for t in dfs for x in (F.lit(t), F.lit(qtf[t]))]
        )
        df_m = F.create_map(
            *[x for t, d in dfs.items() for x in (F.lit(t), F.lit(d))]
        )
        idf_m = F.create_map(
            *[x for t, v in idf.items() for x in (F.lit(t), F.lit(v))]
        )
        tfn = (
            F.col("tf") * (k1 + 1.0)
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("doc_len") / avgdl))
        )
        return (
            row.select(
                "doc_len", F.explode("tfs").alias("term", "tf")
            )
            .where(F.col("term").isin(list(dfs)))
            .select(
                "term",
                qtf_m[F.col("term")].cast("int").alias("qtf"),
                df_m[F.col("term")].cast("long").alias("df"),
                F.round(idf_m[F.col("term")], 6).alias("idf"),
                F.col("tf").cast("long").alias("tf"),
                F.round(
                    qtf_m[F.col("term")] * idf_m[F.col("term")] * tfn, 6
                ).alias("score"),
            )
            .orderBy("term")
        )

    def scored_matches(self, query_text: str, conjunctive: bool = False,
                       source=None) -> DataFrame:
        """Every matching doc with its EXACT BM25 score — no k, no
        global order (the scored-export shape, and the input a
        collapse/function_score rescorer needs).  Returns
        DataFrame(doc_id, score), partitioned by range.

        Scale shape: the same one-job per-range scorer as top_k with
        the top-k cut disabled — a scored export must decode every
        candidate block, so there is nothing for block-max to skip and
        the cost is THE MATCHED POSTINGS, never the corpus.  Output
        stays distributed (no collect, no sort) above the interactive
        gate; under it the per-range kernel runs driver-side (see
        _apply_per_range) and consumers aggregate the LocalRelation;
        either way they aggregate or order it themselves."""
        q = self._match_bool(query_text, conjunctive, source)
        if q is None:
            return self._empty_hits(False)
        return self.top_k_bool(
            q, with_docs=False, source=source, _no_cut=True
        )

    def top_k_collapse(self, query_text: str, k: int = 10,
                       by: str = "day", conjunctive: bool = False,
                       source=None) -> DataFrame:
        """ES field collapsing (``collapse``): ONE result per collapse
        bucket — the bucket's best-scoring doc, buckets ranked by that
        best score.  Returns DataFrame(collapse_key, doc_id, conv_id,
        score), score desc / doc_id asc, k buckets.

        ``by``: "day" | "week" | "month" (doc_ts truncated — the doc
        metadata this index stores; an arbitrary keyword field would
        collapse the same way).

        Scale shape: scored_matches streams every match's exact score
        out of the per-range scorer (ES collapse also scores the full
        matched set), joins doc metadata with the same derived
        range_bucket partition pruning as _attach_docs, then ONE
        groupBy(collapse_key) with max_by — an aggregation with
        map-side partials, not a window over the matched set — and a
        TakeOrderedAndProject(k) on the tiny per-bucket frame."""
        if by == "day":
            key = F.date_format(F.col("doc_ts"), "yyyy-MM-dd")
        elif by == "week":
            key = F.date_format(F.date_trunc("week", F.col("doc_ts")),
                                "yyyy-MM-dd")
        elif by == "month":
            key = F.date_format(F.col("doc_ts"), "yyyy-MM")
        else:
            raise ValueError(f"unknown collapse key {by!r} "
                             "(expected day | week | month)")
        scored = self._scored_set(query_text, conjunctive, source)
        keyed = self._bucket_keyed(scored)
        best = (
            self._snap.docs.join(keyed, ["range_bucket", "doc_id"])
            .groupBy(key.alias("collapse_key"))
            .agg(
                F.max_by(
                    F.struct("doc_id", "conv_id", "score"),
                    # (score asc, doc_id desc) max == best score,
                    # lowest doc id on ties
                    F.struct(
                        F.col("score").alias("s"),
                        (-F.col("doc_id")).alias("nid"),
                    ),
                ).alias("best")
            )
        )
        return (
            best.select(
                "collapse_key",
                F.col("best.doc_id").alias("doc_id"),
                F.col("best.conv_id").alias("conv_id"),
                F.col("best.score").alias("score"),
            )
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(k)
        )

    def top_k_decay(self, query_text: str, origin, k: int = 10,
                    half_life_days: float = 30.0,
                    conjunctive: bool = False, source=None) -> DataFrame:
        """ES function_score with an exponential recency decay:
        final = BM25 * 0.5 ** (|origin - doc_ts| / half_life_days) —
        relevance damped by distance from ``origin`` (symmetric, the
        ES ``exp`` decay with scale = half_life and decay = 0.5).
        Returns DataFrame(doc_id, conv_id, score, doc_ts), final score
        desc / doc_id asc.

        ``origin`` is required (a deterministic "now"): datetime or
        ISO string, tz-aware values converted to the session zone.

        Scale shape: a multiplicative time decay re-ranks the WHOLE
        matched set (a doc's final score depends on its ts, so no
        BM25-ordered prefix is safe to cut) — exactly why ES
        function_score scores every match too.  scored_matches streams
        exact scores out of the per-range scorer, doc_ts joins in with
        derived-bucket pruning, and the final order is a
        TakeOrderedAndProject(k) — cost tracks the matched postings,
        never the corpus."""
        if half_life_days <= 0:
            raise ValueError("half_life_days must be positive")
        origin_dt = self._coerce_ts(origin)
        if origin_dt is None:
            raise ValueError("origin is required (a deterministic now)")
        scored = self._scored_set(query_text, conjunctive, source)
        keyed = self._bucket_keyed(scored)
        age_days = (
            F.abs(
                F.unix_timestamp(F.lit(origin_dt))
                - F.unix_timestamp(F.col("doc_ts"))
            )
            / F.lit(86400.0)
        )
        decayed = F.col("score") * F.pow(
            F.lit(0.5), age_days / F.lit(float(half_life_days))
        )
        return (
            self._snap.docs.join(keyed, ["range_bucket", "doc_id"])
            .select(
                "doc_id", "conv_id",
                decayed.alias("score"), "doc_ts",
            )
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(k)
        )

    def rescore(self, query_text: str, phrase: str, texts: DataFrame,
                k: int = 10, window_size: int = 50,
                query_weight: float = 1.0, rescore_weight: float = 1.0,
                source=None) -> DataFrame:
        """ES ``rescore``: take the top ``window_size`` docs of the
        primary BM25 query, re-rank them with a phrase (proximity)
        secondary query — final = query_weight * primary +
        rescore_weight * secondary, where secondary is the BM25 score
        over the PHRASE's terms for window docs containing the exact
        phrase (raw-text word-boundary semantics via ``texts``) and 0
        otherwise.  Only window docs are eligible (ES rescore reorders
        within the window, never admits new docs).  Returns
        DataFrame(doc_id, score, primary, secondary), final desc /
        doc_id asc, k rows.

        Scale shape: the window is k-small, so it BROADCASTS into
        every later step — the phrase verify and the secondary scorer
        are both left-semi restricted to window docs before any heavy
        work, and the final combine is a broadcast left join over
        <= window_size rows.  The phrase candidate scan itself costs
        the phrase terms' postings (same class as phrase_search) —
        the Lucene rescorer's cost model."""
        if k > window_size:
            raise ValueError("k must be <= window_size (rescore only "
                             "reorders inside the window)")
        # materialize the window ONCE: it is <= window_size rows by
        # definition (ES holds the rescore window in memory too), and
        # referencing the lazy top_k frame from three joins would
        # re-execute the whole primary scoring subtree per reference
        wrows = self.top_k(
            query_text, k=window_size, with_docs=False, source=source
        ).collect()
        if not wrows:
            return self._snap.empty(
                "doc_id long, score double, primary double, "
                "secondary double"
            )
        wdf = self.spark.createDataFrame(
            [(int(r["doc_id"]), float(r["score"])) for r in wrows],
            "doc_id long, primary double",
        )
        wids = wdf.select("doc_id")
        members = self.phrase_search(
            phrase, texts=texts, source=source
        ).select("doc_id").join(F.broadcast(wids), "doc_id", "left_semi")
        sec = (
            self.scored_matches(phrase, source=source)
            .join(F.broadcast(wids), "doc_id", "left_semi")
            .join(F.broadcast(members), "doc_id", "left_semi")
            .select("doc_id", F.col("score").alias("secondary"))
        )
        final = (
            F.lit(float(query_weight)) * F.col("primary")
            + F.lit(float(rescore_weight))
            * F.coalesce(F.col("secondary"), F.lit(0.0))
        )
        return (
            wdf.join(F.broadcast(sec), "doc_id", "left")
            .select(
                "doc_id", final.alias("score"), "primary",
                F.coalesce(F.col("secondary"), F.lit(0.0)).alias("secondary"),
            )
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(k)
        )

    def _live_doc_row(self, snap, doc_id: int) -> DataFrame | None:
        """The stored docs row of ``doc_id`` (tf map included) as ONE
        partition-pruned lookup (range_bucket + doc_id pushdown), or
        None when the driver tombstones hold it; with the tombstones
        distributed, a doc-id-pruned anti join masks it instead.  A
        tombstoned doc's stored row never leaks back out."""
        if snap.deletes is not None and int(doc_id) in snap.deletes:
            return None
        span = self.cfg.range_size * self.cfg.ranges_per_batch
        row = snap.docs_raw.where(
            (F.col("range_bucket") == int(doc_id) // span)
            & (F.col("doc_id") == int(doc_id))
        )
        if snap.deletes is None:
            row = row.join(
                snap.deletes_df.where(F.col("doc_id") == int(doc_id)),
                "doc_id", "left_anti",
            )
        return row

    def term_vectors(self, doc_id: int) -> DataFrame:
        """ES ``_termvectors``: the stored term vector of ONE doc —
        every term it contains with its tf, corpus df, Lucene idf, and
        length-normalized BM25 term weight (idf * tfn; multiplying by
        a query's qtf gives that term's top_k contribution, so
        explain() is exactly this restricted to query terms).  Returns
        DataFrame(term, tf, df, idf, weight), term asc.

        Scale shape: ONE partition-pruned docs-row lookup
        (range_bucket + doc_id parquet pushdown) exploded to
        (term, tf) and BROADCAST (one doc's vocabulary) into a join
        with the term_stats dictionary — cost tracks the doc's
        distinct-term count plus a columnar dictionary scan, never the
        postings or the corpus.  df counts committed docs as of the
        last stats write (Lucene semantics: tombstones decay df at
        merge, not per delete).  A TOMBSTONED doc returns an EMPTY
        frame (ES _termvectors reports a deleted doc as found=false;
        its stored row must not leak back out through this API)."""
        snap = self._snap
        n = self.meta["n_docs"]
        avgdl = float(self.meta["avgdl"])
        k1, b = self.cfg.k1, self.cfg.b
        schema = ("term string, tf long, df long, "
                  "idf double, weight double")
        row = self._live_doc_row(snap, doc_id)
        if row is None:
            return snap.empty(schema)
        doc = row.select("doc_len", F.explode("tfs").alias("term", "tf"))
        idf = F.log(
            1.0
            + (F.lit(float(n)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
        )
        tfn = (
            F.col("tf") * (k1 + 1.0)
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("doc_len") / avgdl))
        )
        return (
            snap.term_stats.join(F.broadcast(doc), "term")
            .select(
                "term",
                F.col("tf").cast("long").alias("tf"),
                F.col("df").cast("long").alias("df"),
                F.round(idf, 6).alias("idf"),
                F.round(idf * tfn, 6).alias("weight"),
            )
            .orderBy("term")
        )

    def top_k_recent(self, query_text: str, k: int = 10,
                     source=None) -> DataFrame:
        """The ES sort-by-field shape (`sort: [{ts: desc}]`): the k
        MOST RECENT docs containing every query term — membership from
        the index, ordering by doc_ts desc (doc_id asc tie-break), no
        relevance scores.  Returns DataFrame(doc_id, conv_id, doc_ts).

        Scale shape: candidates stream out of the per-range
        block-skipping conjunction; within a SEGMENT doc ids are
        (doc_ts, conv_id)-ordered (the build invariant time-windowed
        search relies on), so "k most recent per segment" is "k
        largest doc ids per segment" — a row_number window whose
        rank<=k predicate Spark rewrites into WindowGroupLimit
        (per-partition partial top-k BEFORE the shuffle).  Only the
        <= k * n_segments survivors join doc metadata (broadcast,
        partition-pruned like _attach_docs) for the exact final
        (doc_ts, doc_id) order; ties inside one segment stay correct
        because the id order refines doc_ts by conv_id, and ACROSS
        segments the final sort decides."""
        from pyspark.sql import Window

        ids = self._matched_ids(query_text, source)
        segs = self.meta.get("segments") or [[0, self.meta["max_doc"]]]
        if len(segs) <= 16:
            # few segments: a literal CASE chain stays in whole-stage
            # codegen with zero join overhead
            seg_col = F.lit(None).cast("int")
            for i, (lo, hi) in reversed(list(enumerate(segs))):
                seg_col = F.when(
                    (F.col("doc_id") >= int(lo))
                    & (F.col("doc_id") <= int(hi)),
                    F.lit(i),
                ).otherwise(seg_col)
            tagged = ids.withColumn("seg", seg_col)
        else:
            # many segments (append-heavy index with auto-merge off):
            # a literal expression tree would grow linearly in the
            # PLAN (codegen bloat per query) — ship the bounds as a
            # broadcast (seg, lo, hi) table instead; per-row cost is
            # the same O(n_segments) containment test, plan size O(1)
            bounds = self.spark.createDataFrame(
                [(i, int(lo), int(hi)) for i, (lo, hi) in enumerate(segs)],
                "seg int, lo long, hi long",
            )
            tagged = ids.join(
                F.broadcast(bounds),
                (F.col("doc_id") >= F.col("lo"))
                & (F.col("doc_id") <= F.col("hi")),
            ).drop("lo", "hi")
        w = Window.partitionBy("seg").orderBy(F.col("doc_id").desc())
        survivors = (
            tagged
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k)
            .select("doc_id")
        )
        keyed = self._bucket_keyed(survivors)
        return (
            self._snap.docs.join(F.broadcast(keyed), ["range_bucket", "doc_id"])
            .select("doc_id", "conv_id", "doc_ts")
            .orderBy(F.col("doc_ts").desc(), F.col("doc_id").asc())
            .limit(k)
        )

    def _highlight_inputs(self, query, k, source):
        """(positive text-stream terms, top-k frame) for a highlight
        query given as text or Bool — Bool retrieval runs top_k_bool;
        wrap terms are every positive clause's analyzed text-stream
        terms (must_not never wraps; field-tagged keys highlight
        nothing in the raw text)."""
        if not isinstance(query, Bool):
            query = Bool(should=[query])
        rules = self._query_rules(source)
        terms: set = set()
        for text, _b, cfields, cterms in _bool_clauses(
            query.must + query.should + query.filter
        ):
            if cfields is not None and "text" not in [
                f if isinstance(f, str) else f[0] for f in cfields
            ]:
                continue
            if cterms is not None:
                terms.update(cterms)
            else:
                terms.update(tokenize(text, rules))
        top = self.top_k_bool(query, k, with_docs=False, source=source)
        return sorted(terms), top

    def highlight(self, query_text: str, texts: DataFrame, k: int = 10,
                  text_col: str = "text", id_col: str = "doc_id",
                  source=None, tag: str = "em") -> DataFrame:
        """ES highlighting, whole-field mode (number_of_fragments=0):
        the top-k docs' raw text with every whole-word,
        case-insensitive occurrence of any query term wrapped in
        <tag>...</tag>.  ``texts`` is a (doc_id, text) frame — the same
        verify-side contract phrase_search uses.

        Scale shape: highlighting happens AFTER retrieval on the k-row
        result only — the k-row frame broadcasts into the text table
        join (partition-prunable on a doc_id-keyed table) and the
        regexp_replace is JVM codegen on k rows, never a corpus pass.
        Like ES's plain highlighter, the text is re-analyzed at
        highlight time; analyzer-normalized terms that differ from
        their raw surface form (camelCase splits) simply don't wrap."""
        import re as _re

        terms, top = self._highlight_inputs(query_text, k, source)
        if not terms:
            return (
                texts.join(F.broadcast(top), id_col)
                .select(id_col, "score",
                        F.col(text_col).alias("highlight"))
            )
        pat = (
            r"(?i)\b(" + "|".join(_re.escape(t) for t in terms) + r")\b"
        )
        return (
            texts.join(F.broadcast(top), id_col)
            .select(
                id_col,
                "score",
                F.regexp_replace(
                    F.col(text_col), pat, f"<{tag}>$1</{tag}>"
                ).alias("highlight"),
            )
            .orderBy(F.col("score").desc(), F.col(id_col).asc())
        )

    def highlight_fragments(self, query_text: str, texts: DataFrame,
                            k: int = 10, number_of_fragments: int = 3,
                            fragment_size: int = 100,
                            text_col: str = "text",
                            id_col: str = "doc_id",
                            source=None, tag: str = "em") -> DataFrame:
        """ES highlighting, FRAGMENTS mode (the ES default,
        number_of_fragments=3 / fragment_size=100): per top-k doc, up
        to N snippets of ~fragment_size chars, each centered on a run
        of query-term matches, matched terms wrapped in
        <tag>...</tag>.  Returns DataFrame(doc_id, score, fragments
        array<string>) — fragments ordered by the ES contract: best
        (most matches) first, position ascending on ties; snippets
        never split words.

        Fragmentation: whole-word case-insensitive match offsets are
        merged greedily into windows of <= fragment_size chars (a
        match run denser than the window stays one fragment), windows
        expand to word boundaries, the top N windows by match count
        survive.

        Scale shape: retrieval is the standard one-job top_k;
        fragment extraction is an Arrow-batched pandas UDF over the
        K-ROW joined frame only — never a corpus pass (same
        post-retrieval contract as whole-field highlight; Python on k
        rows, not on data)."""
        import re as _re

        from pyspark.sql.functions import pandas_udf

        if number_of_fragments < 1:
            raise ValueError(
                "number_of_fragments must be >= 1 (use highlight() "
                "for whole-field mode)"
            )
        if fragment_size < 10:
            raise ValueError("fragment_size must be >= 10")
        terms, top = self._highlight_inputs(query_text, k, source)
        if not terms:
            return (
                texts.join(F.broadcast(top), id_col)
                .select(
                    id_col, "score",
                    F.array().cast(T.ArrayType(T.StringType()))
                    .alias("fragments"),
                )
            )
        pat = _re.compile(
            r"(?i)\b(" + "|".join(_re.escape(t) for t in terms) + r")\b"
        )
        n_frag, fsize = int(number_of_fragments), int(fragment_size)
        open_t, close_t = f"<{tag}>", f"</{tag}>"

        @pandas_udf(T.ArrayType(T.StringType()))
        def extract(col: pd.Series) -> pd.Series:
            out = []
            for text in col:
                if text is None:
                    out.append([])
                    continue
                spans = [m.span() for m in pat.finditer(text)]
                if not spans:
                    out.append([])
                    continue
                # greedy merge of match spans into <= fsize windows
                windows = []  # (start, end, n_matches)
                ws, we, n = spans[0][0], spans[0][1], 1
                for s, e in spans[1:]:
                    if e - ws <= fsize:
                        we, n = e, n + 1
                    else:
                        windows.append((ws, we, n))
                        ws, we, n = s, e, 1
                windows.append((ws, we, n))
                # best-first (ES order), position asc on ties
                windows.sort(key=lambda w: (-w[2], w[0]))
                frags = []
                for ws, we, _n in windows[:n_frag]:
                    pad = max(0, (fsize - (we - ws)) // 2)
                    lo, hi = max(0, ws - pad), min(len(text), we + pad)
                    # expand to word boundaries (never split a word)
                    while lo > 0 and not text[lo - 1].isspace():
                        lo -= 1
                    while hi < len(text) and not text[hi].isspace():
                        hi += 1
                    frag = pat.sub(
                        lambda m: open_t + m.group(0) + close_t,
                        text[lo:hi].strip(),
                    )
                    frags.append(frag)
                out.append(frags)
            return pd.Series(out)

        return (
            texts.join(F.broadcast(top), id_col)
            .select(
                id_col, "score",
                extract(F.col(text_col)).alias("fragments"),
            )
            .orderBy(F.col("score").desc(), F.col(id_col).asc())
        )

    def facets(self, query_text: str, by: str = "month",
               source=None) -> DataFrame:
        """ES-style aggregation over the query's matched set: every doc
        matching ALL query terms (filter context — same membership as
        matching_doc_ids, no scores) is bucketed by a metadata facet
        and counted.  Returns DataFrame(facet, n_docs, avg_doc_len),
        ordered by facet.

        ``by``: "month" (doc_ts truncated), "week", or "n_turns"
        (conversation length — histogram of turn counts).

        Scale shape: candidates stream out of the per-range block-
        skipping conjunction (one job, no k cap), join doc metadata on
        (range_bucket, doc_id) — range_bucket derived from the doc id
        the same way _attach_docs does, so the docs side hive-prunes to
        the buckets that hold candidates — then partial-aggregate into
        at most a few hundred facet buckets.  Nothing is ordered or
        collected before the final tiny facet frame."""
        if by == "month":
            key = F.date_format(F.col("doc_ts"), "yyyy-MM")
        elif by == "week":
            key = F.date_format(F.date_trunc("week", F.col("doc_ts")),
                                "yyyy-MM-dd")
        elif by == "n_turns":
            key = F.col("n_turns").cast("string")
        else:
            raise ValueError(f"unknown facet key {by!r} "
                             "(expected month | week | n_turns)")
        ids = self._matched_ids(query_text, source)
        keyed = self._bucket_keyed(ids)
        return (
            self._snap.docs.join(keyed, ["range_bucket", "doc_id"])
            .groupBy(key.alias("facet"))
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.round(F.avg("doc_len"), 6).alias("avg_doc_len"),
            )
            .orderBy("facet")
        )

    # numeric doc-metadata fields the metric aggregations accept
    _NUMERIC_DOC_FIELDS = ("doc_len", "n_turns")

    def _matched_ids(self, query, source=None) -> DataFrame:
        """Matched doc ids (filter context, no scores) for a query
        given as conjunctive TEXT or as a composable ``Bool`` — the
        membership primitive every aggregation runs on (ES
        aggregations accept any query; this is the routing point).
        Bool membership reuses the one-job bool scan with the k-cut
        disabled (scores are computed and dropped — the bitmask
        membership rides the same decode)."""
        if isinstance(query, Bool):
            return self.top_k_bool(
                query, with_docs=False, source=source, _no_cut=True
            ).select("doc_id")
        return self.matching_doc_ids(query, source=source)

    def _scored_set(self, query, conjunctive: bool = False,
                    source=None) -> DataFrame:
        """Every match with its exact score, for text or Bool — the
        input the score-consuming aggregations (collapse / top_hits /
        function_score) need."""
        if isinstance(query, Bool):
            return self.top_k_bool(
                query, with_docs=False, source=source, _no_cut=True
            )
        return self.scored_matches(query, conjunctive, source)

    def _matched_metric(self, query_text: str, field: str,
                        source=None) -> DataFrame:
        """One ``m`` (double) per matched doc for the metric
        aggregations.  For ``doc_len`` the value rides OUT OF the
        candidates decode itself (matching_doc_ids(with_dl=True) —
        the rarest term's posting stream already carries every
        survivor's BM25 document length), so the aggregation needs NO
        docs-table join; other fields take the pruned metadata
        join."""
        if field not in self._NUMERIC_DOC_FIELDS:
            raise ValueError(
                f"field must be one of {self._NUMERIC_DOC_FIELDS}, "
                f"got {field!r}"
            )
        if field == "doc_len" and not isinstance(query_text, Bool):
            return self.matching_doc_ids(
                query_text, source=source, with_dl=True
            ).select(F.col("dl").cast("double").alias("m"))
        ids = self._matched_ids(query_text, source)
        keyed = self._bucket_keyed(ids)
        return self._snap.docs.join(keyed, ["range_bucket", "doc_id"]).select(
            F.col(field).cast("double").alias("m")
        )

    def top_hits(self, query_text: str, k: int = 10, size: int = 3,
                 by: str = "day", conjunctive: bool = False,
                 source=None) -> DataFrame:
        """ES ``top_hits`` sub-aggregation under a date-bucket terms
        agg: the ``size`` best-scoring docs of EACH bucket, buckets
        ranked by their best doc's score, top ``k`` buckets kept —
        field collapsing generalized from 1 hit to N hits per bucket.
        Returns DataFrame(bucket, hit_rank, doc_id, conv_id, score).

        Scale shape: scored_matches streams every match's exact score
        out of the per-range scorer (the same score-the-matched-set
        contract as collapse/function_score — a bucket's winners
        admit no BM25-ordered cut), joins doc metadata with derived
        range_bucket pruning, then ONE window (partitioned by bucket,
        matched set only — never the corpus) cut to ``size``; bucket
        ranking happens on the tiny <= size-per-bucket frame.
        Determinism: hits order (score desc, doc_id asc); buckets by
        (best score desc, bucket asc)."""
        from pyspark.sql import Window

        if size < 1:
            raise ValueError(f"size must be >= 1, got {size}")
        key = self._date_bucket_key(by)
        scored = self._scored_set(query_text, conjunctive, source)
        keyed = self._bucket_keyed(scored)
        w = Window.partitionBy("bucket").orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        )
        hits = (
            self._snap.docs.join(keyed, ["range_bucket", "doc_id"])
            .select(key.alias("bucket"), "doc_id", "conv_id", "score")
            .withColumn("hit_rank", F.row_number().over(w))
            .where(F.col("hit_rank") <= size)
        )
        top_buckets = (
            hits.groupBy("bucket")
            .agg(F.max("score").alias("best"))
            .orderBy(F.col("best").desc(), F.col("bucket").asc())
            .limit(k)
            .select("bucket")
        )
        return (
            hits.join(F.broadcast(top_buckets), "bucket", "left_semi")
            .select("bucket", "hit_rank", "doc_id", "conv_id", "score")
            .orderBy("bucket", "hit_rank")
        )

    def percentiles(self, query_text: str,
                    percents=(25.0, 50.0, 75.0, 95.0, 99.0),
                    field: str = "doc_len", method: str = "exact",
                    accuracy: int = 10000, source=None) -> DataFrame:
        """ES ``percentiles`` aggregation over the matched set: the
        distribution of a numeric doc field among docs matching ALL
        query terms (filter context).  Returns DataFrame(percent,
        value), percent ascending; ``percents`` use the ES 0..100
        scale.

        ``method``: ``"exact"`` (linear-interpolated, the DuckDB
        quantile_cont contract — oracle-checkable) or ``"approx"``
        (Spark approx_percentile / KLL-like sketch, mergeable
        map-side partials — the 100-TB path, mirroring ES's own
        t-digest approximation; ``accuracy`` trades memory for
        error).  Exact percentile of N matched values sorts them on
        one node's aggregation buffer — fine for a filtered slice,
        wrong for a near-corpus match at 10^12 turns: use approx
        there, exactly as ES does."""
        if field not in self._NUMERIC_DOC_FIELDS:
            raise ValueError(
                f"field must be one of {self._NUMERIC_DOC_FIELDS}, "
                f"got {field!r}"
            )
        pcts = [float(p) for p in percents]
        if not pcts or not all(0.0 <= p <= 100.0 for p in pcts):
            raise ValueError(f"percents must be in [0, 100]: {percents}")
        if method not in ("exact", "approx"):
            raise ValueError(
                f"method must be 'exact' or 'approx', got {method!r}"
            )
        fracs = F.array(*[F.lit(p / 100.0) for p in pcts])
        src = self._matched_metric(query_text, field, source)
        col = F.col("m")
        if method == "exact":
            agg = F.percentile(col, fracs)
        else:
            agg = F.approx_percentile(col, fracs, F.lit(int(accuracy)))
        vals = (
            src.agg(agg.alias("vals"))
            .select(
                F.posexplode(
                    F.arrays_zip(
                        F.array(*[F.lit(p) for p in pcts]).alias("p"),
                        F.col("vals").alias("v"),
                    )
                ).alias("i", "pv")
            )
            .select(
                F.col("pv.p").alias("percent"),
                F.col("pv.v").cast("double").alias("value"),
            )
            .orderBy("percent")
        )
        return vals

    def filters_agg(self, filters, source=None) -> DataFrame:
        """ES ``filters`` aggregation: several NAMED filter queries
        bucketed and counted in one pass — the dashboard tile row
        ("errors / retries / deploys this week").  ``filters``: dict
        name -> query text (conjunctive match, the matching_doc_ids
        contract).  Returns DataFrame(name, n_docs) with a row for
        EVERY name (0 on no matches — ES keeps empty buckets),
        ordered by name.

        Scale shape: matching_doc_ids_batch decodes each term's
        postings once per range and shares it across every filter
        referencing it (one distributed job), then a partial-agg
        count per name; the zero-bucket completion is a broadcast
        left join against the k-row name list."""
        if not filters:
            raise ValueError("filters must be a non-empty dict")
        names = sorted(str(n) for n in filters)
        if len(set(names)) != len(names):
            raise ValueError("filter names must be distinct strings")
        counts = (
            self.matching_doc_ids_batch(
                [(n, filters[n]) for n in names], source=source
            )
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_docs"))
        )
        # pandas-backed tiny frame: a plain list createDataFrame is
        # RDD-backed and its every action schedules defaultParallelism
        # empty tasks (the r08 empty-frame finding)
        name_rows = self.spark.createDataFrame(
            pd.DataFrame({"name": names}), schema="name string"
        )
        return (
            name_rows.join(
                counts.withColumnRenamed("query_id", "name"),
                "name", "left",
            )
            .select(
                "name",
                F.coalesce(F.col("n_docs"), F.lit(0)).alias("n_docs"),
            )
            .orderBy("name")
        )

    def range_agg(self, query_text: str, field: str = "doc_len",
                  edges=(500.0, 1500.0), metric: str = "n_turns",
                  source=None) -> DataFrame:
        """ES ``range`` aggregation with a ``stats`` sub-aggregation:
        matched docs bucketed by half-open ranges of a numeric field
        ([lo, hi) — the ES range-agg boundary contract, first bucket
        open below, last open above), each bucket carrying doc count
        and min/avg/max of a second metric field.  Returns
        DataFrame(bucket, n_docs, min_m, avg_m, max_m) ordered by the
        range's position; empty buckets are kept at n_docs 0 (ES
        keeps them).

        Scale shape: one conjunctive-candidates job, pruned metadata
        join, then a partial aggregation into len(edges)+1 buckets —
        the bucket expression is a codegen CASE chain over the sorted
        edges, no UDF, no window."""
        if field not in self._NUMERIC_DOC_FIELDS:
            raise ValueError(
                f"field must be one of {self._NUMERIC_DOC_FIELDS}, "
                f"got {field!r}"
            )
        if metric not in self._NUMERIC_DOC_FIELDS:
            raise ValueError(
                f"metric must be one of {self._NUMERIC_DOC_FIELDS}, "
                f"got {metric!r}"
            )
        es = [float(e) for e in edges]
        if not es or sorted(es) != es or len(set(es)) != len(es):
            raise ValueError(
                f"edges must be strictly ascending, got {edges}"
            )

        def _label(lo, hi):
            lo_s = "*" if lo is None else f"{lo:g}"
            hi_s = "*" if hi is None else f"{hi:g}"
            return f"{lo_s}-{hi_s}"

        bounds = (
            [(None, es[0])]
            + list(zip(es, es[1:]))
            + [(es[-1], None)]
        )
        col = F.col(field).cast("double")
        expr = F.when(col < es[0], F.lit(_label(None, es[0])))
        for lo, hi in bounds[1:-1]:
            expr = expr.when(col < hi, F.lit(_label(lo, hi)))
        expr = expr.otherwise(F.lit(_label(es[-1], None)))
        ids = self._matched_ids(query_text, source)
        keyed = self._bucket_keyed(ids)
        m = F.col(metric).cast("double")
        got = (
            self._snap.docs.join(keyed, ["range_bucket", "doc_id"])
            .groupBy(expr.alias("bucket"))
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.min(m).alias("min_m"),
                F.round(F.avg(m), 6).alias("avg_m"),
                F.max(m).alias("max_m"),
            )
        )
        order = self.spark.createDataFrame(
            [(i, _label(lo, hi)) for i, (lo, hi) in enumerate(bounds)],
            "pos int, bucket string",
        )
        return (
            order.join(got, "bucket", "left")
            .select(
                "pos", "bucket",
                F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
                "min_m", "avg_m", "max_m",
            )
            .orderBy("pos")
            .drop("pos")
        )

    _COMPOSITE_SOURCES = ("day", "week", "month", "n_turns")

    def _date_bucket_key(self, by: str):
        """The day/week/month doc_ts bucket expression every
        date-keyed aggregation shares (one definition — a week
        truncation fix can never diverge between aggs)."""
        if by == "day":
            return F.date_format(F.col("doc_ts"), "yyyy-MM-dd")
        if by == "week":
            return F.date_format(
                F.date_trunc("week", F.col("doc_ts")), "yyyy-MM-dd"
            )
        if by == "month":
            return F.date_format(F.col("doc_ts"), "yyyy-MM")
        raise ValueError(f"unknown bucket key {by!r} "
                         "(expected day | week | month)")

    def _composite_key(self, name: str):
        if name == "day":
            return F.date_format(F.col("doc_ts"), "yyyy-MM-dd")
        if name == "week":
            return F.date_format(
                F.date_trunc("week", F.col("doc_ts")), "yyyy-MM-dd"
            )
        if name == "month":
            return F.date_format(F.col("doc_ts"), "yyyy-MM")
        if name == "n_turns":
            return F.lpad(F.col("n_turns").cast("string"), 6, "0")
        raise ValueError(
            f"unknown composite source {name!r} "
            f"(expected one of {self._COMPOSITE_SOURCES})"
        )

    def composite_agg(self, query_text: str, sources=("month",),
                      size: int = 10, after: tuple | None = None,
                      source=None) -> DataFrame:
        """ES ``composite`` aggregation: tuple buckets over several
        sources, NATURAL-KEY ordered, paginated by an ``after`` key —
        the scroll-all-buckets shape (terms/date_histogram pagination
        without deep OFFSET).  Returns DataFrame(<source cols...>,
        n_docs) — the ``size`` buckets strictly after ``after`` in
        lexicographic source order.

        ``sources``: names from day|week|month|n_turns (numeric keys
        are zero-padded so string order == numeric order — stated
        because the oracle mirrors it).  ``after``: the LAST bucket
        tuple of the previous page, exactly as returned.

        Scale shape: one pruned candidates job, pruned metadata join,
        partial aggregation into the bucket space, and the after-key
        cursor compiles to ONE lexicographic predicate on the grouped
        frame (never OFFSET) — pages deep into a million-bucket space
        cost the same aggregation plus a filter, the exact reason ES
        added composite over terms-agg partitions."""
        if size < 1:
            raise ValueError(f"size must be >= 1, got {size}")
        names = list(sources)
        if not names:
            raise ValueError("sources must be non-empty")
        keys = [self._composite_key(n).alias(f"k_{n}") for n in names]
        ids = self._matched_ids(query_text, source)
        keyed = self._bucket_keyed(ids)
        grouped = (
            self._snap.docs.join(keyed, ["range_bucket", "doc_id"])
            .groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("n_docs"))
        )
        cols = [f"k_{n}" for n in names]
        if after is not None:
            if len(after) != len(names):
                raise ValueError(
                    f"after key arity {len(after)} != sources "
                    f"arity {len(names)}"
                )
            # lexicographic "tuple > after" as one codegen predicate
            pred = F.lit(False)
            for i in range(len(cols) - 1, -1, -1):
                eq_prefix = F.lit(True)
                for j in range(i):
                    eq_prefix = eq_prefix & (
                        F.col(cols[j]) == F.lit(str(after[j]))
                    )
                pred = pred | (
                    eq_prefix & (F.col(cols[i]) > F.lit(str(after[i])))
                )
            grouped = grouped.where(pred)
        out = grouped.orderBy(*[F.col(c).asc() for c in cols]).limit(size)
        renames = dict(zip(cols, names))
        for old, new in renames.items():
            out = out.withColumnRenamed(old, new)
        return out

    def date_histogram_derivative(self, query_text: str,
                                  by: str = "month",
                                  source=None) -> DataFrame:
        """ES ``derivative`` pipeline aggregation over a
        date_histogram: per-bucket matched-doc counts plus the
        first-order difference vs the previous PRESENT bucket
        (``derivative`` is null on the first bucket — the ES
        contract; like ES with min_doc_count > 0, gaps are skipped,
        not zero-filled).  Returns DataFrame(bucket, n_docs,
        derivative) ordered by bucket.

        Scale shape: the parent histogram is the facets plan (pruned
        candidates -> pruned metadata join -> partial agg into
        calendar-bounded buckets); the pipeline stage is ONE window
        over the tiny bucket frame — pipeline aggs cost bucket-count
        work, never matched-set work."""
        from pyspark.sql import Window

        key = self._date_bucket_key(by)
        ids = self._matched_ids(query_text, source)
        keyed = self._bucket_keyed(ids)
        hist = (
            self._snap.docs.join(keyed, ["range_bucket", "doc_id"])
            .groupBy(key.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n_docs"))
        )
        w = Window.orderBy("bucket")
        return (
            hist.withColumn(
                "derivative",
                (F.col("n_docs") - F.lag("n_docs").over(w))
                .cast("long"),
            )
            .orderBy("bucket")
        )

    def extended_stats(self, query_text: str, field: str = "doc_len",
                       source=None) -> DataFrame:
        """ES ``extended_stats`` aggregation over the matched set:
        count, min, max, sum, avg, sum_of_squares, variance
        (population — the ES default), std_deviation of a numeric doc
        field.  Returns ONE row.

        Scale shape: pruned candidates job + pruned metadata join +
        one partial-aggregable pass (every statistic here is a
        map-side-combinable moment — no second pass, no collect)."""
        if field not in self._NUMERIC_DOC_FIELDS:
            raise ValueError(
                f"field must be one of {self._NUMERIC_DOC_FIELDS}, "
                f"got {field!r}"
            )
        src = self._matched_metric(query_text, field, source)
        m = F.col("m")
        return (
            src.agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.min(m).alias("min_v"),
                F.max(m).alias("max_v"),
                F.round(F.sum(m), 6).alias("sum_v"),
                F.round(F.avg(m), 6).alias("avg_v"),
                F.round(F.sum(m * m), 6).alias("sum_sq"),
                F.round(F.var_pop(m), 6).alias("variance"),
                F.round(F.stddev_pop(m), 6).alias("std_dev"),
            )
        )

    def histogram_agg(self, query_text: str, field: str = "doc_len",
                      interval: float = 100.0,
                      source=None) -> DataFrame:
        """ES ``histogram`` aggregation (fixed interval) over the
        matched set: buckets keyed floor(value / interval) * interval,
        ordered by key; EMPTY buckets are omitted (the ES
        min_doc_count=1 shape — range_agg is the fixed-bucket-list
        alternative when empties must show).  Returns
        DataFrame(bucket, n_docs).

        Scale shape: candidates job + pruned metadata join + one
        codegen floor expression into a partial aggregation — bucket
        count bounded by the value range / interval, never by the
        matched set."""
        if field not in self._NUMERIC_DOC_FIELDS:
            raise ValueError(
                f"field must be one of {self._NUMERIC_DOC_FIELDS}, "
                f"got {field!r}"
            )
        interval = float(interval)
        if interval <= 0:
            raise ValueError(f"interval must be > 0, got {interval}")
        src = self._matched_metric(query_text, field, source)
        key = F.floor(F.col("m") / interval) * interval
        return (
            src.groupBy(key.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy("bucket")
        )

    def date_histogram_moving_avg(self, query_text: str,
                                  by: str = "month", window: int = 3,
                                  source=None) -> DataFrame:
        """ES ``moving_fn`` (unweighted average) pipeline aggregation
        over a date_histogram: per-bucket matched counts smoothed by a
        TRAILING window of ``window`` buckets including the current
        one (the dashboard smoothing shape; equals ES moving_fn with
        shift=1 — stated because ES's default shift=0 window excludes
        the current bucket).  Partial leading windows average what
        exists (ES behavior).  Returns DataFrame(bucket, n_docs,
        moving_avg) ordered by bucket.

        Scale shape: same as date_histogram_derivative — the parent
        histogram is the facets plan; the pipeline stage is one
        window over the tiny bucket frame."""
        from pyspark.sql import Window

        if window < 1:
            raise ValueError(f"window must be >= 1, got {window}")
        key = self._date_bucket_key(by)
        ids = self._matched_ids(query_text, source)
        keyed = self._bucket_keyed(ids)
        hist = (
            self._snap.docs.join(keyed, ["range_bucket", "doc_id"])
            .groupBy(key.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n_docs"))
        )
        w = (
            Window.orderBy("bucket")
            .rowsBetween(-(int(window) - 1), 0)
        )
        return (
            hist.withColumn(
                "moving_avg",
                F.round(F.avg("n_docs").over(w), 6),
            )
            .orderBy("bucket")
        )

    def rare_terms(self, query_text: str, k: int = 10,
                   max_doc_count: int = 3, source=None) -> DataFrame:
        """ES ``rare_terms`` aggregation: long-tail mining — terms
        present in the query's matched set whose CORPUS df is at most
        ``max_doc_count``, rarest first (df asc, term asc), k rows.
        Returns DataFrame(term, fg_count, bg_count).

        Scale shape: the significant_terms plan minus the JLH join —
        matched ids from the pruned conjunction, one explode of
        stored tf KEYS into a map-side-partial groupBy, then a join
        against the term_stats dictionary FILTERED to df <=
        max_doc_count first (a rare-terms dictionary is tiny by
        definition, so the join broadcasts); ES itself uses a CuckooFilter
        approximation here — this is exact."""
        snap = self._snap
        if max_doc_count < 1:
            raise ValueError(
                f"max_doc_count must be >= 1, got {max_doc_count}"
            )
        ids = self._matched_ids(query_text, source)
        keyed = self._bucket_keyed(ids)
        fg = (
            snap.docs_raw.join(keyed, ["range_bucket", "doc_id"])
            .select(F.explode(F.map_keys("tfs")).alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("fg_count"))
        )
        rare_dict = snap.term_stats.where(
            F.col("df") <= int(max_doc_count)
        ).select("term", F.col("df").cast("long").alias("bg_count"))
        return (
            fg.join(F.broadcast(rare_dict), "term")
            .select("term", "fg_count", "bg_count")
            .orderBy(F.col("bg_count").asc(), F.col("term").asc())
            .limit(k)
        )

    def adjacency_matrix(self, filters: dict, source=None) -> DataFrame:
        """ES ``adjacency_matrix`` aggregation: named filter buckets
        PLUS their pairwise intersections — the co-occurrence heatmap
        shape ("how often do error-convs also hit timeouts").
        ``filters``: dict name -> query text (conjunctive match).
        Returns DataFrame(key, n_docs) where key is a filter name or
        ``"a&b"`` (names sorted, the ES separator), EMPTY buckets
        omitted (the ES adjacency_matrix contract, unlike filters_agg),
        ordered by key.

        Scale shape: ONE matching_doc_ids_batch job (per-range decode
        shared across filters), a partial-agg count for the singles,
        and a self-equi-join on doc_id for the pairs — the join input
        is (matched doc, filter) pairs, so cost is sum of matched
        sizes x average overlap, never corpus x filters^2."""
        if not filters:
            raise ValueError("filters must be a non-empty dict")
        names = sorted(str(n) for n in filters)
        if len(set(names)) != len(names):
            raise ValueError("filter names must be distinct strings")
        if any("&" in n for n in names):
            raise ValueError("filter names must not contain '&'")
        m = self.matching_doc_ids_batch(
            [(n, filters[n]) for n in names], source=source
        )
        singles = (
            m.groupBy(F.col("query_id").alias("key"))
            .agg(F.count(F.lit(1)).alias("n_docs"))
        )
        a, b = m.alias("a"), m.alias("b")
        pairs = (
            a.join(
                b,
                (F.col("a.doc_id") == F.col("b.doc_id"))
                & (F.col("a.query_id") < F.col("b.query_id")),
            )
            .groupBy(
                F.concat_ws(
                    "&", F.col("a.query_id"), F.col("b.query_id")
                ).alias("key")
            )
            .agg(F.count(F.lit(1)).alias("n_docs"))
        )
        return singles.unionByName(pairs).orderBy("key")

    def significant_terms(self, query_text: str, k: int = 10,
                          min_doc_count: int = 3,
                          source=None) -> DataFrame:
        """ES ``significant_terms`` aggregation: terms OVERREPRESENTED
        in the query's matched set relative to the whole corpus —
        the root-cause-mining shape ("which terms are significant in
        conversations matching 'timeout'").  Scored with JLH, the ES
        default-ish blend: (fg% - bg%) * (fg% / bg%) where fg% =
        df_in_matched / n_matched and bg% = df / N.  Returns
        DataFrame(term, fg_count, bg_count, score), score desc / term
        asc, k rows; terms with fg_count < min_doc_count drop (the ES
        min_doc_count guard against one-doc flukes).

        Scale shape: matched ids stream from the per-range conjunction
        (filter context, no scores), join the docs table with the
        derived-bucket pruning _attach_docs uses, ONE explode of
        stored tf KEYS (a doc's map holds each term once, so
        count(*) per term IS the distinct-doc foreground df) into a
        groupBy(term) with map-side partials; n_matched rides the same
        plan as a broadcast one-row aggregate; background df joins
        from the term_stats dictionary.  Nothing is collected; the
        final frame is TakeOrderedAndProject(k).  The matched-id
        frame is localCheckpoint-ed so the conjunction decode runs
        ONCE even though two subtrees (the fg join and the n_matched
        aggregate) consume it, and the pinned blocks are released
        deterministically once the k-row result materializes (repeated
        calls must not accumulate executor storage for the session
        lifetime)."""
        snap = self._snap
        ids = self._matched_ids(query_text, source).persist()
        try:
            keyed = self._bucket_keyed(ids)
            fg = (
                snap.docs_raw.join(keyed, ["range_bucket", "doc_id"])
                .select(F.explode(F.map_keys("tfs")).alias("term"))
                .groupBy("term")
                .agg(F.count(F.lit(1)).alias("fg_count"))
                .where(F.col("fg_count") >= int(min_doc_count))
            )
            n_m = ids.agg(F.count(F.lit(1)).alias("n_matched"))
            n_docs = float(self.meta["n_docs"])
            fg_pct = F.col("fg_count") / F.col("n_matched")
            bg_pct = F.col("bg_count") / F.lit(n_docs)
            jlh = (fg_pct - bg_pct) * (fg_pct / bg_pct)
            out = (
                fg.crossJoin(F.broadcast(n_m))
                .join(
                    snap.term_stats.select(
                        "term", F.col("df").cast("long").alias("bg_count")
                    ),
                    "term",
                )
                .select("term", "fg_count", "bg_count",
                        F.round(jlh, 6).alias("score"))
                .orderBy(F.col("score").desc(), F.col("term").asc())
                .limit(k)
            )
            # materialize the <= k survivors NOW: the expensive shared
            # subtree (conjunction decode) runs once against the cached
            # relation, and the cache can then be dropped immediately
            # instead of leaking until session teardown
            rows = out.collect()
            return self.spark.createDataFrame(rows, out.schema)
        finally:
            ids.unpersist()

    def cardinality(self, query_text: str, by: str = "day",
                    approx: bool = True, rsd: float = 0.05,
                    source=None) -> DataFrame:
        """ES ``cardinality`` aggregation: distinct count of a bucket
        field over the query's matched set — approximate by default
        (Spark's HyperLogLog++ ``approx_count_distinct``, the same
        sketch family ES uses; ``rsd`` = relative standard deviation),
        exact with ``approx=False`` (countDistinct — a full shuffle of
        the distinct values, the cost HLL exists to avoid).  Returns a
        one-row DataFrame(n_distinct long).

        ``by``: "day" | "week" | "month" (a derived doc_ts bucket —
        the doc metadata this index stores; any keyword field would
        count the same way).

        Scale shape: matched ids stream from the filter-context
        conjunction, the docs join is bucket-pruned (_bucket_keyed),
        and HLL++ partial sketches merge map-side — one job, no
        distinct-value shuffle on the approx path."""
        if by == "day":
            key = F.date_format(F.col("doc_ts"), "yyyy-MM-dd")
        elif by == "week":
            key = F.date_format(F.date_trunc("week", F.col("doc_ts")),
                                "yyyy-MM-dd")
        elif by == "month":
            key = F.date_format(F.col("doc_ts"), "yyyy-MM")
        else:
            raise ValueError(f"unknown cardinality key {by!r} "
                             "(expected day | week | month)")
        ids = self._matched_ids(query_text, source)
        keyed = self._bucket_keyed(ids)
        joined = self._snap.docs.join(keyed, ["range_bucket", "doc_id"])
        agg = (
            F.approx_count_distinct(key, rsd) if approx
            else F.countDistinct(key)
        )
        return joined.agg(agg.cast("long").alias("n_distinct"))

    def more_like_this(self, doc_id: int, k: int = 10,
                       max_terms: int = 10, source=None) -> DataFrame:
        """Similar-document retrieval (the ES more_like_this shape):
        the source doc's stored tf map is read back with ONE hive- and
        row-group-pruned point lookup, its terms are ranked by
        tf * idf (idf = the scorer's own ln(1+(N-df+0.5)/(df+0.5)),
        ties broken by term asc), and the top ``max_terms`` become a
        disjunctive BM25 query with qtf=1 per term.  The source doc is
        excluded from the result.  Returns the standard top-k frame.

        The interesting-terms selection is driver-side over ONE doc's
        map (bounded by doc length) + max_terms LRU df lookups — cost
        is independent of corpus size; the retrieval is the standard
        top_k plan."""
        # ES: a deleted `like` doc is NOT FOUND — its stored tf map
        # must not seed the query
        snap = self._snap
        lookup = self._live_doc_row(snap, doc_id)
        if lookup is None:
            raise ValueError(f"doc_id {doc_id} is deleted")
        row = lookup.select("tfs").collect()
        if not row:
            raise ValueError(f"doc_id {doc_id} not in the docs table")
        tfs = row[0]["tfs"] or {}
        dfs = self._term_dfs(sorted(tfs))
        n = int(self.meta["n_docs"])

        def idf(t):
            d = dfs.get(t, 0)
            return bm25.lucene_idf_scalar(n, d) if d else 0.0

        ranked = sorted(
            ((tf * idf(t), t) for t, tf in tfs.items() if idf(t) > 0.0),
            key=lambda x: (-x[0], x[1]),
        )[:max_terms]
        if not ranked:
            return snap.empty(TOPK_SCHEMA)
        out = self._top_k_terms([t for _, t in ranked], k + 1, False)
        return (
            out.where(F.col("doc_id") != int(doc_id))
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(k)
        )

    def matching_doc_ids(self, query_text: str, source=None,
                         with_dl: bool = False) -> DataFrame:
        """ALL live doc ids containing EVERY query term — candidate
        generation for prune-then-verify retrieval (phrase search: the
        index prunes to conjunctive candidates, the raw text confirms
        adjacency — Lucene does this with positional postings; this
        engine keeps postings positionless and verifies on source,
        the standard two-phase trade for an append-heavy corpus).

        Unlike top_k there is no k and no scoring: the whole matching
        set streams out of a per-range rarest-first block-skipping
        intersection (operators/postings.conjunctive_match — each doc
        id lives in exactly ONE range, so the per-range conjunction is
        the complete global one; hot-term blocks that cannot overlap a
        surviving candidate are never decoded).  Tombstones are
        filtered per range (driver array or cogrouped frame, same two
        tiers as scoring); the committed-snapshot guard on the
        postings scan keeps uncommitted appends out.

        Returns DataFrame(doc_id long), unordered and distinct.

        NOTE: a query whose every token is dropped by the analysis
        chain returns EMPTY — the index holds no evidence for such
        text.  Callers doing prune-then-verify (phrase_search and the
        batch variant) detect that case themselves and fall back to a
        full verify scan, because "no indexed terms" is not "no
        matches" for raw-text semantics.
        """
        from sotohp_spark.functions.tokenizer import tokenize
        from sotohp_spark.operators.postings import conjunctive_match

        terms = sorted(set(tokenize(query_text, self._query_rules(source))))
        schema = "doc_id long, dl long" if with_dl else "doc_id long"
        if not terms:
            return self._snap.empty(schema)
        dfs = self._term_dfs(terms)
        if any(dfs.get(t, 0) == 0 for t in terms):
            # reference AND semantics: a term absent from the corpus
            # empties the result (MediaServiceLive.scala:108-112)
            return self._snap.empty(schema)
        n_terms = len(terms)

        def match_rows(rows: list, deletes) -> dict:
            # a term entirely absent from this range empties the
            # range's conjunction (conjunctive_match can only see the
            # terms that HAVE a shard here)
            if len({r["term"] for r in rows}) < n_terms:
                return {"doc_id": [], "dl": []} if with_dl else {"doc_id": []}
            if with_dl:
                # ``dl`` rides out of the rarest term's full decode —
                # a doc_len-keyed aggregation needs NO docs join
                ids, dls = conjunctive_match(rows, deletes, with_dl=True)
                return {"doc_id": ids, "dl": dls}
            return {"doc_id": conjunctive_match(rows, deletes)}

        # ranges lacking any query term can't contribute
        return self._apply_per_range(
            lambda: self._scoring_shards(terms), match_rows, schema,
            n_candidates=sum(dfs.values()), terms=terms,
            prefilter=(n_terms,) if n_terms > 1 else None,
        )

    def matching_doc_ids_batch(self, queries, source=None) -> DataFrame:
        """Conjunctive candidates for MANY queries in ONE distributed
        job — the candidate-generation analog of top_k_batch.

        ``queries``: list of (query_id, query_text).  Per range, each
        term's posting list is decoded at most once and shared across
        every query referencing it (conjunctive_match_batch) — the
        amortization that matters for contamination screens probing
        thousands of phrases over the same Zipf-head vocabulary.
        Queries with an absent or empty term set contribute no rows
        (reference AND semantics).

        Returns DataFrame(query_id string, doc_id long).
        """
        from sotohp_spark.functions.tokenizer import tokenize
        from sotohp_spark.operators.postings import conjunctive_match_batch

        schema = "query_id string, doc_id long"
        rules = self._query_rules(source)
        phrase_terms: dict = {}
        all_terms: set = set()
        term_df: dict = {}
        for qid, text in queries:
            terms = sorted(set(tokenize(text, rules)))
            if not terms:
                continue
            dfs = self._term_dfs(terms)
            if any(dfs.get(t, 0) == 0 for t in terms):
                continue
            phrase_terms[str(qid)] = terms
            all_terms.update(terms)
            term_df.update(dfs)
        if not phrase_terms:
            return self._snap.empty(schema)

        def match_rows(rows: list, deletes, queries: dict) -> dict:
            pairs = conjunctive_match_batch(rows, queries, deletes)
            return {"query_id": [q for q, _ in pairs],
                    "doc_id": [d for _, d in pairs]}

        # the (possibly thousands-of-phrases) term table is the shared
        # broadcast, as in top_k_batch
        return self._apply_per_range(
            lambda: self._scoring_shards(all_terms), match_rows, schema,
            n_candidates=sum(term_df.values()), terms=sorted(all_terms),
            shared=phrase_terms,
        )

    def _phrase_offsets(self, phrase: str, source=None) -> list:
        """[(term, relative position)] for a phrase, first KEPT token
        at offset 0.  Dropped tokens (standalone numbers, stopwords)
        leave gaps — tokenize_with_positions semantics."""
        from sotohp_spark.functions.tokenizer import tokenize_with_positions

        toks = tokenize_with_positions(phrase, self._query_rules(source))
        if not toks:
            return []
        base = toks[0][1]
        return [(t, p - base) for t, p in toks]

    def phrase_match_doc_ids(self, phrase: str, source=None) -> DataFrame:
        """INDEX-ONLY exact phrase match from positional postings —
        requires an index built with cfg.store_positions (meta
        records it); never reads the docs or text tables.

        Semantics are analyzed-stream adjacency (Lucene phrase-query
        semantics): positions count pre-drop tokens, so a dropped
        standalone number leaves a gap ("error 2024 retry" does NOT
        match "error retry"); camelCase splits and mapping expansions
        occupy successive positions, so "retryTimeout" DOES match the
        phrase "retry timeout" — a documented superset of raw-text
        word-boundary regex matches.  phrase_search uses this set as
        a TIGHTER candidate set in front of its regex verify, which
        is exact because of that superset property.

        Returns DataFrame(doc_id long), unordered and distinct.  A
        phrase whose every token is dropped returns EMPTY (callers
        own the full-scan fallback, as with matching_doc_ids).
        """
        from sotohp_spark.operators.postings import positional_phrase_match

        snap = self._snap
        if not self.meta.get("positions"):
            raise ValueError(
                "phrase_match_doc_ids needs a positional index — "
                "build with EngineConfig(store_positions=True), or "
                "use phrase_search's text-verify mode"
            )
        schema = "doc_id long"
        offs = self._phrase_offsets(phrase, source)
        if not offs:
            return snap.empty(schema)
        terms = sorted({t for t, _ in offs})
        dfs = self._term_dfs(terms)
        if any(dfs.get(t, 0) == 0 for t in terms):
            return snap.empty(schema)
        n_terms = len(terms)

        def match_rows(rows: list, deletes) -> dict:
            if len({r["term"] for r in rows}) < n_terms:
                return {"doc_id": []}
            return {"doc_id": positional_phrase_match(rows, offs, deletes)}

        # FULL postings columns (pos_offsets/pos_payload included) —
        # the one query path that reads the positional stream
        return self._apply_per_range(
            lambda: snap.postings.where(F.col("term").isin(terms)),
            match_rows, schema, n_candidates=sum(dfs.values()),
            pos_terms=terms, prefilter=(n_terms,) if n_terms > 1 else None,
        )

    def span_near_doc_ids(self, query_text: str, slop: int = 0,
                          in_order: bool = True, source=None) -> DataFrame:
        """ES ``span_near`` / ``match_phrase`` with ``slop``: docs
        where the query's analyzed terms co-occur within a span of
        n_terms + slop positions — optionally in query order — over
        the POSITIONAL index (Lucene SpanNearQuery semantics on the
        analyzed stream: slop=0 + in_order is exact analyzed
        adjacency; camelCase splits and dropped-token gaps behave
        exactly as in phrase_match_doc_ids).  Returns
        DataFrame(doc_id long), unordered and distinct.

        The analyzed terms must be DISTINCT (span clauses are one
        position list per term); duplicates raise.

        Scale shape: same one-job plan as phrase_match_doc_ids —
        block-skipping conjunction prunes candidates, then each term's
        position stream decodes ONCE per range and the span predicate
        (vectorized greedy chain when ordered, a two-pointer minimal
        window sweep otherwise) runs per candidate doc.  Requires
        EngineConfig(store_positions=True)."""
        from sotohp_spark.operators.postings import span_near_match

        snap = self._snap
        if not self.meta.get("positions"):
            raise ValueError(
                "span_near_doc_ids needs a positional index — build "
                "with EngineConfig(store_positions=True)"
            )
        if slop < 0:
            raise ValueError("slop must be >= 0")
        schema = "doc_id long"
        terms = tokenize(query_text, self._query_rules(source))
        if not terms:
            return snap.empty(schema)
        if len(set(terms)) != len(terms):
            raise ValueError(
                f"span clauses must be distinct terms, got {terms}"
            )
        # validate the span window DRIVER-side so an oversized slop is
        # a clean ValueError, not a Py4J task failure from the executor
        # kernel (which keeps the same check as a backstop)
        from sotohp_spark.operators.postings import _POS_SHIFT

        window = len(terms) - 1 + int(slop)
        if window >= (1 << _POS_SHIFT):
            raise ValueError(
                f"slop window {window} exceeds the positional key "
                f"width 2^{_POS_SHIFT}"
            )
        dfs = self._term_dfs(sorted(terms))
        if any(dfs.get(t, 0) == 0 for t in terms):
            return snap.empty(schema)
        n_terms = len(terms)

        def match_rows(rows: list, deletes) -> dict:
            if len({r["term"] for r in rows}) < n_terms:
                return {"doc_id": []}
            return {"doc_id": span_near_match(
                rows, terms, slop, in_order, deletes
            )}

        return self._apply_per_range(
            lambda: snap.postings.where(F.col("term").isin(terms)),
            match_rows, schema, n_candidates=sum(dfs.values()),
            pos_terms=terms, prefilter=(n_terms,) if n_terms > 1 else None,
        )

    def match_phrase_prefix_doc_ids(self, phrase: str,
                                    max_expansions: int = 50,
                                    source=None) -> DataFrame:
        """ES ``match_phrase_prefix`` (search-as-you-type): the
        analyzed terms before the last match as an exact positional
        phrase, the LAST term matches as a PREFIX — any dictionary
        term starting with it (selected in TERM/index order, capped at
        ``max_expansions`` — the Lucene match_phrase_prefix expansion
        contract, unlike wildcard's df-ordered top-terms rewrite) may
        complete the phrase.  Analyzed-adjacency semantics, like
        phrase_match_doc_ids.  Returns DataFrame(doc_id long),
        distinct.

        Scale shape: one dictionary job expands the prefix
        (StringStartsWith pushdown), then ALL completions run as ONE
        batch positional job (phrase_match_doc_ids_batch — each shared
        term's postings and positions decode once per range, which is
        exactly the amortization a 50-way completion fan-out needs).
        Requires EngineConfig(store_positions=True)."""
        schema = "doc_id long"
        terms = tokenize(phrase, self._query_rules(source))
        if not terms:
            return self._snap.empty(schema)
        head, last = terms[:-1], terms[-1]
        exps = self.wildcard_expand(last + "*", max_expansions, order="term")
        if not exps:
            return self._snap.empty(schema)
        phrases = [
            (f"mpp{i}", " ".join(head + [t])) for i, (t, _) in enumerate(exps)
        ]
        return (
            self.phrase_match_doc_ids_batch(phrases, source=source)
            .select("doc_id").distinct()
        )

    def phrase_match_doc_ids_batch(self, phrases, source=None) -> DataFrame:
        """Positional phrase matches for MANY phrases in ONE
        distributed job — the positional analog of
        matching_doc_ids_batch (requires a store_positions index).
        Per range each term's postings AND positions decode once,
        shared across every phrase referencing the term.  Returns
        DataFrame(query_id string, doc_id long)."""
        from sotohp_spark.operators.postings import (
            positional_phrase_match_batch,
        )

        snap = self._snap
        if not self.meta.get("positions"):
            raise ValueError(
                "phrase_match_doc_ids_batch needs a positional index — "
                "build with EngineConfig(store_positions=True)"
            )
        schema = "query_id string, doc_id long"
        offsets_map: dict = {}
        all_terms: set = set()
        term_df: dict = {}
        for qid, text in phrases:
            offs = self._phrase_offsets(text, source)
            if not offs:
                continue
            terms = sorted({t for t, _ in offs})
            dfs = self._term_dfs(terms)
            if any(dfs.get(t, 0) == 0 for t in terms):
                continue
            offsets_map[str(qid)] = offs
            all_terms.update(terms)
            term_df.update(dfs)
        if not offsets_map:
            return snap.empty(schema)

        def match_rows(rows: list, deletes, offsets: dict) -> dict:
            pairs = positional_phrase_match_batch(rows, offsets, deletes)
            return {"query_id": [q for q, _ in pairs],
                    "doc_id": [d for _, d in pairs]}

        terms = sorted(all_terms)
        return self._apply_per_range(
            lambda: snap.postings.where(F.col("term").isin(terms)),
            match_rows, schema, n_candidates=sum(term_df.values()),
            pos_terms=terms, shared=offsets_map,
        )

    @staticmethod
    def _require_texts(texts, api: str, optional: bool = False):
        """The verify side of the phrase APIs is a (doc_id, text)
        DataFrame — the index stores tf/position maps, not raw text,
        so the caller must supply it.  Catch the common slip (passing
        k, or forgetting the argument) with a named error instead of
        an AttributeError deep inside a join."""
        if optional and texts is None:
            return
        if not isinstance(texts, DataFrame):
            raise TypeError(
                f"{api} needs texts=(id, text) DataFrame for raw-text "
                f"verification (got {type(texts).__name__}); the index "
                "stores term/position maps, not document text — pass "
                "the materialized documents table"
                + (" or texts=None for analyzed-stream semantics"
                   if optional else "")
            )

    def phrase_search_batch(
        self,
        phrases,
        texts: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        source=None,
    ) -> DataFrame:
        """Batch prune-then-verify: ``phrases`` is a list of
        (query_id, phrase).  One candidate-generation job
        (matching_doc_ids_batch), one verify join; each text row is
        regex-tested only against the phrases that short-listed it.
        Small batches verify through a per-query when-chain (patterns
        compiled once, codegen); above WHEN_CHAIN_MAX the chain would
        be an O(N)-branch plan expression — the round-3 IVF
        literal-column hazard again — so large screens broadcast-join
        a (query_id, pattern) table and use column-valued
        ``regexp_like`` (per-row pattern resolve, plan size O(1) in
        N).  Returns DataFrame(query_id, doc_id) plus the text
        frame's other columns.

        Losslessness: a phrase whose EVERY token is dropped by the
        analysis chain (e.g. a standalone number — tokenizer rule 7
        strips it at index and query time alike) has no index evidence
        either way, so pruning it to the conjunctive candidate set
        would silently miss real matches.  Such phrases skip pruning
        and verify against the FULL text table instead (one extra
        scan, only when such phrases are present).
        """
        import re

        from sotohp_spark.functions.tokenizer import tokenize

        self._require_texts(texts, "phrase_search_batch")
        ids = [str(qid) for qid, _ in phrases]
        if len(set(ids)) != len(ids):
            # dict last-wins in candidate generation but the verify
            # chain/join is keyed by id — a duplicate would silently
            # verify one phrase's candidates against the other's regex
            raise ValueError(f"duplicate query ids after str(): {ids}")
        tr = texts.withColumnRenamed(id_col, "doc_id")
        # result column order of the candidate join: doc_id, query_id,
        # then the text frame's remaining columns — every branch below
        # (including the empty edge case) returns exactly this shape
        out_cols = ["doc_id", "query_id"] + [
            c for c in tr.columns if c != "doc_id"
        ]
        if not phrases:
            return (
                tr.withColumn("query_id", F.lit(None).cast("string"))
                .select(*out_cols)
                .where(F.lit(False))
            )
        rules = self._query_rules(source)
        unprunable = [
            (str(qid), p)
            for qid, p in phrases
            if p.strip() and not tokenize(p, rules)
        ]
        unprunable_keys = set(unprunable)
        indexed = [
            (qid, p) for qid, p in phrases
            if (str(qid), p) not in unprunable_keys
        ]

        def _verify(joined: DataFrame, pats) -> DataFrame:
            if len(pats) <= self.WHEN_CHAIN_MAX:
                verify = None
                for qid, pat in pats:
                    cond = F.col("query_id") == qid
                    hit = F.col(text_col).rlike(pat)
                    verify = (
                        F.when(cond, hit)
                        if verify is None
                        else verify.when(cond, hit)
                    )
                return joined.where(verify.otherwise(F.lit(False)))
            pat_df = F.broadcast(
                self.spark.createDataFrame(
                    pats, "query_id string, _pat string"
                )
            )
            return (
                joined.join(pat_df, "query_id")
                .where(F.expr(f"regexp_like(`{text_col}`, `_pat`)"))
                .drop("_pat")
            )

        def _pat(p: str) -> str:
            return r"(^|\s)" + re.escape(p.strip()) + r"(\s|$)"

        branches = []
        if indexed:
            # positional index -> adjacency-proven candidates (strict
            # subset of the conjunctive set, superset of the regex
            # matches — the verify below stays exact either way)
            if self.meta.get("positions"):
                cands = self.phrase_match_doc_ids_batch(indexed, source)
            else:
                cands = self.matching_doc_ids_batch(indexed, source)
            joined = cands.join(tr, "doc_id")
            branches.append(
                _verify(
                    joined, [(str(q), _pat(p)) for q, p in indexed]
                ).select(*out_cols)
            )
        if unprunable:
            # no candidates to prune with: every text row is a
            # candidate for each unprunable phrase (cross join against
            # the tiny broadcast pattern table), verified by the same
            # word-boundary regex
            fb = F.broadcast(
                self.spark.createDataFrame(
                    [(q, _pat(p)) for q, p in unprunable],
                    "query_id string, _pat string",
                )
            )
            branches.append(
                tr.crossJoin(fb)
                .where(F.expr(f"regexp_like(`{text_col}`, `_pat`)"))
                .drop("_pat")
                .select(*out_cols)
            )
        out = branches[0]
        for b in branches[1:]:
            out = out.unionByName(b)
        return out

    def phrase_ranked(
        self,
        phrase: str,
        k: int = 10,
        texts: DataFrame | None = None,
        text_col: str = "text",
        id_col: str = "doc_id",
        source=None,
        with_docs: bool = False,
    ) -> DataFrame:
        """Phrase-RANKED retrieval: exact-phrase membership + BM25
        relevance in one API — the engine analog of ES/Lucene
        ``match_phrase`` scoring (the search-tier feature the
        reference delegates to Elasticsearch,
        ElasticOperations.scala / MediaServiceLive.scala:108-112).

        Membership comes from positional postings
        (phrase_match_scored: block-skipping conjunction, then anchor
        intersection — requires cfg.store_positions); relevance is the
        STANDARD scorer over the phrase's terms (qtf*idf weights,
        global collection stats — Lucene filter-query semantics), read
        from the same decoded shards in the same per-range task, so a
        warm query costs the same ONE distributed pass as a phrase
        match alone.

        ``texts=None``: analyzed-stream adjacency semantics (camelCase
        splits match across words; dropped-token gaps enforced), a
        documented SUPERSET of raw-text word-boundary matches.
        ``texts=(id, text) frame``: each candidate is regex-verified
        against the raw text BEFORE the global top-k, so the result is
        exactly "raw-text phrase matches, BM25-ranked" — the oracle-
        checkable form.  Verification must precede the limit: a
        superset-only member may not displace a true match from the
        top k.

        A phrase whose every token is dropped by the analysis chain
        has no index evidence; with ``texts`` it falls back to a FULL
        verify scan scored 0.0 (membership is still exact; BM25 over
        zero indexed terms is zero), without ``texts`` it returns
        empty — phrase_search's lossless contract.

        Returns DataFrame(doc_id, score) ordered by (score desc,
        doc_id asc) limited to k; ``with_docs`` attaches doc columns.
        """
        import re

        from sotohp_spark.operators.postings import phrase_match_scored

        snap = self._snap
        self._require_texts(texts, "phrase_ranked", optional=True)
        schema = "doc_id long, score double"
        pat = r"(^|\s)" + re.escape(phrase.strip()) + r"(\s|$)"
        offs = self._phrase_offsets(phrase, source)
        if not phrase.strip():
            scored = snap.empty(schema)
        elif not offs:
            if texts is None:
                scored = snap.empty(schema)
            else:
                scored = (
                    texts.where(F.col(text_col).rlike(pat))
                    .select(
                        F.col(id_col).alias("doc_id"),
                        F.lit(0.0).alias("score"),
                    )
                )
        else:
            if not self.meta.get("positions"):
                raise ValueError(
                    "phrase_ranked needs a positional index — build "
                    "with EngineConfig(store_positions=True)"
                )
            terms = sorted({t for t, _ in offs})
            dfs = self._term_dfs(terms)
            if any(dfs.get(t, 0) == 0 for t in terms):
                scored = snap.empty(schema)
            else:
                weights, _ = self.query_weights(phrase, source)
                avgdl = self.meta["avgdl"]
                cfg = self.cfg
                n_terms = len(terms)

                def score_rows(rows: list, deletes) -> dict:
                    if len({r["term"] for r in rows}) < n_terms:
                        return {"doc_id": [], "score": []}
                    docs, scores = phrase_match_scored(
                        rows, offs, weights, avgdl, cfg, deletes
                    )
                    return {"doc_id": docs, "score": scores}

                scored = self._apply_per_range(
                    lambda: snap.postings.where(F.col("term").isin(terms)),
                    score_rows, schema, n_candidates=sum(dfs.values()),
                    pos_terms=terms,
                    prefilter=(n_terms,) if n_terms > 1 else None,
                )
        if texts is not None and offs:
            verified = texts.join(
                scored.withColumnRenamed("doc_id", id_col), id_col
            ).where(F.col(text_col).rlike(pat))
            scored = verified.select(
                F.col(id_col).alias("doc_id"), "score"
            )
        out = scored.orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        ).limit(k)
        return self._attach_docs(out) if with_docs else out

    def phrase_search(
        self,
        phrase: str,
        texts: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        source=None,
    ) -> DataFrame:
        """Exact-phrase retrieval, prune-then-verify: conjunctive
        candidates from the index (matching_doc_ids — rarest-first
        block-skipping intersection), adjacency confirmed by a
        word-boundary match against ``texts`` (a (doc_id, text) frame —
        the materialized documents, an Iceberg/parquet text table, or
        any projection that carries the raw doc text).

        The verify side is a LEFT-SEMI join of the text table against
        the candidate set, so only candidate rows are regex-tested;
        with a doc_id-partitioned text table the join prunes partitions
        the same way _attach_docs does.  Returns the matching rows of
        ``texts`` (all its columns), unordered.

        Losslessness: when every phrase token is dropped by the
        analysis chain (e.g. a standalone number like "2024" — rule 7
        strips it at index and query time alike), the index holds no
        evidence either way and the candidate set would be spuriously
        empty.  Such phrases fall back to a FULL verify scan of
        ``texts`` — correct at the cost of one unpruned pass, taken
        only for all-dropped phrases.
        """
        import re

        from sotohp_spark.functions.tokenizer import tokenize

        self._require_texts(texts, "phrase_search")
        pat = r"(^|\s)" + re.escape(phrase.strip()) + r"(\s|$)"
        if not phrase.strip():
            return texts.where(F.lit(False))
        if not tokenize(phrase, self._query_rules(source)):
            return texts.where(F.col(text_col).rlike(pat))
        # positional index -> positional candidates (adjacency already
        # proven in the index, a strict subset of the conjunctive set
        # and a SUPERSET of the regex matches, so the verify below
        # stays exact while regex-testing far fewer rows); otherwise
        # the positionless conjunction
        if self.meta.get("positions"):
            cands = self.phrase_match_doc_ids(phrase, source)
        else:
            cands = self.matching_doc_ids(phrase, source)
        return texts.join(
            cands.withColumnRenamed("doc_id", id_col), id_col, "left_semi"
        ).where(F.col(text_col).rlike(pat))


def msearch(indexes, query_text: str, k: int = 10,
            conjunctive: bool = False) -> DataFrame:
    """Federated top-k across independently built indexes — the ES
    multi-index / index-pattern search shape (``GET idx-2025-*/
    _search``, the classic per-period time-series layout).

    ``indexes``: list of (name, QueryEngine).  Each index scores with
    ITS OWN collection stats (df/N/avgdl local to the index — the ES
    ``query_then_fetch`` default; cross-index idf blending would need
    the dfs_query_then_fetch round this deliberately mirrors not
    having), returns its local top-k, and the coordinator merges by
    (score desc, index name asc, doc_id asc) to the global k.
    Returns DataFrame(idx, doc_id, score).

    Scale shape: per-index retrieval is the unchanged one-job top_k
    (block-max pruning, driver-local gate, deletes all apply); the
    merge is a unionByName of k-row frames + TakeOrderedAndProject —
    coordinator cost is O(k * n_indexes), independent of corpus size.
    """
    if not indexes:
        raise ValueError("msearch needs at least one (name, engine)")
    names = [n for n, _ in indexes]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate index names: {names}")
    parts = []
    for name, eng in indexes:
        parts.append(
            eng.top_k(
                query_text, k=k, with_docs=False, conjunctive=conjunctive
            ).select(
                F.lit(str(name)).alias("idx"), "doc_id", "score"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy(
        F.col("score").desc(), F.col("idx").asc(), F.col("doc_id").asc()
    ).limit(k)
