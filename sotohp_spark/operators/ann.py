"""Similarity search over embedding columns (array<float>).

Two paths:
- brute-force cosine top-k: exact baseline, pure column expressions
  (zip_with + aggregate dot products) — fully distributed, one pass,
  TakeOrderedAndProject top-k (never a full sort);
- LSH-bucketed (random hyperplane / SRP) ANN: deterministic signed
  projections onto seed-derived hyperplanes give a b-bit bucket key;
  probing compares only within the query's bucket (and optional
  multi-probe neighbors) — the 100 TB path: bucket is a partition
  key, candidate set shrinks ~2^b fold.
- IVF (inverted-file) variant: deterministic centroids (first-k rows
  by id, normalized), assign -> partition by centroid, probe nearest
  n_probe centroids.

Float determinism: scores computed in float64 and rounded to 6 dp so
Spark and DuckDB (list_cosine_similarity) hash identically.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine_sim(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def _seqfold_norm(q) -> float:
    """sqrt of the strict left-fold sum of squares — bit-identical to
    the JVM ``_norm`` expression over the same doubles."""
    acc = 0.0
    for x in q:
        xx = float(x)
        acc = acc + xx * xx
    import math

    return math.sqrt(acc)


def _fold_dots(m: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Row-wise dot(m[i], q) as a strict left-fold over dimensions —
    THE shared float64 kernel whose op order matches the JVM
    ``aggregate(zip_with(...))`` fold bit for bit.  Every Arrow
    scoring path below goes through this (or _fold_norms) so the
    JVM-parity invariant lives in exactly one place."""
    acc = np.zeros(len(m))
    for j in range(m.shape[1]):
        acc = acc + m[:, j] * q[j]
    return acc


def _fold_norms(m: np.ndarray) -> np.ndarray:
    """Row-wise sqrt(sum of squares), strict left-fold (see
    _fold_dots)."""
    acc = np.zeros(len(m))
    for j in range(m.shape[1]):
        col = m[:, j]
        acc = acc + col * col
    with np.errstate(invalid="ignore"):
        return np.sqrt(acc)


def _fold_rowwise_dots(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """dot(a[i], b[i]) per row, strict left-fold (see _fold_dots)."""
    acc = np.zeros(len(a))
    for j in range(a.shape[1]):
        acc = acc + a[:, j] * b[:, j]
    return acc


def _stack_valid(vecs, dim: int):
    """(matrix, valid_mask) for a pandas Series of vectors: rows that
    are null or not ``dim`` long are excluded from the matrix — the
    JVM expressions produced NULL for those (zip_with pads length
    mismatches with nulls, null propagates through the fold), so
    callers must emit null for masked-out rows rather than crash."""
    valid = np.array(
        [v is not None and len(v) == dim for v in vecs], dtype=bool
    )
    if not valid.any():
        return np.zeros((0, dim)), valid
    m = np.stack([
        np.asarray(v, dtype=np.float64)
        for v, ok in zip(vecs, valid) if ok
    ])
    return m, valid


def _cosine_raw_udf(query_vec):
    """Arrow-batched raw (UNROUNDED) cosine vs a fixed query vector,
    arithmetic bit-identical to the JVM
    ``_dot(v, q) / (_norm(v) * _norm(q))`` expression chain it
    replaces (guide §4.2): every dot/norm is a strict left-fold over
    dimensions in float64 (elementwise IEEE ops in identical order),
    and the authoritative round(..., 6) stays in the JVM.  Null or
    wrong-dimension vectors score NULL, exactly as the expressions
    did."""
    from pyspark.sql.functions import pandas_udf

    q = np.asarray(query_vec, dtype=np.float64)
    nq = _seqfold_norm(q)
    dim = int(q.size)

    @pandas_udf("double")
    def raw(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="float64")
        m, valid = _stack_valid(vecs, dim)
        if valid.all():
            with np.errstate(divide="ignore", invalid="ignore"):
                return pd.Series(_fold_dots(m, q) / (_fold_norms(m) * nq))
        # object dtype keeps the NULL (invalid row) vs NaN (0-norm /
        # NaN component) distinction through Arrow — Spark sorts NaN
        # first and NULL last on desc, exactly like the old exprs
        out: list = [None] * len(vecs)
        if len(m):
            with np.errstate(divide="ignore", invalid="ignore"):
                vals = _fold_dots(m, q) / (_fold_norms(m) * nq)
            for i, val in zip(np.nonzero(valid)[0], vals):
                out[i] = float(val)
        return pd.Series(out, dtype="object")

    return raw


def cosine_topk_bruteforce(
    embeddings: DataFrame,
    query_vec: list,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of query_vec vs every row. Plan: scan ->
    vectorized Arrow score -> TakeOrderedAndProject(k).  No shuffle
    beyond the k-row merge; scores identical to the former
    interpreted higher-order-function expressions (see
    _cosine_raw_udf)."""
    raw = _cosine_raw_udf(query_vec)
    return (
        embeddings.select(
            id_col,
            F.round(raw(F.col(vec_col)), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def cosine_topk_oracle_sql(query_vec: list, k: int = 10) -> str:
    """DuckDB equivalent over the `embeddings` view."""
    vec = "[" + ", ".join(f"{float(x)!r}" for x in query_vec) + "]"
    return f"""
SELECT vec_id,
       round(list_dot_product(embedding::DOUBLE[], {vec}::DOUBLE[])
         / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
            * sqrt(list_dot_product({vec}::DOUBLE[], {vec}::DOUBLE[]))), 6)
       AS cos_sim
FROM embeddings
ORDER BY cos_sim DESC, vec_id ASC
LIMIT {k}
"""


# ---------------------------------------------------------------------------
# SRP-LSH (signed random projections)
# ---------------------------------------------------------------------------

def _hyperplanes(dim: int, bits: int, seed: int = 42) -> np.ndarray:
    rng = np.random.Generator(np.random.PCG64(seed))
    return rng.standard_normal((bits, dim))


def probe_buckets(
    query_vec, bits: int, seed: int, multiprobe_hamming: int,
    planes: np.ndarray | None = None,
) -> list:
    """THE canonical probe set: the query's SRP bucket plus every
    bucket within ``multiprobe_hamming`` bit flips.  Single definition
    shared by the on-the-fly path, the materialized index, and the
    DuckDB oracle — bucket-assignment parity is the determinism
    contract, so it must not be re-derived per call site.  Pass
    ``planes`` when the caller already derived them (same seed/bits)."""
    if planes is None:
        planes = _hyperplanes(len(query_vec), bits, seed)
    qv = np.asarray(query_vec, dtype=np.float64)
    qb = int(sum((1 << i) for i, p in enumerate(planes) if p @ qv >= 0))
    probe = {qb}
    if multiprobe_hamming >= 1:
        probe |= {qb ^ (1 << i) for i in range(bits)}
    if multiprobe_hamming >= 2:
        probe |= {
            qb ^ (1 << i) ^ (1 << j)
            for i in range(bits)
            for j in range(i + 1, bits)
        }
    return sorted(probe)


def srp_bucket_col(vec_col, planes: np.ndarray):
    """b-bit bucket id: bit i = sign(dot(vec, plane_i)) — pure exprs."""
    bits = []
    for i, p in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(
                vec_col,
                F.array(*[F.lit(float(x)) for x in p]),
                lambda x, y: x.cast("double") * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(proj >= 0, F.lit(1 << i)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("int")


def srp_bucket_udf(planes: np.ndarray):
    """Arrow-batched SRP bucket id, bit-identical to srp_bucket_col:
    each plane projection is the strict left-fold dot (identical
    float64 op order); bit i set iff projection >= 0, where a NaN
    projection COUNTS as >= 0 (Spark comparison semantics: NaN is
    greater than any number — numpy's NaN >= 0 is False, so the
    parity needs the explicit isnan OR).  Null / wrong-dimension
    vectors get bucket 0, matching the expression chain (null
    condition -> otherwise(0) on every bit)."""
    from pyspark.sql.functions import pandas_udf

    pl = np.asarray(planes, dtype=np.float64)
    dim = int(pl.shape[1])

    @pandas_udf("int")
    def bucket(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int32")
        m, valid = _stack_valid(vecs, dim)
        bits = np.zeros(len(m), dtype=np.int64)
        for i in range(pl.shape[0]):
            proj = _fold_dots(m, pl[i])
            bits |= ((proj >= 0) | np.isnan(proj)).astype(np.int64) << i
        out = np.zeros(len(vecs), dtype=np.int64)
        out[valid] = bits
        return pd.Series(out.astype("int32"))

    return bucket


def cosine_topk_lsh(
    embeddings: DataFrame,
    query_vec: list,
    k: int = 10,
    bits: int = 8,
    multiprobe_hamming: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """ANN: compare only rows whose SRP bucket is within
    `multiprobe_hamming` of the query's bucket.  At scale the bucket
    column is materialized once at ingest and used as a partition /
    cluster key, so a probe reads ~(sum of probed buckets) rows."""
    planes = _hyperplanes(len(query_vec), bits, seed)
    probe = probe_buckets(query_vec, bits, seed, multiprobe_hamming, planes)

    with_bucket = embeddings.withColumn(
        "bucket", srp_bucket_udf(planes)(F.col(vec_col))
    )
    raw = _cosine_raw_udf(query_vec)
    return (
        with_bucket.where(F.col("bucket").isin(probe))
        .select(
            id_col,
            F.round(raw(F.col(vec_col)), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _vec_lit(v) -> str:
    return "[" + ", ".join(f"{float(x)!r}" for x in v) + "]"


def lsh_topk_oracle_sql(
    query_vec: list,
    k: int = 10,
    bits: int = 8,
    multiprobe_hamming: int = 1,
    seed: int = 42,
) -> str:
    """DuckDB equivalent of cosine_topk_lsh: the SRP hyperplanes are
    seed-derived and emitted as literals, so bucket assignment, the
    multiprobe set, and the final top-k are all reproduced exactly."""
    planes = _hyperplanes(len(query_vec), bits, seed)
    probe = probe_buckets(query_vec, bits, seed, multiprobe_hamming, planes)
    bucket_expr = " + ".join(
        f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {_vec_lit(p)}::DOUBLE[])"
        f" >= 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    vec = _vec_lit(query_vec)
    probes = ", ".join(str(p) for p in sorted(set(probe)))
    return f"""
WITH b AS (
  SELECT vec_id, embedding, ({bucket_expr}) AS bucket FROM embeddings
)
SELECT vec_id,
       round(list_dot_product(embedding::DOUBLE[], {vec}::DOUBLE[])
         / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
            * sqrt(list_dot_product({vec}::DOUBLE[], {vec}::DOUBLE[]))), 6)
       AS cos_sim
FROM b WHERE bucket IN ({probes})
ORDER BY cos_sim DESC, vec_id ASC
LIMIT {k}
"""


def ivf_topk_oracle_sql(
    query_vec: list,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
) -> str:
    """DuckDB equivalent of cosine_topk_ivf, with centroid derivation
    (first n rows by id, L2-normalized), assignment (argmax sim, ties
    to the lowest centroid id) and probe selection expressed in SQL —
    no data is read at SQL-generation time, so this works at any sf."""
    qv = np.asarray(query_vec, dtype=np.float64)
    qn = _vec_lit(qv / np.linalg.norm(qv))
    vec = _vec_lit(query_vec)
    return f"""
WITH c AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id,
         list_transform(embedding::DOUBLE[],
           x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
                                          embedding::DOUBLE[]))) AS cvec
  FROM embeddings ORDER BY vec_id LIMIT {n_centroids}
),
sims AS (
  SELECT e.vec_id, e.embedding, c.centroid_id,
         list_dot_product(e.embedding::DOUBLE[], c.cvec)
           / sqrt(list_dot_product(e.embedding::DOUBLE[],
                                   e.embedding::DOUBLE[])) AS sim
  FROM embeddings e CROSS JOIN c
),
assigned AS (
  SELECT vec_id, embedding FROM (
    SELECT vec_id, embedding,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY sim DESC, centroid_id ASC) AS rk,
           centroid_id
    FROM sims
  ) WHERE rk = 1 AND centroid_id IN (
    SELECT centroid_id FROM (
      SELECT centroid_id,
             list_dot_product(cvec, {qn}::DOUBLE[]) AS qs
      FROM c ORDER BY qs DESC, centroid_id ASC LIMIT {n_probe}
    )
  )
)
SELECT vec_id,
       round(list_dot_product(embedding::DOUBLE[], {vec}::DOUBLE[])
         / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
            * sqrt(list_dot_product({vec}::DOUBLE[], {vec}::DOUBLE[]))), 6)
       AS cos_sim
FROM assigned
ORDER BY cos_sim DESC, vec_id ASC
LIMIT {k}
"""


def ivf_neardup_oracle_sql(
    threshold: float = 0.9,
    n_centroids: int = 16,
    n_probe: int = 2,
) -> str:
    """DuckDB equivalent of embedding_neardup_ivf (lloyd_iters=0):
    centroid derivation (first n rows by id, L2-normalized),
    per-vector TOP-n_probe cells (ties to the lowest centroid id —
    np.argsort-stable semantics), shared-cell candidate pairs, exact
    rounded cosine filter, one row per pair.  No data read at SQL
    generation time."""
    return f"""
WITH c AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id,
         list_transform(embedding::DOUBLE[],
           x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
                                          embedding::DOUBLE[]))) AS cvec
  FROM embeddings ORDER BY vec_id LIMIT {n_centroids}
),
sims AS (
  SELECT e.vec_id, c.centroid_id,
         list_dot_product(e.embedding::DOUBLE[], c.cvec)
           / sqrt(list_dot_product(e.embedding::DOUBLE[],
                                   e.embedding::DOUBLE[])) AS sim
  FROM embeddings e CROSS JOIN c
),
probes AS (
  SELECT vec_id, centroid_id FROM (
    SELECT vec_id, centroid_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY sim DESC, centroid_id ASC) AS rk
    FROM sims
  ) WHERE rk <= {n_probe}
),
cand AS (
  SELECT DISTINCT pa.vec_id AS id_a, pb.vec_id AS id_b
  FROM probes pa JOIN probes pb
    ON pa.centroid_id = pb.centroid_id AND pa.vec_id < pb.vec_id
)
SELECT id_a, id_b,
  round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
    / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
       * sqrt(list_dot_product(b.embedding::DOUBLE[],
                               b.embedding::DOUBLE[]))), 6) AS cos_sim
FROM cand
JOIN embeddings a ON cand.id_a = a.vec_id
JOIN embeddings b ON cand.id_b = b.vec_id
WHERE round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
    / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
       * sqrt(list_dot_product(b.embedding::DOUBLE[],
                               b.embedding::DOUBLE[]))), 6) >= {threshold}
"""


def ivf_lloyd_oracle_sql(
    query_vec: list,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    lloyd_iters: int = 1,
) -> str:
    """DuckDB equivalent of the Lloyd-refined IVF pipeline
    (ivf_assign(lloyd_iters=i) -> probe -> cosine top-k), in closed
    form: seed centroids (first n rows by id, L2-normalized), then
    ``lloyd_iters`` exact k-means steps — assignment by argmax dot
    with ties to the lowest centroid id (scaling by 1/|e| does not
    change the argmax, so the normalization in the engine's Arrow
    kernel is dropped), per-centroid mean of the RAW vectors expanded
    per dimension (dim = len(query_vec), known at SQL-gen time),
    renormalized, with a centroid that loses all members keeping its
    previous position (LEFT JOIN + CASE) — then the final assignment
    and the nprobe nearest centroids as the probe set.  This is the
    oracle for the MATERIALIZED IVF index too
    (ann_index.build_ann_index_ivf stores exactly these centroids in
    its meta), so the partition-pruned layout is value-checked
    end-to-end."""
    dim = len(query_vec)
    qv = np.asarray(query_vec, dtype=np.float64)
    qn = _vec_lit(qv / np.linalg.norm(qv))
    vec = _vec_lit(query_vec)
    ctes = [
        f"""c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id,
         list_transform(embedding::DOUBLE[],
           x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
                                          embedding::DOUBLE[]))) AS cvec
  FROM embeddings ORDER BY vec_id LIMIT {n_centroids}
)"""
    ]
    for i in range(lloyd_iters):
        prev, a, m, nxt = f"c{i}", f"a{i}", f"m{i}", f"c{i + 1}"
        avg_list = ", ".join(
            f"avg(embedding[{j + 1}]::DOUBLE)" for j in range(dim)
        )
        ctes.append(f"""{a} AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_dot_product(e.embedding::DOUBLE[], c.cvec) DESC,
                      c.centroid_id ASC) AS rk
    FROM embeddings e CROSS JOIN {prev} c
  ) WHERE rk = 1
)""")
        ctes.append(f"""{m} AS (
  SELECT centroid_id, [{avg_list}] AS mv FROM {a} GROUP BY centroid_id
)""")
        ctes.append(f"""{nxt} AS (
  SELECT c.centroid_id,
         CASE WHEN m.mv IS NOT NULL
                   AND sqrt(list_dot_product(m.mv::DOUBLE[],
                                             m.mv::DOUBLE[])) > 0
              THEN list_transform(m.mv::DOUBLE[],
                x -> x / sqrt(list_dot_product(m.mv::DOUBLE[],
                                               m.mv::DOUBLE[])))
              ELSE c.cvec END AS cvec
  FROM {prev} c LEFT JOIN {m} m USING (centroid_id)
)""")
    last = f"c{lloyd_iters}"
    ctes.append(f"""afin AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_dot_product(e.embedding::DOUBLE[], c.cvec) DESC,
                      c.centroid_id ASC) AS rk
    FROM embeddings e CROSS JOIN {last} c
  ) WHERE rk = 1
)""")
    ctes.append(f"""probe AS (
  SELECT centroid_id FROM (
    SELECT centroid_id, list_dot_product(cvec, {qn}::DOUBLE[]) AS qs
    FROM {last} ORDER BY qs DESC, centroid_id ASC LIMIT {n_probe}
  )
)""")
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT vec_id,
       round(list_dot_product(embedding::DOUBLE[], {vec}::DOUBLE[])
         / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
            * sqrt(list_dot_product({vec}::DOUBLE[], {vec}::DOUBLE[]))), 6)
       AS cos_sim
FROM afin WHERE centroid_id IN (SELECT centroid_id FROM probe)
ORDER BY cos_sim DESC, vec_id ASC
LIMIT {k}
"""


# ---------------------------------------------------------------------------
# IVF (inverted file) — deterministic centroids
# ---------------------------------------------------------------------------

# above this many centroids the per-centroid-column expression plan
# stops being viable (64k centroids would mean 64k literal-array
# expressions in one plan) and assignment switches to a broadcast
# centroid matrix + Arrow-batched argmax
IVF_EXPR_MAX_CENTROIDS = 64


def _assign_via_expr(embeddings, cent, id_col, vec_col):
    """Small-n EXACT path: argmax over per-centroid similarities with
    ties -> lowest centroid id.  r08: the per-centroid similarity
    COLUMN expressions (interpreted higher-order functions, one fold
    per centroid per row) became one Arrow-batched kernel computing
    the SAME strict left-fold dots/norm in float64 — value-identical
    similarities, and np.argmax returns the FIRST maximum exactly
    like the former array_position(array_max) pair, so the DuckDB
    oracle contract (n_centroids=8) is unchanged."""
    from pyspark.sql.functions import pandas_udf

    c = np.asarray(cent, dtype=np.float64)

    dim = int(c.shape[1])

    @pandas_udf("int")
    def assign(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int32")
        m, valid = _stack_valid(vecs, dim)
        cid = np.zeros(len(m), dtype=np.int64)
        if len(m):
            with np.errstate(divide="ignore", invalid="ignore"):
                norm = _fold_norms(m)
                sims = np.empty((len(m), c.shape[0]))
                for ci in range(c.shape[0]):
                    sims[:, ci] = _fold_dots(m, c[ci]) / norm
            cid = np.argmax(sims, axis=1)
        if valid.all():
            return pd.Series(cid.astype("int32"))
        # null / wrong-dim vectors got a NULL centroid from the old
        # expression chain (array_position over null sims) — keep it
        out: list = [None] * len(vecs)
        for i, v in zip(np.nonzero(valid)[0], cid):
            out[i] = int(v)
        return pd.Series(out, dtype="object")

    return embeddings.select(
        id_col, vec_col, assign(F.col(vec_col)).alias("centroid_id")
    )


def _assign_via_udf(embeddings, cent, id_col, vec_col):
    """Scale path: ONE broadcast of the (C, d) centroid matrix per
    executor + a vectorized argmax over Arrow batches — plan size
    O(1) in n_centroids (real IVF runs 4k-64k centroids; a
    column-per-centroid plan is unusable there).  Ties -> lowest
    centroid id (np.argmax returns the first maximum), matching the
    expr path."""
    from pyspark.sql.functions import pandas_udf

    bc = embeddings.sparkSession.sparkContext.broadcast(cent)

    @pandas_udf("int")
    def assign(vecs: pd.Series) -> pd.Series:
        c = bc.value
        if len(vecs) == 0:
            return pd.Series([], dtype="int32")
        m, valid = _stack_valid(vecs, c.shape[1])
        cid = np.zeros(len(m), dtype=np.int64)
        if len(m):
            norms = np.linalg.norm(m, axis=1)
            norms[norms == 0] = 1.0
            sims = (m / norms[:, None]) @ c.T
            cid = np.argmax(sims, axis=1)
        if valid.all():
            return pd.Series(cid.astype("int32"))
        out: list = [None] * len(vecs)
        for i, v in zip(np.nonzero(valid)[0], cid):
            out[i] = int(v)
        return pd.Series(out, dtype="object")

    return embeddings.select(
        id_col, vec_col, assign(F.col(vec_col)).alias("centroid_id")
    )


def ivf_assign(
    embeddings: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "auto",
    lloyd_iters: int = 0,
):
    """Deterministic IVF: seed centroids = the first n rows by id,
    L2-normalized.  Returns (df_with_centroid, centroids ndarray).
    At scale, `centroid_id` becomes the partition key of the vector
    table.

    ``method``: 'expr' (per-centroid similarity columns — the
    oracle-reproducible path), 'udf' (broadcast matrix + Arrow argmax
    — the real-IVF-scale path), or 'auto' (expr up to
    IVF_EXPR_MAX_CENTROIDS, udf beyond).

    ``lloyd_iters``: optional k-means refinements of the seed
    centroids (fixed iteration count, deterministic: assignment ties
    break to the lowest centroid id and means are exact aggregates;
    a centroid that loses all members keeps its previous position).
    The refinement loop always uses the udf assignment; only the
    FINAL assignment honors ``method``, so lloyd_iters=0 stays
    bit-reproducible in SQL."""
    seeds = (
        embeddings.orderBy(id_col)
        .limit(n_centroids)
        .select(vec_col)
        .toPandas()[vec_col]
        .to_list()
    )
    cent = np.array([np.asarray(v, dtype=np.float64) for v in seeds])
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)

    for _ in range(lloyd_iters):
        assigned = _assign_via_udf(embeddings, cent, id_col, vec_col)
        # per-centroid mean, one distributed agg over (centroid, dim):
        # the result is n_centroids x dim — small by definition
        means = (
            assigned.select(
                "centroid_id", F.posexplode(vec_col).alias("pos", "v")
            )
            .groupBy("centroid_id", "pos")
            .agg(F.avg(F.col("v").cast("double")).alias("m"))
            .collect()
        )
        new_cent = cent.copy()
        by_c: dict[int, dict[int, float]] = {}
        for r in means:
            by_c.setdefault(int(r["centroid_id"]), {})[int(r["pos"])] = float(
                r["m"]
            )
        for ci, dims in by_c.items():
            vec = np.array([dims[p] for p in sorted(dims)])
            n = np.linalg.norm(vec)
            if n > 0:
                new_cent[ci] = vec / n
        cent = new_cent

    use_udf = method == "udf" or (
        method == "auto" and len(cent) > IVF_EXPR_MAX_CENTROIDS
    )
    fn = _assign_via_udf if use_udf else _assign_via_expr
    return fn(embeddings, cent, id_col, vec_col), cent


def cosine_topk_ivf(
    embeddings: DataFrame,
    query_vec: list,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "auto",
    lloyd_iters: int = 0,
) -> DataFrame:
    assigned, cent = ivf_assign(
        embeddings, n_centroids, id_col, vec_col, method, lloyd_iters
    )
    qv = np.asarray(query_vec, dtype=np.float64)
    qv = qv / np.linalg.norm(qv)
    order = np.argsort(-(cent @ qv), kind="stable")[:n_probe]
    raw = _cosine_raw_udf(query_vec)
    return (
        assigned.where(F.col("centroid_id").isin([int(c) for c in order]))
        .select(
            id_col,
            F.round(raw(F.col(vec_col)), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def embedding_neardup_ivf(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_centroids: int = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lloyd_iters: int = 0,
) -> DataFrame:
    """IVF-probed near-duplicate pairs: candidates are vector pairs
    sharing at least one of each vector's ``n_probe`` nearest
    centroids; exact cosine over the candidates keeps precision at
    1.0 (only recall is approximate).  Unlike SRP-LSH buckets, the
    cells follow the DATA distribution (Voronoi cells of the trained
    centroids) instead of fixed random hyperplanes, so dense regions
    split and sparse regions pool.

    Multi-probe matters for dedup specifically: a near-dup pair
    straddling a cell boundary is recovered when either member's
    probe list reaches the other's home cell — recall vs exact is
    pinned in tests/test_dedup_ann.py.

    Scale shape: one broadcast of the (C, d) centroid matrix, one
    Arrow-batched probe assignment (rows multiply by n_probe only),
    then ONE shuffle keyed on centroid_id into a per-cell vectorized
    pair kernel (applyInPandas).  The kernel generates and scores a
    cell's candidate pairs in numpy instead of materializing a
    (cell_size^2)-row join scored row-at-a-time by interpreted
    higher-order-function expressions — measured 40x+ faster at
    sf1.0 bench geometry (guide §4.2: hand whole batches to
    vectorized native code; §2.3: the shuffle moves each vector
    n_probe times, never per-pair).  Numeric contract: the kernel's
    candidate filter is a CONSERVATIVE superset (BLAS dot with a
    2e-6 margin under the threshold); every surviving pair's cosine
    is then recomputed with a strict left-fold over dimensions —
    bit-identical to the JVM ``aggregate(zip_with(...))`` expression
    this replaces — and the authoritative round(...,6) >= threshold
    filter still runs in the JVM on those exact doubles, so results
    are unchanged to the last bit.  Returns DataFrame(id_a, id_b,
    cos_sim) with id_a < id_b, one row per pair."""
    from pyspark.sql.functions import pandas_udf

    _, cent = ivf_assign(
        embeddings, n_centroids, id_col, vec_col,
        method="udf", lloyd_iters=lloyd_iters,
    )
    n_probe = min(n_probe, len(cent))
    bc = embeddings.sparkSession.sparkContext.broadcast(cent)

    @pandas_udf("array<int>")
    def probe_ids(vecs: pd.Series) -> pd.Series:
        c = bc.value
        if len(vecs) == 0:
            return pd.Series([], dtype="object")
        # null / wrong-dimension vectors probe NO cell (null array;
        # the explode drops the row) — they could never survive the
        # exact-cosine verify anyway
        m, valid = _stack_valid(vecs, c.shape[1])
        out: list = [None] * len(vecs)
        if len(m):
            norms = np.linalg.norm(m, axis=1)
            norms[norms == 0] = 1.0
            sims = (m / norms[:, None]) @ c.T
            order = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]
            for i, row in zip(np.nonzero(valid)[0], order):
                out[i] = row.astype("int32").tolist()
        return pd.Series(out, dtype="object")

    wb = embeddings.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        F.explode(probe_ids(F.col(vec_col))).alias("centroid_id"),
    )

    # conservative candidate margin: round(x, 6) >= t implies
    # x >= t - 5e-7; the extra 1.5e-6 headroom covers BLAS-vs-fold
    # summation error (<= d * eps * |dot| ~ 1e-14 at unit scale)
    margin = 2e-6

    def _one_length_group(ids: np.ndarray, M: np.ndarray):
        """Candidate pairs within one equal-dimension group (the old
        per-pair zip_with produced NULL for length-mismatched pairs,
        which the threshold filter dropped — so only same-length
        pairs can ever survive)."""
        n = len(ids)
        # exact norms: strict left-fold, matching the JVM fold
        with np.errstate(divide="ignore", invalid="ignore"):
            norms = _fold_norms(M)
        jidx = np.arange(n)[None, :]
        # row-blocked candidate scan bounds memory at block x n
        blk = max(256, min(4096, (1 << 22) // max(n, 1)))
        out_i: list = []
        out_j: list = []
        for s in range(0, n, blk):
            e = min(s + blk, n)
            g = M[s:e] @ M.T
            with np.errstate(divide="ignore", invalid="ignore"):
                approx = g / np.outer(norms[s:e], norms)
            cand = (approx >= threshold - margin) | np.isnan(approx)
            cand &= jidx > np.arange(s, e)[:, None]  # strict a < b by id
            bi, bj = np.nonzero(cand)
            if bi.size:
                out_i.append(bi + s)
                out_j.append(bj)
        if not out_i:
            return None
        iu = np.concatenate(out_i)
        ju = np.concatenate(out_j)
        # exact left-fold dot for survivors — same bits as the JVM
        # zip_with/aggregate expression the original plan evaluated
        with np.errstate(divide="ignore", invalid="ignore"):
            raw = _fold_rowwise_dots(M[iu], M[ju]) / (norms[iu] * norms[ju])
        keep = (raw >= threshold - 1e-6) | np.isnan(raw)
        if not keep.any():
            return None
        return ids[iu[keep]], ids[ju[keep]], raw[keep]

    def _cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({
            "id_a": pd.Series([], dtype="int64"),
            "id_b": pd.Series([], dtype="int64"),
            "raw": pd.Series([], dtype="float64"),
        })
        vec_arr = pdf["vec"].to_numpy()
        id_arr = pdf["vid"].to_numpy()
        # null vectors can only form NULL-scored (dropped) pairs
        lens = np.array(
            [-1 if v is None else len(v) for v in vec_arr], dtype=np.int64
        )
        parts = []
        for d in np.unique(lens):
            if d < 0:
                continue
            sel = np.nonzero(lens == d)[0]
            if sel.size < 2:
                continue
            ids = id_arr[sel]
            order = np.argsort(ids, kind="stable")
            ids = ids[order]
            M = np.stack([
                np.asarray(vec_arr[i], dtype=np.float64)
                for i in sel[order]
            ])
            got = _one_length_group(ids, M)
            if got is not None:
                parts.append(pd.DataFrame({
                    "id_a": got[0], "id_b": got[1], "raw": got[2],
                }))
        if not parts:
            return empty
        return parts[0] if len(parts) == 1 else pd.concat(
            parts, ignore_index=True
        )

    id_t = embeddings.schema[id_col].dataType.simpleString()
    cells = wb.groupBy("centroid_id").applyInPandas(
        _cell_pairs, schema=f"id_a {id_t}, id_b {id_t}, raw double"
    )
    return (
        cells.withColumn("cos_sim", F.round(F.col("raw"), 6))
        .where(F.col("cos_sim") >= threshold)
        # a pair sharing several probed cells appears once per cell;
        # collapse to one row (identical cos_sim on every copy)
        .groupBy("id_a", "id_b")
        .agg(F.max("cos_sim").alias("cos_sim"))
    )
