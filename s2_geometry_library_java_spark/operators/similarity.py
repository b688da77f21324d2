"""Similarity search over embedding columns.

Brute-force cosine top-k is the exact baseline: broadcast the (small) query
side, compute cosines in one Arrow kernel (``seq_cosine_udf``) that sums
in dimension order, so a SQL oracle summing in index order matches
bit-for-bit, and take top-k per query with a window.

The scale path is hyperplane-LSH bucketing: deterministic integer-derived
hyperplanes, sign-bit bucket per plane, equi-join on bucket. At 100 TB the
bucket join replaces the cross join entirely; brute force remains the
per-bucket refiner.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, Window
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType, LongType

from ..functions.columns import _c
from ..plans import cache


def _vector_groups(cols: tuple, width: int | None = None):
    """Yield (row mask, stacked 2-D arrays) per group of rows whose vectors
    share one length; ``width`` keeps rows with at least that many elements
    and stacks their first ``width``. Rows with a NULL vector, vectors of
    different lengths or fewer than ``width`` elements fall in no group,
    and the kernels return NULL for them."""
    lens = np.array([[-1 if v is None else len(v) for v in c] for c in cols])
    if width is None:
        key = np.where((lens == lens[0]).all(axis=0), lens[0], -1)
    else:
        key = np.where((lens >= width).all(axis=0), width, -1)
    for n in np.unique(key[key >= 0]):
        m = key == n
        yield m, [np.stack([v[:n] for v in c.to_numpy()[m]]) for c in cols]


@pandas_udf(DoubleType())
def seq_cosine_udf(va: pd.Series, vb: pd.Series) -> pd.Series:
    """Cosine of two array<double> columns, as an Arrow kernel that
    walks dimensions in order with one vector op per dimension, so every
    row performs exactly the SQL oracle's in-order FP sequence (product
    a_d*b_d, then running add; norms likewise; final dot/sqrt(na*nb)).
    NULL, ragged or mismatched rows give NULL."""
    out = np.full(len(va), np.nan)  # NaN leaves the UDF as NULL
    for m, (A, B) in _vector_groups((va, vb)):
        A, B = A.astype(np.float64), B.astype(np.float64)
        d_ = np.zeros(len(A), dtype=np.float64)
        na = np.zeros(len(A), dtype=np.float64)
        nb = np.zeros(len(A), dtype=np.float64)
        for d in range(A.shape[1]):  # dimension order == the SQL fold
            d_ += A[:, d] * B[:, d]
            na += A[:, d] * A[:, d]
            nb += B[:, d] * B[:, d]
        out[m] = d_ / np.sqrt(na * nb)
    return pd.Series(out)


@pandas_udf(LongType())
def seq_quantized_dot_udf(qa: pd.Series, qb: pd.Series) -> pd.Series:
    """Exact BIGINT inner product of two quantized (array<bigint>)
    columns — integer adds are associative, so any order is bit-identical;
    components |q| <= ~2^20 keep 64-dim sums far below 2^63. NULL or
    mismatched rows give NULL."""
    out = np.zeros(len(qa), dtype=np.int64)
    null = np.ones(len(qa), dtype=bool)
    for m, (A, B) in _vector_groups((qa, qb)):
        out[m] = (A.astype(np.int64) * B.astype(np.int64)).sum(axis=1)
        null &= ~m
    return pd.Series(pd.arrays.IntegerArray(out, null))


def cosine_topk_bruteforce(
    index: DataFrame, queries: DataFrame, id_col: str, vec_col: str, k: int
) -> DataFrame:
    """(query_id, rank, neighbor_id, sim) exact top-k by cosine.

    Queries are broadcast: the join is a broadcast nested loop over index
    partitions (no index shuffle); only the q x n candidate rows shuffle
    for the per-query window. Ties broken by neighbor id for determinism.
    """
    q = F.broadcast(
        queries.select(_c(id_col).alias("query_id"), _c(vec_col).alias("qv"))
    )
    x = index.select(_c(id_col).alias("neighbor_id"), _c(vec_col).alias("xv"))
    scored = q.join(x, F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        seq_cosine_udf(F.col("qv"), F.col("xv")).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id")
    )


def hyperplane_weight(p: int, d: int) -> float:
    """Deterministic rational hyperplane component in [-1, 1]."""
    return ((p * 37 + d * 11) % 21 - 10) / 10.0


def lsh_bucket_udf(n_planes: int = 8, dim: int = 64):
    """Sign-bit bucket id over ``n_planes`` deterministic hyperplanes, read
    from the first ``dim`` elements of an array<double> column. Each term
    is computed as (elem * integer_weight) / 10.0 and accumulated in
    dimension order, exactly the SQL oracle's FP sequence (note the
    association: product with the INTEGER weight first, then the /10.0 —
    NOT elem * (weight/10)). Only the projection's SIGN feeds the bucket,
    but replicating the arithmetic makes equality unconditional. NULL rows
    and rows shorter than ``dim`` give NULL."""

    @pandas_udf(LongType())
    def bucket_udf(emb: pd.Series) -> pd.Series:
        out = np.zeros(len(emb), dtype=np.int64)
        null = np.ones(len(emb), dtype=bool)
        for m, (E,) in _vector_groups((emb,), dim):
            E = E.astype(np.float64)
            bucket = np.zeros(len(E), dtype=np.int64)
            for p in range(n_planes):
                acc = np.zeros(len(E), dtype=np.float64)
                for d in range(dim):  # dimension order == the SQL fold
                    w = (d * 11 + p * 37) % 21 - 10
                    acc += (E[:, d] * w) / 10.0
                bucket |= (acc >= 0).astype(np.int64) << p
            out[m] = bucket
            null &= ~m
        return pd.Series(pd.arrays.IntegerArray(out, null))

    return bucket_udf


def make_band_keys_udf(n_tables: int, planes_per_table: int, dim: int):
    """pandas UDF embedding -> array of n_tables band keys.

    Each table t hashes the vector with planes p = t*P..t*P+P-1
    (hyperplane_weight) and packs the sign bits; key = (t << P) | bits.
    The per-plane projection accumulates STRICTLY in dimension order so the
    result is bit-identical to a sequential SQL list_reduce — band keys
    must match the oracle exactly."""

    @pandas_udf(ArrayType(LongType()))
    def band_keys(emb: pd.Series) -> pd.Series:
        E = np.stack(emb.to_numpy()).astype(np.float64)  # (n, dim)
        n = len(E)
        keys = np.zeros((n, n_tables), dtype=np.int64)
        for t in range(n_tables):
            bits = np.zeros(n, dtype=np.int64)
            for i in range(planes_per_table):
                p = t * planes_per_table + i
                acc = np.zeros(n, dtype=np.float64)
                for d in range(dim):  # sequential order == SQL list_reduce
                    acc = acc + E[:, d] * hyperplane_weight(p, d)
                bits |= (acc >= 0).astype(np.int64) << i
            keys[:, t] = (t << planes_per_table) | bits
        return pd.Series(list(keys))

    return band_keys


def lsh_banded_pairs(
    index: DataFrame,
    id_col: str,
    vec_col: str,
    n_tables: int = 4,
    planes_per_table: int = 16,
    dim: int = 64,
    min_cosine: float | None = None,
) -> DataFrame:
    """(a, b) candidate pairs sharing any of n_tables LSH bands, optionally
    refined by exact cosine >= min_cosine — the ANN SCALE path.

    Multi-table banding fixes the single-table quadratic failure: with one
    8-plane table the self-join degenerates to ~all-pairs/256 on large
    inputs; 4x16 planes gives 2^16 buckets per table (tiny buckets, high
    recall via 4 independent chances). The skew guard drops bands larger
    than MAX_BUCKET from the join (a hot bucket means the planes failed to
    split a dense cluster; callers refine those separately), bounding the
    worst-case fanout to MAX_BUCKET^2 per band."""
    bk = make_band_keys_udf(n_tables, planes_per_table, dim)
    # Held: the bucket-count aggregate and BOTH self-join sides read this
    # table; without it the Arrow band-key pass over the full embedding set
    # runs three times (the planner broadcasts one join side, so exchange
    # reuse never applies across the subtrees).
    b = cache.hold(index.select(
        _c(id_col).alias("id"),
        _c(vec_col).alias("v"),
        F.explode(bk(_c(vec_col))).alias("band"),
    ))
    counts = b.groupBy("band").agg(F.count("*").alias("n"))
    kept = b.join(counts.where(F.col("n") <= MAX_BUCKET), "band")
    # Dedup on the SKINNY (a, b) id pair FIRST, then re-attach the vectors
    # for the cosine refine (guide §8: shuffle keys, not payloads). The
    # previous form carried both 64-float embeddings through the self-join
    # and the dropDuplicates shuffle — ~1 KB per candidate row, measured
    # ~100 s at a 10x scale-up where duplicate-dense data produced millions
    # of candidates; the id-only dedup also computes each pair's cosine
    # once instead of once per shared band.
    pairs = (
        kept.alias("l")
        .join(
            kept.alias("r"),
            (F.col("l.band") == F.col("r.band")) & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
        .dropDuplicates(["a", "b"])
    )
    if min_cosine is not None:
        va = index.select(_c(id_col).alias("a"), _c(vec_col).alias("va"))
        vb = index.select(_c(id_col).alias("b"), _c(vec_col).alias("vb"))
        # Join-strategy choice (guide §3.1): when the vector table fits,
        # broadcast it so the (potentially huge) pair table is never
        # shuffled for the attach — measured 2x on a duplicate-dense 10x
        # scale-up (3.9M pairs). The count reads the held band table. Above
        # the cap the planner keeps the shuffle join (at true scale the
        # index cannot broadcast).
        if b.count() // max(1, n_tables) <= BROADCAST_VECTORS_MAX_ROWS:
            va, vb = F.broadcast(va), F.broadcast(vb)
        pairs = (
            pairs.join(va, "a")
            .join(vb, "b")
            .where(seq_cosine_udf(F.col("va"), F.col("vb")) >= F.lit(min_cosine))
        )
    return pairs.select("a", "b")


#: largest LSH band lsh_banded_pairs joins; bigger (hot) bands are dropped
MAX_BUCKET = 10_000

#: vector-table row cap for broadcasting the embedding side of the banded-
#: LSH cosine refine (~50 MB of 64-dim doubles at the cap); above it the
#: pair table shuffles for the attach as before.
BROADCAST_VECTORS_MAX_ROWS = 100_000

#: IVF training: 2**IVF_INIT_PLANES hyperplane sign buckets seed the
#: centroids, then IVF_ITERS Lloyd iterations refine them (the ann_ivf
#: oracle SQL mirrors both)
IVF_INIT_PLANES = 6
IVF_ITERS = 2

#: fixed-point scale for exact (order-independent) centroid sums: component
#: sums are BIGINT, so Lloyd updates hash-match any engine regardless of
#: aggregation order. Cosine is scale-invariant, so the un-divided integer
#: sum vector IS the centroid (no mean, no float division).
IVF_SCALE = float(1 << 20)


def quantized_vec(vec) -> Column:
    """array<bigint> fixed-point quantization of an embedding column."""
    return F.transform(
        _c(vec), lambda e: F.round(e.cast("double") * F.lit(IVF_SCALE)).cast("long")
    )


def quantized_topk(
    index: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """(query_id, rank, neighbor_id, score_q) top-k by maximum inner
    product over fixed-point-quantized vectors (the int8 pattern from
    large-scale embedding pipelines, at 2^20 fixed-point precision).

    Scores are exact BIGINTs, so the result is engine-reproducible
    bit-for-bit — the compressed index is the thing a 100-TB deployment
    would actually scan (quantized vectors are 8 bytes/dim of BIGINT here
    standing in for 1 byte/dim int8; the plan shape is identical and the
    scan never shuffles — queries broadcast, one window per query id).
    """
    q = F.broadcast(
        queries.select(
            _c(id_col).alias("query_id"), quantized_vec(vec_col).alias("qq")
        )
    )
    x = index.select(
        _c(id_col).alias("neighbor_id"), quantized_vec(vec_col).alias("qx")
    )
    scored = q.join(x, F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        seq_quantized_dot_udf(F.col("qq"), F.col("qx")).alias("score_q"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_q"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "score_q")
    )


def _sum_vectors(members: DataFrame, dim: int) -> DataFrame:
    """(centroid_id, cv) elementwise BIGINT sum of quantized member vectors.

    posexplode -> partial-aggregated groupBy((centroid_id, pos)) is ONE
    shuffle of N*dim skinny rows with map-side combine — the scalable
    elementwise-sum shape (never collect_list of vectors per centroid).
    Empty clusters simply vanish (no rows), same as a SQL GROUP BY."""
    e = members.select("centroid_id", F.posexplode("q").alias("pos", "val"))
    s = e.groupBy("centroid_id", "pos").agg(F.sum("val").alias("s"))
    return (
        s.groupBy("centroid_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "s"))).alias("ps"))
        .select(
            "centroid_id",
            F.transform("ps", lambda x: x["s"].cast("double")).alias("cv"),
        )
    )


def _collect_centroid_matrix(centroids: DataFrame):
    """Driver-side (ids, C) numpy view of the (tiny) centroid table,
    rows ordered by ascending centroid_id."""
    rows = sorted(
        (r["centroid_id"], np.asarray(r["cv"], dtype=np.float64))
        for r in centroids.collect()
    )
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    C = np.stack([r[1] for r in rows]) if rows else np.zeros((0, 1))
    return ids, C


def _seq_dots(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(n, K) dot products accumulated STRICTLY in dimension order —
    bit-identical to the SQL list_reduce form (never
    np.dot, whose pairwise/SIMD order differs)."""
    n, dim = X.shape
    out = np.zeros((n, C.shape[0]), dtype=np.float64)
    for d in range(dim):
        out += X[:, d : d + 1] * C[:, d]
    return out


def make_ivf_assign_udf(ids: np.ndarray, C: np.ndarray):
    """pandas UDF embedding -> best centroid_id by cosine (tie -> smallest
    id). One Arrow pass over the data, no N x K row expansion: the K x dim
    centroid matrix rides in the UDF closure (broadcast-by-serialization)."""

    cnorm = np.zeros(len(C), dtype=np.float64)
    for d in range(C.shape[1]):
        cnorm += C[:, d] * C[:, d]

    @pandas_udf(LongType())
    def assign(emb: pd.Series) -> pd.Series:
        X = np.stack(emb.to_numpy()).astype(np.float64)
        xnorm = np.zeros(len(X), dtype=np.float64)
        for d in range(X.shape[1]):
            xnorm += X[:, d] * X[:, d]
        sims = _seq_dots(X, C) / np.sqrt(xnorm[:, None] * cnorm[None, :])
        # columns are in ascending centroid_id order; argmax returns the
        # FIRST maximum -> ties break to the smallest id, as in the SQL
        # row_number(ORDER BY sim DESC, centroid_id) mirror.
        return pd.Series(ids[np.argmax(sims, axis=1)])

    return assign


def make_ivf_probe_udf(ids: np.ndarray, C: np.ndarray, nprobe: int):
    """pandas UDF embedding -> the nprobe nearest centroid ids (sim DESC,
    id ASC) as an array — replaces the query x centroid nested-loop join."""

    cnorm = np.zeros(len(C), dtype=np.float64)
    for d in range(C.shape[1]):
        cnorm += C[:, d] * C[:, d]

    @pandas_udf(ArrayType(LongType()))
    def probe(emb: pd.Series) -> pd.Series:
        X = np.stack(emb.to_numpy()).astype(np.float64)
        xnorm = np.zeros(len(X), dtype=np.float64)
        for d in range(X.shape[1]):
            xnorm += X[:, d] * X[:, d]
        sims = _seq_dots(X, C) / np.sqrt(xnorm[:, None] * cnorm[None, :])
        # stable sort on -sim over columns already ordered by ascending
        # centroid_id -> ties break to the smallest id.
        order = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(ids[order]))

    return probe


def ivf_train_centroids(
    index: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int,
    dim: int = 64,
) -> DataFrame:
    """(centroid_id, cv) deterministic k-means-style IVF coarse centroids.

    Seeding is a derandomized k-means|| analogue: ONE pass oversamples the
    data into 2**IVF_INIT_PLANES hyperplane sign buckets (the same
    deterministic rational hyperplanes as the LSH path — each bucket is a
    directional cluster candidate, standing in for k-means||'s sampled
    candidate set), then the ``n_centroids`` heaviest buckets' exact
    integer component sums seed the centroids (count DESC, bucket ASC).
    IVF_ITERS Lloyd iterations refine: assignment is a single Arrow pass
    (argmax cosine against the broadcast K x dim matrix, no N x K row
    expansion); the update is an exact BIGINT elementwise sum (cosine is
    scale-invariant, so the sum vector needs no division) — every step is
    order-independent or sequential-order, hence SQL-oracle mirrorable.

    Scale: per iteration, one Arrow projection pass + one skinny
    (centroid_id, pos) shuffle with map-side combine. K and IVF_ITERS are
    constants; nothing is ever quadratic in N.
    """
    from ..localdf import local_df

    # The held point table is read only by the collects below (the seeding
    # and each Lloyd step), so it is released before the centroids return.
    with cache.scope():
        pts = cache.hold(index.select(
            _c(id_col).alias("id"),
            _c(vec_col).alias("v"),
            quantized_vec(vec_col).alias("q"),
            lsh_bucket_udf(IVF_INIT_PLANES, dim)(_c(vec_col)).alias("bucket"),
        ))
        wb = Window.orderBy(F.desc("n"), F.asc("bucket"))
        top = (
            pts.groupBy("bucket")
            .agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"), F.asc("bucket"))
            .limit(n_centroids)
            .select("bucket", (F.row_number().over(wb) - 1).alias("centroid_id"))
        )
        members = pts.join(F.broadcast(top), "bucket").select("centroid_id", "q")
        cents = _sum_vectors(members, dim)
        for _ in range(IVF_ITERS):
            ids, C = _collect_centroid_matrix(cents)
            assign = make_ivf_assign_udf(ids, C)
            members = pts.select(assign(F.col("v")).alias("centroid_id"), "q")
            cents = _sum_vectors(members, dim)
        # Collect the (tiny, K-row) centroid table and re-ship it as a local
        # relation: one job instead of persist + count (and the caller's own
        # _collect_centroid_matrix then reads driver-local rows for free).
        rows = [
            (int(r["centroid_id"]), [float(v) for v in r["cv"]])
            for r in cents.collect()
        ]
    return local_df(
        index.sparkSession, rows, "centroid_id long, cv array<double>"
    )


def ivf_topk(
    index: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_centroids: int = 8,
    nprobe: int = 2,
    dim: int = 64,
) -> DataFrame:
    """(query_id, rank, neighbor_id) approximate top-k by cosine via an
    IVF (inverted-file) coarse quantizer — the scale path complementing
    the banded-LSH variant:

    1. coarse centroids from ``ivf_train_centroids`` (deterministic
       bucket-sum seeding + exact-integer Lloyd refinement);
    2. every index vector is assigned to its best list in ONE Arrow pass
       (argmax cosine against the closure-held K x dim matrix — no
       N x K row expansion, no nested-loop join);
    3. each query probes its ``nprobe`` nearest centroids (same Arrow
       form, array output exploded);
    4. candidates = equi-join on list id (bucket join, never all-pairs
       at scale), refined by the exact Arrow cosine + per-query top-k
       window.

    Dot products everywhere accumulate in dimension order, so a SQL
    oracle running the identical algorithm matches bit-for-bit.
    Approximate by construction: a true neighbor assigned to an unprobed
    list is missed (recall grows with nprobe).
    """
    centroids = ivf_train_centroids(index, id_col, vec_col, n_centroids, dim=dim)
    ids, C = _collect_centroid_matrix(centroids)
    assign = make_ivf_assign_udf(ids, C)
    probe = make_ivf_probe_udf(ids, C, nprobe)
    assigned = index.select(
        _c(id_col).alias("neighbor_id"),
        _c(vec_col).alias("xv"),
        assign(_c(vec_col)).alias("list_id"),
    )
    probes = queries.select(
        _c(id_col).alias("query_id"),
        _c(vec_col).alias("qv"),
        F.explode(probe(_c(vec_col))).alias("list_id"),
    )
    scored = probes.join(assigned, "list_id").where(
        F.col("query_id") != F.col("neighbor_id")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.select(
            "query_id",
            "neighbor_id",
            seq_cosine_udf(F.col("qv"), F.col("xv")).alias("sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id")
    )
