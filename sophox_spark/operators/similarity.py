"""Similarity search over embedding columns (array<float>).

Three searches:
  * brute-force cosine top-k — the exactness baseline. Dot products are
    native ``zip_with``/``aggregate`` exprs (JVM, no Python).
  * LSH-bucketed ANN — random-hyperplane signatures (seeded,
    deterministic) with query-side multi-probe, exact re-rank of the
    candidates. The DEFAULT scale path: needs no training pass, and on
    clusterless (uniform) data its multi-probe recall (0.95 measured)
    beats IVF at equal candidate budgets.
  * IVF — spherical k-means coarse quantizer trained on a bounded
    sample, nprobe-list search. Wins when embeddings CLUSTER (real text
    encoders do): recall ≈ coverage of the probed lists, so clustered
    data reaches >0.9 at nprobe/n_lists ≈ 1/8 while uniform data needs
    probing ~recall fraction of the corpus (both measured in tests).

Each index is one numpy KEY FUNCTION ``keys(m, probes) -> (n, p) int64``
over a float64 matrix of vectors: a corpus row is filed under
``keys(m, 1)``, a query probes ``keys(m, probes)``, and its candidates
are the other rows filed under a probed key. ``_keyed_topk`` runs both
indexes: a corpus that ``route.bounded_collect`` brings to the driver is
broadcast and probed in one mapInPandas, a larger one takes an
(id, key) equi-join. Both routes call the same key function and the
same ``_cosines``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window, functions as F

from ..plans import route


def _dot_expr(a: str, b: str):
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm_expr(a: str):
    return F.sqrt(
        F.aggregate(
            F.transform(F.col(a), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def _stack(vecs: pd.Series) -> np.ndarray:
    """(n, dim) float64 matrix of a batch of equal-length vectors."""
    return np.stack(vecs.to_numpy()).astype(np.float64)


def _cosines(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row-wise cosine of two (n, dim) float64 matrices; 0/0 is NaN."""
    num = np.einsum("ij,ij->i", A, B)
    den = np.sqrt(np.einsum("ij,ij->i", A, A)) * np.sqrt(
        np.einsum("ij,ij->i", B, B)
    )
    return num / den


def _pair_cosine_col(a_col: str, b_col: str):
    """Vectorized pair cosine: one Arrow batch → numpy row-wise dots
    (guide §4.2) — replaces the interpreted per-element HOF fold on
    candidate-pair paths (measured ~20× on the ANN rerank). float64
    accumulation; values can differ from the sequential fold by ~1 ulp,
    inside every caller's decision margin (planted thresholds, rank
    ties broken by id — the hash-exact oracles already tolerate a
    different float path on the DuckDB side)."""

    @F.pandas_udf("double")
    def _cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        if not len(va):
            return pd.Series(np.empty(0, np.float64))
        return pd.Series(_cosines(_stack(va), _stack(vb)))

    return _cos(F.col(a_col), F.col(b_col))


def _rank_topk(pairs: DataFrame, k: int) -> DataFrame:
    """The ``k`` best neighbours of each query among ``pairs``
    (query_id, neighbor_id, cosine): cosine descending, NULL last, ties
    by neighbor_id. Output: (query_id, neighbor_id, cosine, rank)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_topk(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    k: int = 3,
    key: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k by cosine: broadcast corpus, native dot products,
    windowed top-k. Output: (query_id, neighbor_id, cosine, rank)."""
    q = queries_df.select(
        F.col(key).alias("query_id"), F.col(vec_col).alias("__qv")
    ).withColumn("__qn", _norm_expr("__qv"))
    c = corpus_df.select(
        F.col(key).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    ).withColumn("__cn", _norm_expr("__cv"))
    pairs = q.crossJoin(F.broadcast(c))
    if exclude_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    pairs = pairs.withColumn(
        "cosine", _dot_expr("__qv", "__cv") / (F.col("__qn") * F.col("__cn"))
    )
    return _rank_topk(pairs, k)


def _lsh_keys(dim: int, n_planes: int, n_tables: int, seed: int):
    """Multi-table random-hyperplane LSH as a key function. Table t's
    bucket carries t in the high bits, so (table, bucket) is one key;
    ``keys(m, 1)`` is a row's bucket in each table. Multi-table LSH is
    what makes hyperplane ANN recall usable — collision probability per
    table p = (1-θ/π)^planes, overall 1-(1-p)^tables.

    ``keys(m, probes)`` adds, per table, the ``probes − 1`` buckets
    reached by flipping the lowest-|margin| hyperplane bits (multi-probe
    LSH: a point close to a hyperplane most likely lost its true
    neighbours across exactly that bit). Only queries probe, so the
    index stays one bucket per table and row."""
    planes = np.random.default_rng(seed).standard_normal((dim, n_tables * n_planes))
    weights = (1 << np.arange(n_planes)).astype(np.int64)
    tables = np.arange(n_tables, dtype=np.int64) << 32

    def keys(m: np.ndarray, probes: int) -> np.ndarray:
        proj = (m @ planes).reshape(len(m), n_tables, n_planes)
        base = (proj >= 0.0) @ weights + tables
        order = np.argsort(np.abs(proj), axis=2).astype(np.int64)
        flips = [
            base ^ (np.int64(1) << order[:, :, p])
            for p in range(min(probes - 1, n_planes))
        ]
        return np.concatenate([base, *flips], axis=1)

    return keys


def _ivf_keys(centroids: np.ndarray):
    """IVF as a key function: a row's keys are the ids of its ``probes``
    nearest centroid lists by cosine; ``keys(m, 1)`` is its own list."""
    C = np.ascontiguousarray(centroids)

    def keys(m: np.ndarray, probes: int) -> np.ndarray:
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        return np.argsort(-(m @ C.T), axis=1)[:, :probes]

    return keys


def _keys_col(vec_col: str, keys, probes: int):
    """array<long> column of ``keys(m, probes)`` per row: the join
    route's call of a key function."""

    @F.pandas_udf("array<long>")
    def _keys(vecs: pd.Series) -> pd.Series:
        return pd.Series(list(keys(_stack(vecs), probes)))

    return _keys(F.col(vec_col))


def hyperplane_signature_col(vec_col: str, dim: int, n_planes: int = 16, seed: int = 42):
    """Deterministic random-hyperplane LSH signature (long bucket id):
    the one-table LSH key. Vectorized: one matmul per Arrow batch."""
    return _keys_col(vec_col, _lsh_keys(dim, n_planes, 1, seed), 1)[0]


def _candidates(df: DataFrame, key: str, vec_col: str, keys, probes: int, dim: int):
    """(query_id, neighbor_id) of every two rows with different ids
    where a key of the query's ``keys(m, probes)`` is one of the
    neighbour's ``keys(m, 1)``. Only (id, key) rows cross the join; the
    vectors re-attach by id afterwards (guide §8: decide with small
    rows, attach the heavy bytes once). A pair found under several keys
    is deduplicated only when a corpus row carries more than one key:
    with one (IVF, one-table LSH) the probed keys are distinct, so each
    pair meets once and the join needs no second shuffle."""
    q = df.select(
        F.col(key).alias("query_id"),
        F.explode(_keys_col(vec_col, keys, probes)).alias("__key"),
    )
    c = df.select(
        F.col(key).alias("neighbor_id"),
        F.explode(_keys_col(vec_col, keys, 1)).alias("__key"),
    )
    cand = (
        q.join(c, "__key")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    if keys(np.zeros((1, dim)), 1).shape[1] > 1:
        cand = cand.dropDuplicates(["query_id", "neighbor_id"])
    return cand


def _keyed_topk(
    df: DataFrame, k: int, key: str, vec_col: str, keys, probes: int, dim: int,
    op: str,
) -> DataFrame:
    """Self-join top-k over a keyed index: each row's candidates are
    the other rows filed under one of its ``keys(m, probes)``; they are
    ranked by exact cosine, then neighbor_id.
    Output: (query_id, neighbor_id, cosine, rank).

    Route: a corpus that ``route.bounded_collect`` brings to the driver
    (within ``route.MAX_COLLECT_BYTES`` at ``dim`` float64s a row) is
    broadcast with its key → members table, and the query side streams
    past it in one mapInPandas (``_broadcast_topk``): no candidate-pair
    rows, no Arrow pair crossing, no window shuffle. A larger corpus,
    or one with non-integral keys, takes the ``_candidates`` equi-join
    and ``_rank_topk``. TestAnnBroadcastEquivalence pins the two routes
    row-identical."""
    corpus = _corpus_collect(df, key, vec_col, dim * 8 + 16, op)
    if corpus is not None:
        return _broadcast_topk(df, k, key, vec_col, keys, probes, corpus)
    va = df.select(F.col(key).alias("query_id"), F.col(vec_col).alias("__qv"))
    vb = df.select(F.col(key).alias("neighbor_id"), F.col(vec_col).alias("__cv"))
    pairs = (
        _candidates(df, key, vec_col, keys, probes, dim)
        .join(va, "query_id")
        .join(vb, "neighbor_id")
        .withColumn("cosine", _pair_cosine_col("__qv", "__cv"))
    )
    return _rank_topk(pairs, k)


def _corpus_collect(df: DataFrame, key: str, vec_col: str, nbytes, op: str):
    """The corpus of a broadcast kernel: (ids int64, (n, dim) float64
    matrix) from ``route.bounded_collect`` at ``nbytes`` a row, NULL
    keys dropped JVM-side (the join paths drop them too: a NULL id
    never satisfies an equi-join or an id comparison) — or None when
    the corpus is empty, oversized or non-integral-keyed (callers keep
    the distributed join)."""
    if df.schema[key].dataType.simpleString() not in _INTEGRAL:
        return None
    table = route.bounded_collect(
        df.select(key, vec_col).where(F.col(key).isNotNull()), nbytes, op
    )
    if table is None or not table.num_rows:
        return None
    return table.column(key).to_numpy().astype(np.int64), _matrix(table.column(vec_col))


_INTEGRAL = ("bigint", "int", "smallint", "tinyint")


def _matrix(vecs: pa.ChunkedArray) -> np.ndarray:
    """(n, dim) float64 matrix of an Arrow column of equal-length
    vectors, (0, 0) when empty (NULL or ragged vectors raise, as
    ``np.stack`` does)."""
    lens = pc.list_value_length(vecs).to_numpy(zero_copy_only=False)
    dim = lens[0] if len(lens) else 0
    if (lens != dim).any():
        raise ValueError(f"{vecs.type} column holds NULL or unequal-length vectors")
    flat = pc.list_flatten(vecs).to_numpy(zero_copy_only=False)
    return flat.astype(np.float64).reshape(len(vecs), dim)


def _broadcast_topk(
    df: DataFrame, k: int, key: str, vec_col: str, keys, probes: int, corpus
) -> DataFrame:
    """The broadcast route of ``_keyed_topk``. The corpus is filed
    under ``keys(M, 1)`` on the driver; per query, the candidates are
    the ``np.unique`` of the members of its probed keys minus the rows
    sharing its id, ranked locally by (cosine desc, neighbor_id asc).

    A 0/0 cosine (an all-zero vector) is NaN here, but on the join
    route the pandas-UDF Arrow conversion turns NaN into NULL and
    ``desc()`` is NULLS LAST — so the sort key maps NaN to +inf (ranks
    last, ties broken by neighbor_id like Spark's all-NULL tie group),
    pinned by the zero-vector case in TestAnnBroadcastEquivalence."""
    ids, M = corpus
    filed = keys(M, 1)
    order = np.argsort(filed, axis=None, kind="stable")
    uniq, starts = np.unique(filed.ravel()[order], return_index=True)
    members = dict(zip(uniq.tolist(), np.split(order // filed.shape[1], starts[1:])))
    bc = df.sparkSession.sparkContext.broadcast((ids, M, members))
    key_type = df.schema[key].dataType.simpleString()
    out_schema = (
        f"query_id {key_type}, neighbor_id {key_type}, cosine double, rank int"
    )
    empty = np.empty(0, dtype=np.int64)

    def gen(batches):
        ids_b, M_b, members_b = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            Q = _stack(pdf[vec_col])
            out_q, out_n, out_c, out_r = [], [], [], []
            for qid, q, probed in zip(pdf[key].tolist(), Q, keys(Q, probes).tolist()):
                cand = np.unique(
                    np.concatenate([empty] + [members_b.get(b, empty) for b in probed])
                )
                cand = cand[ids_b[cand] != qid]
                nid = ids_b[cand]
                cos = _cosines(np.broadcast_to(q, (len(cand), len(q))), M_b[cand])
                top = np.lexsort((nid, np.where(np.isnan(cos), np.inf, -cos)))[:k]
                out_q.extend([qid] * len(top))
                out_n.extend(nid[top].tolist())
                out_c.extend(cos[top].tolist())
                out_r.extend(range(1, len(top) + 1))
            yield pd.DataFrame(
                {
                    "query_id": out_q,
                    "neighbor_id": out_n,
                    "cosine": out_c,
                    "rank": pd.array(out_r, dtype="int32"),
                }
            )

    # project to the two consumed columns so wide corpora don't ship
    # unused payloads through Arrow; NULL keys drop JVM-side (as on the
    # join route) so every batch keeps an int64 key column — a NULL in a
    # batch would turn it float64 and corrupt ids ≥ 2^53
    return (
        df.select(key, vec_col)
        .where(F.col(key).isNotNull())
        .mapInPandas(gen, out_schema)
    )


def ann_topk(
    df: DataFrame,
    k: int = 3,
    key: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 5,
    n_tables: int = 12,
    n_probes: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Approximate self-join top-k: multi-table hyperplane LSH buckets
    with query-side multi-probe, exact cosine re-rank over the union of
    bucket candidates. Recall vs ``cosine_topk`` measured in tests. At
    scale candidates come from the skinny (bucket, id) equi-join;
    candidate count per query is bounded by bucket sizes × tables ×
    probes, not n. Routes as ``_keyed_topk``.
    Output: (query_id, neighbor_id, cosine, rank).

    EAGER: deciding the route collects up to the budget's row count of
    the corpus to the driver here, at plan construction, even if the
    returned DataFrame is never evaluated. The query side is read again
    at action time, so a nondeterministic upstream can give the two
    reads different rows."""
    keys = _lsh_keys(dim, n_planes, n_tables, seed)
    return _keyed_topk(df, k, key, vec_col, keys, n_probes, dim, "ann_topk")


def train_ivf_centroids(
    df: DataFrame,
    n_lists: int = 16,
    key: str = "vec_id",
    vec_col: str = "embedding",
    sample: int = 2048,
    iters: int = 10,
    seed: int = 7,
) -> np.ndarray:
    """IVF coarse quantizer: spherical k-means (Lloyd's, cosine metric)
    trained on a BOUNDED deterministic sample (orderBy(key).limit —
    standard IVF practice: at 10^12 rows you train on ~10^6 sampled
    vectors and broadcast the centroids, never the corpus). Returns a
    unit-normalized (lists, dim) centroid matrix with ``n_lists`` lists,
    or as many as the sample has vectors when it has fewer: (0, 0) for
    an empty input."""
    table = df.select(key, vec_col).orderBy(key).limit(sample).toArrow()
    X = _matrix(table.column(vec_col))
    if not len(X):
        return X
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    n_lists = min(n_lists, len(X))
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=n_lists, replace=False)]
    for _ in range(iters):
        sim = X @ C.T
        assign = np.argmax(sim, axis=1)
        for j in range(n_lists):
            members = X[assign == j]
            if len(members) == 0:
                # reseed an empty list to the worst-served point
                C[j] = X[np.argmin(np.max(sim, axis=1))]
            else:
                m = members.sum(axis=0)
                C[j] = m / max(np.linalg.norm(m), 1e-12)
    return C


def ivf_topk(
    df: DataFrame,
    k: int = 3,
    key: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    nprobe: int = 6,
    sample: int = 2048,
    seed: int = 7,
) -> DataFrame:
    """IVF approximate self-join top-k (the third announced similarity
    path beside brute-force and LSH): corpus vectors live in ONE
    centroid list each; queries probe their ``nprobe`` nearest lists;
    exact cosine re-rank inside the probed lists. At scale the list
    equi-join is the only shuffle and list sizes are ~n/n_lists. A
    corpus with fewer vectors than ``n_lists`` gets one list a vector.
    Routes as ``_keyed_topk``. Output: (query_id, neighbor_id, cosine,
    rank).

    EAGER: like ``ann_topk``, the route decision collects up to the
    budget's row count of the corpus at plan construction (besides the
    centroid training sample), and a nondeterministic upstream can give
    that collect and the action-time query scan different rows."""
    C = train_ivf_centroids(df, n_lists, key, vec_col, sample=sample, seed=seed)
    return _keyed_topk(
        df, k, key, vec_col, _ivf_keys(C), nprobe, C.shape[1], "ivf_topk"
    )


def cosine_dup_pairs(
    df: DataFrame,
    key: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.8,
    mode: str = "lsh",
    dim: int | None = None,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine NEAR-DUPLICATE pairs: every (a, b) with a < b
    and cosine(v_a, v_b) >= threshold — the embedding-space analog of
    MinHash near-dup (semantic duplicates survive paraphrase, where
    shingle methods need lexical overlap). The natural last step is
    ``dedup.duplicate_clusters(pairs, "a", "b")`` for per-doc cluster
    assignment.

    mode='exact' — broadcast self-join over the full corpus: the
    labeled exactness baseline / oracle path, same framing as
    ``cosine_topk`` (quadratic; small inputs or verification only).
    The corpus reaches the driver only through
    ``route.bounded_collect``; a corpus over ``route.MAX_COLLECT_BYTES``
    (or with non-integral keys) runs as an expression crossJoin instead.

    mode='lsh' — the scale path: the multi-table random-hyperplane keys
    of ``ann_topk`` (seeded, deterministic, no probing); vectors sharing
    any (table, bucket) key meet in the ``_candidates`` equi-join, which
    carries only (id, key) — the vectors rejoin by id afterwards, so
    the bucket shuffle never moves embedding payloads. The exact cosine
    filter then keeps only true
    near-dups: NO false positives ever; recall is the LSH collision
    probability 1 - (1 - (1-θ/π)^planes)^tables, which for near-dup
    angles (θ → 0) is ~1 (measured in tests). Candidate volume per
    bucket is O(occupancy²) — occupancy halves per plane, so n_planes
    sizes buckets; a pathological mass-duplicate corpus wants the same
    chain/salt escape hatch as ``dedup.minhash_lsh_pairs`` because
    cluster assignment needs connectivity, not every pair.
    Output: (a, b, cosine).
    """
    va = df.select(F.col(key).alias("a"), F.col(vec_col).alias("__va"))
    vb = df.select(F.col(key).alias("b"), F.col(vec_col).alias("__vb"))
    corpus = None
    if mode == "exact":
        corpus = _corpus_collect(
            df, key, vec_col, F.size(vec_col) * 8 + 16, "cosine_dup_pairs"
        )
    if mode == "exact" and corpus is None:
        # non-integral keys and a corpus over the collect budget keep
        # the expression crossJoin path (Spark broadcasts a side only
        # when its size estimate allows)
        cand = va.crossJoin(vb).filter(F.col("a") < F.col("b"))
    elif mode == "exact":
        # quadratic by contract (the labeled exactness baseline), but
        # the n² inner product runs as ONE numpy matmul per Arrow batch
        # against the broadcast corpus matrix instead of 2M interpreted
        # HOF folds over materialized crossJoin rows (guide §4.2 —
        # measured 26 s → <2 s on the sf0.1 fixture).
        ids_all, mat = corpus
        norms_all = np.sqrt(np.einsum("ij,ij->i", mat, mat))
        bc = df.sparkSession.sparkContext.broadcast((ids_all, mat, norms_all))
        thr = float(threshold)

        def gen(batches):
            ids_c, m_c, n_c = bc.value
            # bound the (rows × corpus) sims block to ~64 MB so a large
            # corpus can never balloon one batch's allocation
            chunk = max(1, (64 << 20) // max(8 * len(ids_c), 1))
            for pdf in batches:
                if not len(pdf) or not len(ids_c):
                    continue
                A_all = _stack(pdf[vec_col])
                aid_all = pdf[key].to_numpy()
                for s0 in range(0, len(A_all), chunk):
                    A = A_all[s0:s0 + chunk]
                    aid = aid_all[s0:s0 + chunk]
                    an = np.sqrt(np.einsum("ij,ij->i", A, A))
                    sims = (A @ m_c.T) / np.outer(an, n_c)
                    keep = (sims >= thr) & (ids_c[None, :] > aid[:, None])
                    ri, ci = np.nonzero(keep)
                    if ri.size:
                        yield pd.DataFrame(
                            {"a": aid[ri], "b": ids_c[ci],
                             "cosine": sims[ri, ci]}
                        )

        return (
            df.select(key, vec_col)
            .where(F.col(key).isNotNull())
            .mapInPandas(gen, "a long, b long, cosine double")
        )
    elif mode == "lsh":
        if dim is None:
            first = df.select(vec_col).first()
            if first is None:
                return va.join(vb, F.lit(False)).select(
                    "a", "b", F.lit(0.0).alias("cosine")
                )
            dim = len(first[0])
        keys = _lsh_keys(dim, n_planes, n_tables, seed)
        cand = (
            _candidates(df, key, vec_col, keys, 1, dim)
            .filter(F.col("query_id") < F.col("neighbor_id"))
            .select(F.col("query_id").alias("a"), F.col("neighbor_id").alias("b"))
            .join(va, "a")
            .join(vb, "b")
        )
    else:
        raise ValueError(f"unknown cosine_dup_pairs mode {mode!r}")
    return (
        cand.withColumn("cosine", _pair_cosine_col("__va", "__vb"))
        .filter(F.col("cosine") >= F.lit(float(threshold)))
        .select("a", "b", "cosine")
    )


def _normalized_points(df: DataFrame, key: str, vec_col: str) -> DataFrame:
    pts = df.select(
        F.col(key).alias("pid"), F.col(vec_col).cast("array<double>").alias("pv")
    )
    # norm materializes BEFORE the lambda (higher-order functions get no
    # CSE: an inline norm would re-reduce the vector once per element)
    return pts.select(
        "pid", "pv", F.greatest(_norm_expr("pv"), F.lit(1e-12)).alias("_nrm")
    ).select(
        "pid",
        F.transform(F.col("pv"), lambda x: x / F.col("_nrm")).alias("pn"),
    )


def _kmeans_assign(pts: DataFrame, cent: DataFrame) -> DataFrame:
    """(pid, cluster): argmax dot(pn, cn), ties to the smaller cluster
    id. The centroid side is k rows — always broadcast."""
    dots = pts.crossJoin(F.broadcast(cent)).select(
        "pid",
        "cluster",
        F.aggregate(
            F.zip_with(F.col("pn"), F.col("cn"), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("dot"),
    )
    w = Window.partitionBy("pid").orderBy(F.col("dot").desc(), F.col("cluster").asc())
    return (
        dots.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select("pid", "cluster")
    )


def semantic_dedup(
    df: DataFrame,
    key: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 8,
    iters: int = 2,
    tau: float = 0.8,
) -> DataFrame:
    """SemDedup (Abbas et al. 2023): k-means-cluster the embedding
    space, then near-duplicate-prune WITHIN each cluster — the
    clustering bounds the pairwise search so the quadratic step runs
    on n/k-sized partitions instead of the corpus.

    Everything is DataFrame ops so the exact pipeline replays in SQL:
    seeds are the ``n_clusters`` smallest keys' vectors (deterministic,
    no RNG), ``iters`` spherical Lloyd updates run as
    broadcast-assign + per-dimension mean aggregations (an empty
    cluster keeps its previous centroid), and the final within-cluster
    self-join keeps pairs with cosine >= ``tau``; components take the
    min-key representative via :func:`dedup.duplicate_clusters`.

    Scale shape: the centroid table is k rows (always broadcast); per
    iteration the corpus crosses it with a scalar dot per row and one
    (cluster, dim) aggregation — no corpus self-shuffle until the
    within-cluster join, which is the point of clustering first.
    Output: (key, kcluster, rep, dropped) — ``rep`` the component
    representative, ``dropped`` true for every non-representative
    member of a near-dup component.
    """
    from sophox_spark.operators import dedup as _dedup

    pts = _normalized_points(df, key, vec_col).localCheckpoint()
    wseed = Window.orderBy("pid")
    cent = (
        pts.orderBy("pid")
        .limit(n_clusters)
        .select(
            (F.row_number().over(wseed) - 1).alias("cluster"),
            F.col("pn").alias("cn"),
        )
    )
    for _ in range(iters):
        assign = _kmeans_assign(pts, cent)
        members = assign.join(pts, "pid").select(
            "cluster", F.posexplode("pn").alias("pos", "v")
        )
        means = (
            members.groupBy("cluster", "pos")
            .agg(F.avg("v").alias("mv"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mv"))),
                    lambda s: s["mv"],
                ).alias("mvec")
            )
        )
        norm = F.sqrt(
            F.aggregate(
                F.transform(F.col("mvec"), lambda x: x * x),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        )
        fresh = means.select(
            "cluster", "mvec", F.greatest(norm, F.lit(1e-12)).alias("_cn")
        ).select(
            "cluster",
            F.transform(F.col("mvec"), lambda x: x / F.col("_cn")).alias("cn_new"),
        )
        cent = (
            cent.join(fresh, "cluster", "left")
            .select("cluster", F.coalesce("cn_new", "cn").alias("cn"))
            .localCheckpoint()
        )
    assign = _kmeans_assign(pts, cent)
    side = assign.join(pts, "pid")
    a = side.select(
        F.col("cluster"), F.col("pid").alias("a"), F.col("pn").alias("va")
    )
    b = side.select(
        F.col("cluster"), F.col("pid").alias("b"), F.col("pn").alias("vb")
    )
    pairs = (
        a.join(b, "cluster")
        .where(F.col("a") < F.col("b"))
        .withColumn(
            "cos",
            F.aggregate(
                F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        )
        .where(F.col("cos") >= F.lit(float(tau)))
        .select("a", "b")
    )
    comps = _dedup.duplicate_clusters(pairs, "a", "b").select(
        F.col("x").alias("pid"), F.col("cluster").alias("rep")
    )
    return (
        assign.join(comps, "pid", "left")
        .select(
            F.col("pid").alias(key),
            F.col("cluster").alias("kcluster"),
            F.coalesce("rep", "pid").alias("rep"),
            (F.coalesce("rep", "pid") != F.col("pid")).alias("dropped"),
        )
    )
