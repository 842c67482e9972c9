"""Similarity search over embedding columns (``array<float>``).

Two tiers, per the standard ANN playbook:

- :func:`cosine_topk` — exact brute force: broadcast the (small) query
  set against the corpus, one pass computing cosine, per-query top-k via
  a partial TOP-K aggregate (no global sort). This is the baseline and
  the verifier for the approximate path. Scale shape: corpus-side scan
  is embarrassingly parallel; the only shuffle is the final per-query
  k-row aggregation.
- :func:`ann_topk_lsh` — random-hyperplane LSH (Charikar '02 SimHash for
  angles): each vector gets a ``planes``-bit bucket from the signs of
  dot products with fixed pseudo-random hyperplanes; search touches only
  the query's bucket (multi-probe: plus all buckets at Hamming distance
  ≤ ``probe_hamming``). At 1000 executors the bucket column is the
  partition key — a query reads 1/2^planes of the corpus per probe.

Hyperplane matrix is a deterministic md5-seeded constant (no RNG state,
reproducible across sessions) carried as one literal (``_literal``) —
it travels with the plan, no side file, no driver loop.

The reference has no similarity surface (SURVEY.md §2 Table B) — this is
extension surface for the driver's ``embeddings`` table.
"""

from __future__ import annotations

import hashlib
import json
import math
import struct
import threading
import time
from collections import OrderedDict

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F, types as T

from pandabase_spark import kt_log
from pandabase_spark.functions.vector import cosine_similarity
from pandabase_spark.localframe import local_frame


def _hyperplanes(planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1]^dim.

    md5(plane, chunk) expanded to floats — stable across processes,
    library versions, and sessions (hash-seeded, no RNG object).
    """
    out: list[list[float]] = []
    for p in range(planes):
        vals: list[float] = []
        chunk = 0
        while len(vals) < dim:
            d = hashlib.md5(f"pandabase-hyperplane-{p}-{chunk}".encode()).digest()
            for off in range(0, 16, 4):
                (u,) = struct.unpack("<I", d[off : off + 4])
                vals.append(u / 2147483647.5 - 1.0)  # [-1, 1]
            chunk += 1
        out.append(vals[:dim])
    return out


def _literal(value, ddl: str, parsed: "str | None" = None) -> str:
    """SQL text of the driver-held ``value`` (nested lists; dicts for
    maps) as ONE constant of type ``ddl``, parsed as ``parsed``
    (default ``ddl``; a map parses with string keys, the only JSON
    key): the carrier of every matrix the scorers use and of the serve
    path's probes. The optimizer folds it once, so the plan does not
    grow with the matrix (one SQL fold per centroid made 87,065
    analyzed nodes at 1,024 centroids), and ``json`` writes shortest
    round-trip reprs, so the doubles are bit-exact. A NaN or infinity
    has no literal: it raises ``ValueError``."""
    try:
        text = json.dumps(
            value, separators=(",", ":"), allow_nan=False,
            default=lambda o: np.asarray(o, dtype=np.float64).tolist(),
        )
    except ValueError:
        raise ValueError(
            "a driver-held matrix holds a non-finite value; NaN and "
            "infinity have no literal"
        ) from None
    return (
        f"cast(from_json('{text}', '{parsed or ddl}', "
        f"map('mode', 'FAILFAST')) as {ddl})"
    )


# the per-dimension terms the scorers fold: dot and squared L2 distance
_DOT = "cast(_pb_x as double) * _pb_y"
_SQDIST = "(cast(_pb_x as double) - _pb_y) * (cast(_pb_x as double) - _pb_y)"


def _fold(a: str, b: str, term: str = _DOT) -> str:
    """SQL text of the sum of ``term`` over the zipped arrays ``a`` and
    ``b``, in double, left to right over the dimensions: the order
    :func:`_folded` reproduces."""
    return (
        f"aggregate(zip_with({a}, {b}, (_pb_x, _pb_y) -> {term}), "
        "0D, (_pb_s, _pb_t) -> _pb_s + _pb_t)"
    )


def _scores(vec_col: str, matrix, term: str = _DOT) -> str:
    """SQL text of the array of ``term`` folds of column ``vec_col``
    against each row of the driver-held ``matrix``: one ``transform``
    over one literal."""
    rows = _literal(matrix, "array<array<double>>")
    vec = "`" + vec_col.replace("`", "``") + "`"
    return f"transform({rows}, _pb_c -> {_fold(vec, '_pb_c', term)})"


def hyperplane_buckets(
    df: DataFrame, vec_col: str, *, planes: int = 12, dim: int | None = None
) -> DataFrame:
    """Attach an LSH ``bucket`` (int, ``planes`` sign bits) per row.

    One projection: ``planes`` dot products per vector, one
    ``transform`` over the hyperplanes as one literal; adds no shuffle. Bucket the table ONCE at ingest and
    reuse for every query — at scale, persist partitioned by bucket.
    """
    if dim is None:
        first = df.select(F.size(vec_col)).first()
        if first is None:
            raise ValueError("cannot infer dim from an empty DataFrame")
        dim = first[0]
    bits = (
        f"zip_with({_scores(vec_col, _hyperplanes(planes, dim))}, "
        f"sequence(0, {planes - 1}), (_pb_d, _pb_i) -> "
        "cast(_pb_d >= 0 as bigint) * shiftleft(1L, _pb_i))"
    )
    return df.withColumn("bucket", F.expr(
        f"cast(aggregate({bits}, 0L, (_pb_s, _pb_t) -> _pb_s + _pb_t) as int)"
    ))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine for each query vector (brute force).

    ``queries`` must be small (it is broadcast). Returns
    (query_id, vec_id, cosine, rank) with rank 1..k per query.

    The top-k is computed as ``max_by``-style partial aggregation via
    a sorted-array accumulator: groupBy(query) collects only k rows per
    partition before the final merge (Catalyst rewrites window-rank
    filters over grouped TOP-K since 3.5 via RankLimit; we keep the
    explicit window + filter which AQE executes with partial ranking).
    """
    qid = query_id_col or id_col
    q = queries.select(
        F.col(qid).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    scored = corpus.alias("c").join(F.broadcast(q)).select(
        F.col("query_id"),
        F.col(id_col),
        cosine_similarity(F.col(vec_col), F.col("_qvec")).alias("cosine"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "cosine", "rank")
    )


def ann_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    k: int = 10,
    planes: int = 8,
    probe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k: search only LSH buckets near the query's.

    Multi-probe: a query probes its own bucket plus every bucket within
    Hamming distance ``probe_hamming`` (probes = sum of C(planes, i)).
    The corpus side is bucketed once; the join key is the bucket id, so
    the scan touches probes/2^planes of the data — the 100 TB path.
    Recall is tunable via ``planes`` (fewer → bigger buckets) and
    ``probe_hamming``.

    Returns (query_id, vec_id, cosine, rank).
    """
    qid = query_id_col or id_col
    dim_row = corpus.select(F.size(vec_col)).first()
    if dim_row is None:
        raise ValueError("empty corpus")
    dim = dim_row[0]
    c_bucketed = hyperplane_buckets(corpus, vec_col, planes=planes, dim=dim)
    q_bucketed = hyperplane_buckets(
        queries.select(
            F.col(qid).alias("query_id"), F.col(vec_col).alias("_qvec")
        ),
        "_qvec",
        planes=planes,
        dim=dim,
    )
    # expand each query to its probe buckets: flips of ≤ probe_hamming
    # bits (any radius, r12 — probe_hamming == planes enumerates every
    # bucket, making the search provably exhaustive: the value-exact
    # gate configuration, same family pattern as nprobe == n_cells)
    from itertools import combinations

    probe_masks = [
        sum(1 << b for b in bits)
        for r in range(min(probe_hamming, planes) + 1)
        for bits in combinations(range(planes), r)
    ]
    probes = q_bucketed.select(
        "query_id",
        "_qvec",
        F.explode(
            F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in probe_masks])
        ).alias("bucket"),
    )
    scored = (
        c_bucketed.join(F.broadcast(probes), on="bucket")
        .select(
            "query_id",
            F.col(id_col),
            cosine_similarity(F.col(vec_col), F.col("_qvec")).alias("cosine"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path
# ---------------------------------------------------------------------------

def _with_cell(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    *,
    out: str = "cell",
) -> DataFrame:
    """Attach cell id = argmax of dot(vec, centroid) over the centroids.

    Centroids are unit-normalized, so dot == cosine up to the vector's
    own norm, which is constant across cells — argmax is identical.
    The dots are one ``transform`` over the centroid matrix as one
    literal (:func:`_scores`), staged once as an array column, and the
    argmax is ``array_position(dots, array_max(dots))`` over that
    attribute. Ties break to the lowest cell id (first array position).
    """
    dots = F.expr(_scores(vec_col, centroids))
    staged = df.withColumn("_pb_dots", dots)
    cell = (
        F.array_position(F.col("_pb_dots"), F.array_max("_pb_dots")) - 1
    ).cast("int")
    return staged.withColumn(out, cell).drop("_pb_dots")


# FAISS's default ``max_points_per_centroid``: Lloyd training reads at
# most this many sample rows per centroid (IVF cell or PQ code).
TRAIN_POINTS_PER_CENTROID = 256


def _train_rows(
    corpus: DataFrame, *, id_col: str, vec_col: str,
    sample_mod: "int | None", n_centroids: int,
) -> np.ndarray:
    """The training matrix of both trainers, in ONE collect: after the
    deterministic 1/``sample_mod`` hash-sample, the
    ``TRAIN_POINTS_PER_CENTROID × n_centroids`` rows with the smallest
    ``xxhash64(cast(id as string))``, in that order, as float64 rows.
    The order is a property of the rows, so any shorter prefix is
    exactly what a smaller cap would have collected: a trainer asked
    for fewer centroids reads the same leading rows, and its first
    rows are its seeds.

    When the optimizer already bounds the sample under the cap (an
    in-memory corpus), Spark would drop the limit and plan a
    range-partitioned sort (3 jobs); the rows are collected as they
    are and sorted here instead, which for a local relation runs no
    job at all."""
    cap = TRAIN_POINTS_PER_CENTROID * n_centroids
    if sample_mod is not None:
        corpus = corpus.where(
            F.pmod(F.xxhash64(id_col), F.lit(sample_mod)) == 0
        )
    train = corpus.select(
        F.xxhash64(F.col(id_col).cast("string")).alias("_h"),
        F.col(vec_col).alias("_v"),
    )
    bound = train._jdf.queryExecution().optimizedPlan().maxRows()
    if bound.isDefined() and bound.get() <= cap:
        rows = sorted(train.collect(), key=lambda r: r["_h"])
    else:
        rows = train.orderBy("_h").limit(cap).collect()
    return np.array([r["_v"] for r in rows], dtype=np.float64)


def _folded(X: np.ndarray, C: np.ndarray, sqdist: bool) -> np.ndarray:
    """(rows × centroids) dots, or squared L2 distances, accumulated
    left to right over the dimensions in double: the order in which
    :func:`_fold` folds, so a row is assigned here exactly as the
    Spark scorer assigns it, ties included (a BLAS matmul sums in
    another order)."""
    out = np.zeros((len(X), len(C)))
    for j in range(X.shape[1]):
        if sqdist:
            diff = X[:, j : j + 1] - C[:, j]
            out += diff * diff
        else:
            out += X[:, j : j + 1] * C[:, j]
    return out


def _cell_means(X: np.ndarray, cell: np.ndarray, C: np.ndarray):
    """(per-cell means of ``X``'s rows, mask of non-empty cells); an
    empty cell keeps its row of ``C``."""
    sums = np.zeros_like(C)
    np.add.at(sums, cell, X)
    counts = np.bincount(cell, minlength=len(C))
    hit = counts > 0
    out = C.copy()
    out[hit] = sums[hit] / counts[hit, None]
    return out, hit


def _unit_rows(V: np.ndarray) -> np.ndarray:
    """Rows scaled to unit L2 norm; a zero row stays as it is."""
    norms = np.sqrt((V * V).sum(axis=1, keepdims=True))
    return np.divide(V, norms, out=V.copy(), where=norms > 0)


def _spherical_kmeans(
    X: np.ndarray, n_cells: int, iters: int,
    tol: "float | None" = None, info: "dict | None" = None,
) -> "list[list[float]]":
    """Spherical Lloyd over the first ``TRAIN_POINTS_PER_CENTROID ×
    n_cells`` rows of ``X``: the first ``n_cells`` rows, unit-normed,
    seed; each step assigns every row to its max-dot centroid (ties to
    the lowest cell), takes exact per-cell means and unit-norms them;
    an empty cell keeps its centroid."""
    X = X[: TRAIN_POINTS_PER_CENTROID * n_cells]
    if len(X) < n_cells:
        raise ValueError(
            f"need at least n_cells={n_cells} training vectors, "
            f"got {len(X)}"
        )
    C = _unit_rows(X[:n_cells])
    iters_run, move = 0, None
    for _ in range(iters):
        cell = np.argmax(_folded(X, C, sqdist=False), axis=1)
        means, hit = _cell_means(X, cell, C)
        updated = C.copy()
        updated[hit] = _unit_rows(means[hit])
        iters_run += 1
        if tol is not None:
            move = float(np.sqrt(((C - updated) ** 2).sum(axis=1)).max())
        C = updated
        if tol is not None and move <= tol:
            break
    if info is not None:
        info["iters_run"] = iters_run
        info["final_move"] = move
    return C.tolist()


def _pq_kmeans(
    X: np.ndarray, m: int, k: int, iters: int
) -> "list[list[list[float]]]":
    """Per-subspace L2 Lloyd over the first ``TRAIN_POINTS_PER_CENTROID
    × k`` rows of ``X``: the first ``k`` rows' subvectors seed; each
    step assigns every row to its min-distance code (ties to the
    lowest code) and takes exact per-code means; an empty code keeps
    its subcentroid."""
    X = X[: TRAIN_POINTS_PER_CENTROID * k]
    if not len(X):
        raise ValueError("cannot train PQ on an empty corpus")
    if len(X) < k:
        raise ValueError(
            f"need at least k={k} training vectors, got {len(X)}"
        )
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    books = []
    for j in range(m):
        S = X[:, j * d : (j + 1) * d]
        B = S[:k].copy()
        for _ in range(iters):
            code = np.argmin(_folded(S, B, sqdist=True), axis=1)
            B, _ = _cell_means(S, code, B)
        books.append(B.tolist())
    return books


def ivf_centroids(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    iters: int = 2,
    tol: "float | None" = None,
    sample_mod: int | None = None,
    info: "dict | None" = None,
) -> list[list[float]]:
    """Train a spherical-k-means coarse quantizer; returns unit-norm
    centroids as plain Python lists (n_cells × dim floats — an index
    artifact, intentionally driver-side; it reaches Spark as one
    literal (:func:`_literal`), the same carrier as
    :func:`pq_codebooks`). List position is the cell id everywhere the
    quantizer is scored or persisted.

    One collect (at most one Spark job), then NumPy on the driver. It
    fetches the training sample: after ``sample_mod`` (train on the deterministic
    1/m hash-sample), the ``TRAIN_POINTS_PER_CENTROID × n_cells``
    (256 × n_cells) rows with the smallest ``xxhash64(id)``, in that
    order. The cap is FAISS's default ``max_points_per_centroid``
    (Jégou et al., TPAMI 2011; Johnson et al., 2017): centroid quality
    needs a bounded sample, not the corpus, so a corpus larger than the
    cap trains on its capped hash prefix, and the driver holds at most
    256 × n_cells × dim × 8 bytes. The full corpus is only touched by
    the one-pass cell assignment afterwards.

    Deterministic end to end: the first ``n_cells`` rows of the prefix
    are the seeds; each Lloyd step assigns by max dot, summed in the
    same order as the Spark scorer (ties to the lowest cell), and takes
    exact per-cell means; an empty cell keeps its centroid.

    ``tol`` turns ``iters`` from a fixed count into a CAP: the loop
    stops once the largest per-centroid L2 movement of an update falls
    to ``tol`` or below. ``info`` (optional dict) receives
    ``iters_run`` and ``final_move`` so callers can record the
    convergence fact next to the build time.
    """
    X = _train_rows(
        corpus, id_col=id_col, vec_col=vec_col, sample_mod=sample_mod,
        n_centroids=n_cells,
    )
    return _spherical_kmeans(X, n_cells, iters, tol, info)


def _with_cells_topn(
    df: DataFrame,
    vec_col: str,
    centroids: "list[list[float]]",
    n: int,
    *,
    out: str = "cells",
) -> DataFrame:
    """Attach the ``n`` NEAREST cells as an array column (top-1 is
    :func:`ivf_assign`'s cell) — the multi-assignment used for
    bucketed near-dup candidate generation (a pair straddling a cell
    boundary still shares at least one bucket) and the per-query probe
    expansion of the in-memory IVF serve paths (the persisted ones
    pick the same cells on the driver, :func:`_expand_probes`). One
    expression: sort the (−dot, cell) struct array, slice; ties break
    to the lower cell id (stable sort on (negdot, cell))."""
    pairs = (
        f"zip_with({_scores(vec_col, centroids)}, "
        f"sequence(0, {len(centroids) - 1}), (_pb_d, _pb_i) -> "
        "named_struct('negdot', -_pb_d, 'cell', _pb_i))"
    )
    return df.withColumn(out, F.expr(
        f"transform(slice(array_sort({pairs}), 1, {n}), _pb_p -> _pb_p.cell)"
    ))


def _probe_cells(
    q: DataFrame, centroids: "list[list[float]]", nprobe: int
) -> DataFrame:
    """Expand each (query_id, _qvec) row to its ``nprobe`` nearest
    cells: one (query_id, _qvec, cell) row per probe."""
    return _with_cells_topn(q, "_qvec", centroids, nprobe).select(
        "query_id", "_qvec", F.explode("cells").alias("cell")
    )


def ivf_neardup_pairs(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.8,
    n_cells: int = 16,
    nassign: int = 2,
    iters: int = 2,
    sample_mod: "int | None" = None,
    centroids: "list[list[float]] | None" = None,
) -> DataFrame:
    """Embedding near-duplicate pairs at corpus scale: candidates are
    confined to IVF cells (each vector multi-assigned to its
    ``nassign`` nearest cells so boundary-straddling pairs still
    collide), exact cosine verifies candidates only, pairs emit once
    (``id_1 < id_2``, deduped across shared cells). The semantic-dedup
    analogue of MinHash-LSH banding: candidate generation is a
    per-cell self-join — at 100 TB each cell is ~n/n_cells vectors
    and the shuffle key is the cell id — never an all-pairs product.
    Recall misses only pairs whose cell sets are disjoint; raising
    ``nassign`` (or ``n_cells`` resolution) trades candidate volume
    for recall, pinned against the exact join in pytest. Pass
    ``centroids`` to reuse a trained quantizer (e.g. a persisted
    index's ``centroids`` via :func:`_load_index`); threshold semantics
    match :func:`embedding layer <cosine_topk>` cosine."""
    if centroids is None:
        centroids = ivf_centroids(
            corpus, id_col=id_col, vec_col=vec_col, n_cells=n_cells,
            iters=iters, sample_mod=sample_mod,
        )
    assigned = _with_cells_topn(
        corpus.select(id_col, vec_col), vec_col, centroids, nassign
    ).select(
        F.col(id_col), F.col(vec_col), F.explode("cells").alias("cell")
    )
    a = assigned.select(
        "cell", F.col(id_col).alias("id_1"), F.col(vec_col).alias("_v1")
    )
    b = assigned.select(
        "cell", F.col(id_col).alias("id_2"), F.col(vec_col).alias("_v2")
    )
    cand = (
        a.join(b, on="cell")
        .where(F.col("id_1") < F.col("id_2"))
        .dropDuplicates(["id_1", "id_2"])
    )
    return (
        cand.select(
            "id_1", "id_2",
            cosine_similarity(F.col("_v1"), F.col("_v2")).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
        .withColumn("cosine", F.round("cosine", 4))
    )


def ivf_assign(
    df: DataFrame,
    centroids: "list[list[float]]",
    *,
    vec_col: str = "embedding",
) -> DataFrame:
    """Attach the IVF ``cell`` column (one projection, no shuffle)
    against the :func:`ivf_centroids` list, scored by one
    ``transform`` over it as one literal: the plan does not grow with
    ``n_cells``.
    At scale, run once at ingest and persist partitioned by ``cell`` —
    then every probe is a partition-pruned read.
    """
    return _with_cell(df, vec_col, centroids, out="cell")


def ann_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 3,
    iters: int = 2,
    sample_mod: int | None = None,
    centroids: "list[list[float]] | None" = None,
) -> DataFrame:
    """Approximate top-k via an IVF index: exact cosine, but only inside
    the ``nprobe`` cells nearest each query (the FAISS IVF-flat recipe).

    Each query expands to its ``nprobe`` best cells — computed in one
    expression: sort the (−dot, cell) struct array, slice, explode — and
    joins the cell-assigned corpus on ``cell``. Work per query is
    ~nprobe/n_cells of the corpus; recall is tuned by ``nprobe``.
    Pass a prebuilt :func:`ivf_centroids` list to skip training (the
    ingest-time pattern).
    Returns (query_id, vec_id, cosine, rank).
    """
    qid = query_id_col or id_col
    if centroids is None:
        centroids = ivf_centroids(
            corpus, id_col=id_col, vec_col=vec_col,
            n_cells=n_cells, iters=iters, sample_mod=sample_mod,
        )
    c_assigned = ivf_assign(corpus, centroids, vec_col=vec_col)
    q = queries.select(
        F.col(qid).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    probes = _probe_cells(q, centroids, nprobe)
    scored = c_assigned.join(F.broadcast(probes), on="cell").select(
        "query_id",
        F.col(id_col),
        cosine_similarity(F.col(vec_col), F.col("_qvec")).alias("cosine"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# Persisted IVF index: the cell-partitioned, partition-pruned serving shape
# ---------------------------------------------------------------------------
#
# Layout under an index directory:
#
#     _pb_log/{v:010d}.json       version v: the live leaves, the
#                                 per-app txn watermarks, the data
#                                 schema and the artifacts name
#     _pandabase_log.json         hint: a copy of a recent version
#     artifacts-<label>/          quantizer, codebooks, residual flag
#                                 and anchors, as one tagged parquet
#     data/txn=<label>/           one write: a fresh label per attempt
#     data/txn=<label>/cell=<c>/  a leaf: that write's rows in cell c
#
# Every index write follows the keyed table's log rule (kt_log): land
# the label directory in place, then claim {v+1}.json put-if-absent.
# Nothing is staged or renamed. A label that no version lists is never
# read; compact_index deletes its directory once no reader can still
# use it. Indexes written in the older cell-first layout
# (data/cell=<c>/txn=<label>) are not read: rebuild them.

# The artifacts file's schema, known by construction: one row per
# centroid (cell, vec), codebook entry (j, code, vec) and anchor
# (cell, vec), and one meta row (residual), tagged by ``_sidecar``.
_ARTIFACTS_SCHEMA = (
    "_sidecar string, cell int, j int, code int, residual boolean, "
    "vec array<double>"
)

# Parsed artifacts of the indexes this process built or loaded, keyed
# by (canonical index path, artifacts name). An artifacts file is
# written once under a fresh name and never rewritten, so an entry
# cannot go stale: a rebuilt index names a new file. The bound only
# caps driver memory; the least recently used entry goes first.
_MEMO_ENTRIES = 32
_memo: "OrderedDict[tuple[str, str], dict]" = OrderedDict()
_memo_lock = threading.Lock()


def _label(kind: str) -> str:
    """A fresh leaf label. Every write attempt lands under its own, so
    a retry never meets the files of a crashed attempt."""
    import uuid

    return f"{kind}-{uuid.uuid4().hex[:16]}"


def _leaf(path: str, label: str, cell: "int | None" = None) -> str:
    """The label directory of one write, or its leaf in ``cell``."""
    out = f"{path}/data/txn={label}"
    return out if cell is None else f"{out}/cell={cell}"


def _index_head(fs, path: str) -> dict:
    """The newest committed version of the index at ``path``."""
    man = kt_log.head(fs, path)
    if not man["v"]:
        raise FileNotFoundError(f"no persisted index at {path}")
    return man


def _commit(fs, path: str, man: dict, change) -> dict:
    """Claim version ``man["v"] + 1`` holding ``change(man)``,
    put-if-absent, and return the committed version. A lost claim
    re-reads the head and applies ``change`` to it again. ``change``
    returns None when nothing is left to commit (the head is returned)
    and raises when the change no longer applies.

    The hint follows the claim, best-effort. Version 1 writes none, so
    a build's claim is its last step: a crashed build committed
    nothing, and a plain re-run starts clean."""
    while True:
        doc = change(man)
        if doc is None:
            return man
        doc = {**doc, "v": man["v"] + 1, "ts": round(time.time(), 3)}
        text = json.dumps(doc, sort_keys=True, separators=(",", ":"))
        if fs.write_text_if_absent(kt_log.version_path(path, doc["v"]), text):
            if doc["v"] > 1:
                try:
                    fs.write_text_atomic(kt_log.hint_path(path), text)
                except Exception:
                    pass  # only a hint: readers chase to the head without it
            return doc
        man = kt_log.head(fs, path)


def _land(fs, frame: DataFrame, path: str, label: str) -> "list[int]":
    """Write ``frame`` (it has a ``cell`` column) in place as the label
    directory ``data/txn=<label>``, one ``cell=<c>`` leaf per cell, in
    one ``partitionBy("cell")`` write, and return the cells written,
    from one listing of that directory. A write that lands no cell
    deletes its directory at once. No reader sees the leaves until a
    version lists the label."""
    out = _leaf(path, label)
    frame.repartition("cell").write.partitionBy("cell").parquet(out)
    cells = sorted(
        int(d[5:]) for d in fs.list_dirs(out) if d.startswith("cell=")
    )
    if not cells:
        fs.delete(out)
    return cells


def _write_artifacts(
    spark, path: str, label: str, centroids, codebooks=None,
    residual: bool = False, anchors=None,
) -> str:
    """Write every frozen artifact of a new index as one parquet file
    (one Spark job) from one tagged driver-local frame, and return its
    name. ``anchors`` is a list of ``(cell, vector)`` pairs.

    Non-finite centroid components are rejected: every probe distance
    against such a cell would be NaN, so a corpus holding a non-finite
    embedding fails the build instead of persisting a broken
    quantizer."""
    for i, c in enumerate(centroids):
        for x in c:
            if not math.isfinite(x):
                raise ValueError(
                    f"centroid {i} contains non-finite component {x!r}; "
                    f"clean the corpus (drop or clamp non-finite "
                    f"embedding values) before building the index"
                )
    rows = [
        ("centroids", i, None, None, None, [float(x) for x in c])
        for i, c in enumerate(centroids)
    ]
    rows += [
        ("codebooks", None, j, code, None, [float(x) for x in vec])
        for j, book in enumerate(codebooks or [])
        for code, vec in enumerate(book)
    ]
    rows.append(("meta", None, None, None, bool(residual), None))
    rows += [("anchors", c, None, None, None, a) for c, a in anchors or []]
    name = f"artifacts-{label}"
    local_frame(spark, rows, _ARTIFACTS_SCHEMA).coalesce(1).write.parquet(
        f"{path}/{name}"
    )
    return name


def _new_index(spark, path: str):
    """The ``HadoopFS`` for a build at ``path``; raises if an index is
    already committed there."""
    from pandabase_spark.fs import HadoopFS

    fs = HadoopFS(spark)
    if kt_log.head(fs, path)["v"]:
        raise FileExistsError(f"an index already exists at {path}")
    return fs


def _publish_build(fs, path: str, frame: DataFrame, **artifacts) -> None:
    """Land a new index: its artifacts file, its leaves, then the claim
    of version 1 (lost only to another build of the same path). The
    committed artifacts seed the memo, so serving and appending to a
    fresh index load nothing."""
    label = _label("base")
    name = _write_artifacts(frame.sparkSession, path, label, **artifacts)
    cells = _land(fs, frame, path, label)

    def change(head):
        if head["v"]:
            raise FileExistsError(f"an index already exists at {path}")
        return {
            "artifacts": name,
            "schema": ", ".join(
                f"`{f.name.replace('`', '``')}` {f.dataType.simpleString()}"
                for f in frame.drop("cell").schema
            ),
            "txns": {},
            "leaves": (
                {label: {"cells": cells, "app": None, "batch": None}}
                if cells else {}
            ),
        }

    _commit(fs, path, {"v": 0}, change)
    _memo_put((fs.canonical(path), name), _artifact_entry(**artifacts))


def _read_leaves(
    spark, path: str, man: dict, *, labels=None, cells=None
) -> "DataFrame | None":
    """The rows of the leaves version ``man`` lists (only ``labels``,
    only in ``cells``, when given) as one scan of their exact paths,
    with the schema the version records: no listing of ``data/`` and
    no footer inference. ``cell`` stays a partition column, and the
    ``cell IN`` filter keeps pruning a planning-time fact. None when
    no listed leaf matches."""
    want = None if cells is None else set(cells)
    paths = [
        _leaf(path, lb, c)
        for lb, leaf in sorted(man["leaves"].items())
        if labels is None or lb in labels
        for c in leaf["cells"]
        if want is None or c in want
    ]
    if not paths:
        return None
    df = (
        spark.read.schema(f"{man['schema']}, txn string, cell int")
        .option("basePath", f"{path}/data")
        .parquet(*paths)
        .drop("txn")
    )
    return df if cells is None else df.where(F.col("cell").isin(list(cells)))


def write_ivf_index(
    corpus: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    iters: int = 2,
    tol: "float | None" = None,
    sample_mod: "int | None" = None,
    info: "dict | None" = None,
) -> None:
    """Build the IVF index ONCE at ingest and persist it
    cell-partitioned — the 100 TB serving shape the in-memory
    :func:`ann_topk_ivf` docstrings promise: the cell-assigned corpus
    lands as one ``data/txn=<label>/cell=<c>`` leaf per cell (one
    directory per inverted list), the trained quantizer as the
    ``(cell, vec)`` rows of the artifacts file, and version 1 of the
    index log lists both. A probe then reads ONLY its probed cells'
    leaves via Spark partition pruning (PartitionFilters on ``cell``,
    plan-asserted in tests/test_plan_shapes.py), so query IO is
    ~nprobe/n_cells of the corpus at any corpus size. Deterministic
    end to end (hash-seeded k-means): rebuilding the index reproduces
    it bit-identically. Raises ``FileExistsError`` if an index is
    already committed at ``path``; a crashed build leaves nothing a
    plain re-run trips over."""
    fs = _new_index(corpus.sparkSession, path)
    centroids = ivf_centroids(
        corpus, id_col=id_col, vec_col=vec_col, n_cells=n_cells,
        iters=iters, tol=tol, sample_mod=sample_mod, info=info,
    )
    _publish_build(
        fs, path, ivf_assign(corpus, centroids, vec_col=vec_col),
        centroids=centroids,
    )


def append_ivf_index(
    new_vectors: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    txn: "tuple[str, int] | None" = None,
) -> None:
    """Append new vectors to an EXISTING :func:`write_ivf_index` index
    without rebuilding it — the FAISS add-after-train contract and the
    100 TB maintenance story: at scale the corpus arrives continuously
    and a full retrain+rewrite per batch would be O(corpus) when the
    new data is O(batch). The batch is cell-assigned against the
    FROZEN centroids the head version names (memoized by
    :func:`_index_artifacts`, so only the first use in a process loads
    them, in one job), in one projection with no shuffle beyond the
    partition write, and the rows land as one new leaf per touched cell
    (untouched cells gain nothing, probes keep pruning). Serving code
    needs no changes: with ``nprobe = n_cells`` the appended index
    must still hash-match brute force over the FULL corpus (the
    driver-gated ``ann_topk_ivf_appended_full`` contract).

    Quantizer drift is the deliberate trade (same as FAISS ``add``):
    appended vectors get the nearest EXISTING cell, so recall degrades
    only as the data distribution drifts from the training sample —
    re-train+rewrite is the periodic remedy, not the per-batch cost.
    Id uniqueness across appends is the caller's contract.

    ``txn=(app_id, batch_id)`` is the keyed table's replay contract
    (Delta's txnAppId/txnVersion): a batch id at or below the app's
    committed watermark is a no-op that runs no Spark job, so a
    re-delivered micro-batch never double-inserts; the claim that
    lists the batch's leaf also raises the watermark, and an empty
    batch commits the watermark alone. Without ``txn`` the append is
    at-least-once."""
    _append_index_batch(
        new_vectors, path, txn,
        lambda index: ivf_assign(
            new_vectors, index["centroids"], vec_col=vec_col
        ),
    )


def _append_index_batch(
    new_vectors: DataFrame, path: str, txn: "tuple[str, int] | None",
    encode,
) -> None:
    """Land one batch as a new leaf and claim a version that lists it,
    shared by the raw IVF and IVFPQ appends. The head is read once: a
    ``txn`` batch at or below its app's watermark returns before any
    Spark work, and ``encode(index)`` turns the batch into leaf rows
    against the artifacts that head names. Appends commute: a lost
    claim re-reads the head and claims again on top of it, unless the
    new head already holds this ``txn`` batch (its leaf is then never
    listed)."""
    from pandabase_spark.fs import HadoopFS

    spark = new_vectors.sparkSession
    fs = HadoopFS(spark)
    app, bid = (str(txn[0]), int(txn[1])) if txn is not None else (None, None)

    def done(head: dict) -> bool:
        return app is not None and bid <= head["txns"].get(app, float("-inf"))

    man = _index_head(fs, path)
    if done(man):
        return
    batch = encode(_index_artifacts(spark, fs, path, man))
    label = _label("add")
    cells = _land(fs, batch, path, label)

    def change(head: dict):
        if done(head) or (app is None and not cells):
            return None
        leaves = dict(head["leaves"])
        if cells:
            leaves[label] = {"cells": cells, "app": app, "batch": bid}
        txns = head["txns"] if app is None else {**head["txns"], app: bid}
        return {**head, "leaves": leaves, "txns": txns}

    _commit(fs, path, man, change)


def write_ivfpq_index(
    corpus: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    m: int = 8,
    n_codes: int = 16,
    iters: int = 2,
    sample_mod: "int | None" = None,
    centroids: "list[list[float]] | None" = None,
    codebooks: "list[list[list[float]]] | None" = None,
    residual: bool = False,
    exact_codebooks: bool = False,
    anchors: "list[list[float]] | None" = None,
) -> None:
    """Persist the FULL FAISS-style IVFADC index — the billion-scale
    serving artifact :func:`ann_topk_ivfpq`'s docstring promises: one
    artifacts file holds the coarse quantizer and the PQ codebooks
    ((j, code, vec) rows — an m×k table, tiny by construction), and
    the corpus lands as (id, pq_code) rows under the same
    ``data/txn=<label>/cell=<c>`` layout and log as
    :func:`write_ivf_index` — NO raw vectors on the serving path: each
    row is m small ints (~16-32× less index IO than the raw-vector
    index), and a probe reads ~nprobe/n_cells of THAT. Both artifacts
    are deterministic and prebuildable via ``centroids=`` /
    ``codebooks=`` (the ingest-time pattern, and how the lossless-PQ
    exactness gate injects enumerated codebooks). The build is one
    job for the artifacts file and the data write, plus training.

    Training both artifacts here is one collect of the
    ``TRAIN_POINTS_PER_CENTROID × max(n_cells, n_codes)`` hash-ordered
    sample rows (the cap of :func:`ivf_centroids`; the driver holds at
    most cap × dim × 8 bytes). Each trainer reads its own 256 × n
    prefix, so each artifact equals its standalone training, and no
    Spark job depends on ``iters``.

    ``residual=True`` stores Jégou et al.'s ACTUAL IVFADC encoding:
    each vector's PQ code quantizes its RESIDUAL against its cell's
    ANCHOR rather than ``x`` itself. The coarse quantizer absorbs the
    between-cell variance, so the codebooks spend their codes on the
    much tighter within-cell distribution — the composition that
    makes m·log₂(k) bits per vector work at billion scale. The anchor
    defaults to the PER-CELL MEAN (one collect; the spherical
    quantizer's unit-norm directions are right for assignment but
    useless as shifts — measured r12); ``anchors=`` overrides it with
    an explicit per-cell list (how the exactness gate keeps residual
    arithmetic integer-exact). Codebooks (when trained here) train on
    the residual frame; the flag and the anchors persist in the
    artifacts file, so serve/append transparently apply the same shift
    (``q − a[cell]`` per probed cell at query time — ADC distances are
    L2-identical under any common per-cell shift)."""
    spark = corpus.sparkSession
    fs = _new_index(spark, path)
    if (
        centroids is None and codebooks is None
        and not exact_codebooks and not residual
    ):
        # both trainers read the raw corpus: one collect of the longer
        # prefix serves both, each trainer slicing its own cap
        X = _train_rows(
            corpus, id_col=id_col, vec_col=vec_col, sample_mod=sample_mod,
            n_centroids=max(n_cells, n_codes),
        )
        centroids = _spherical_kmeans(X, n_cells, iters)
        codebooks = _pq_kmeans(X, m, n_codes, iters)
    if centroids is None:
        centroids = ivf_centroids(
            corpus, id_col=id_col, vec_col=vec_col, n_cells=n_cells,
            iters=iters, sample_mod=sample_mod,
        )
    staged = ivf_assign(corpus, centroids, vec_col=vec_col)
    anchor_rows = None
    if residual:
        # driver-held, so the encode below and the persisted artifact
        # shift by the very same doubles
        anchor_rows = (
            [(i, [float(x) for x in a]) for i, a in enumerate(anchors)]
            if anchors is not None
            else sorted(
                (r["cell"], list(r["avec"]))
                for r in _cell_mean_anchors(staged, vec_col).collect()
            )
        )
        staged = _subtract_cell_anchor(staged, anchor_rows, vec_col)
    if codebooks is None:
        if exact_codebooks:
            # enumerate the distinct (residual) subvectors that
            # actually occur AFTER assignment/shift — the lossless
            # configuration for low-cardinality corpora, computed on
            # exactly the frame pq_encode will see (a vector assigned
            # to a non-nearest cell still encodes losslessly because
            # ITS residual is in the enumeration)
            codebooks = pq_codebooks_exact(
                staged, vec_col=vec_col, m=m,
            )
        else:
            codebooks = pq_codebooks(
                staged, id_col=id_col, vec_col=vec_col, m=m, k=n_codes,
                iters=iters, sample_mod=sample_mod,
            )
    encoded = pq_encode(
        staged, codebooks, vec_col=vec_col
    ).select(F.col(id_col), "cell", "pq_code")
    _publish_build(
        fs, path, encoded, centroids=centroids, codebooks=codebooks,
        residual=residual, anchors=anchor_rows,
    )


def _subtract_cell_anchor(
    assigned: DataFrame, anchors: "list[tuple[int, list[float]]]",
    vec_col: str,
) -> DataFrame:
    """Replace ``vec_col`` with the residual against each row's cell
    ANCHOR: the driver-held ``(cell, vector)`` rows are looked up as
    one literal map on ``cell`` (no join, no broadcast job) and
    subtracted in one ``zip_with``. A cell with no anchor (a cell that
    was empty when the index was built; appends can land there later)
    shifts by zero — the rule only has to be the SAME at encode and
    query time (:func:`_expand_probes`) for ADC distances to stay
    valid."""
    unshifted = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    if not anchors:
        return assigned.withColumn(vec_col, unshifted)
    amap = _literal(
        {int(c): a for c, a in anchors}, "map<int, array<double>>",
        parsed="map<string, array<double>>",
    )
    avec = F.expr(f"element_at({amap}, cell)")
    shifted = F.zip_with(
        F.col(vec_col), avec, lambda x, y: x.cast("double") - y
    )
    return assigned.withColumn(
        vec_col, F.when(avec.isNull(), unshifted).otherwise(shifted)
    )


def _cell_mean_anchors(assigned: DataFrame, vec_col: str) -> DataFrame:
    """Per-cell component means of the assigned vectors — the residual
    anchors the TRUE IVFADC subtracts. The spherical coarse quantizer's
    centroids are unit-norm DIRECTIONS (right for assignment, useless
    as shifts: subtracting a unit vector from the raw corpus removes
    almost none of the between-cell variance — measured r12); the
    anchor that minimizes residual energy per cell is its mean. One
    posexplode aggregation, O(n_cells × dim) result."""
    return (
        assigned.select("cell", F.posexplode(F.col(vec_col)))
        .groupBy("cell", "pos")
        .agg(F.avg(F.col("col").cast("double")).alias("m"))
        .groupBy("cell")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "m"))
            ).alias("s")
        )
        .select("cell", F.expr("transform(s, x -> x.m)").alias("avec"))
    )


def _artifact_entry(
    centroids, codebooks=None, residual: bool = False, anchors=None
) -> dict:
    """The memo's form of an index's frozen artifacts, plain Python
    values: ``centroids`` (the :func:`ivf_centroids` list),
    ``codebooks`` (the PQ books, or None for a raw IVF index),
    ``residual`` and ``anchors`` (sorted ``(cell, vector)`` rows of a
    residual index, else None)."""
    return {
        "centroids": [[float(x) for x in c] for c in centroids],
        "codebooks": (
            [[[float(x) for x in v] for v in book] for book in codebooks]
            if codebooks else None
        ),
        "residual": bool(residual),
        "anchors": (
            sorted((int(c), [float(x) for x in a]) for c, a in anchors or [])
            if residual else None
        ),
    }


def _memo_put(key: "tuple[str, str]", entry: dict) -> dict:
    with _memo_lock:
        _memo[key] = entry
        _memo.move_to_end(key)
        while len(_memo) > _MEMO_ENTRIES:
            _memo.popitem(last=False)
    return entry


def _index_artifacts(spark, fs, path: str, man: dict) -> dict:
    """The frozen artifacts version ``man`` names, from the memo; a miss
    scans the artifacts file with its known schema and collects it
    (one Spark job). The rules for the file:

    - the quantizer must hold cells 0..n-1 exactly once (the literal
      scorers name a cell by its list position), else it raises
      instead of renumbering cells;
    - no codebook rows means a raw IVF index;
    - a file without exactly one meta row (the residual flag) raises.

    The returned dict is shared with every later caller: read it,
    never change it."""
    key = (fs.canonical(path), man["artifacts"])
    with _memo_lock:
        hit = _memo.get(key)
        if hit is not None:
            _memo.move_to_end(key)
            return hit
    src = f"{path}/{man['artifacts']}"
    rows: "dict[str, list]" = {
        n: [] for n in ("centroids", "codebooks", "meta", "anchors")
    }
    for r in spark.read.schema(_ARTIFACTS_SCHEMA).parquet(src).collect():
        rows[r["_sidecar"]].append(r)

    cent = sorted(rows["centroids"], key=lambda r: r["cell"])
    cells = [r["cell"] for r in cent]
    if not cent or cells != list(range(len(cent))):
        raise ValueError(
            f"the quantizer in {src} must hold cells 0..n-1 exactly "
            f"once; {len(cent)} rows, first cells {cells[:8]}"
        )
    if len(rows["meta"]) != 1:
        raise ValueError(
            f"{src} must hold one meta row; it holds {len(rows['meta'])}"
        )
    books: "list[list]" = []
    for r in sorted(rows["codebooks"], key=lambda r: (r["j"], r["code"])):
        books.extend([] for _ in range(r["j"] + 1 - len(books)))
        books[r["j"]].append(r["vec"])
    return _memo_put(key, _artifact_entry(
        [r["vec"] for r in cent], books, rows["meta"][0]["residual"],
        [(r["cell"], r["vec"]) for r in rows["anchors"]],
    ))


def _load_index(spark, path: str) -> dict:
    """The head version of the index at ``path`` (``head``: the leaves
    serving reads) and the frozen artifacts it names
    (:func:`_index_artifacts`): reading the head is text, no job, and
    the artifacts come from the memo after a process's first use."""
    from pandabase_spark.fs import HadoopFS

    fs = HadoopFS(spark)
    man = _index_head(fs, path)
    return {"head": man, **_index_artifacts(spark, fs, path, man)}


def _index_codebooks(index: dict, path: str) -> "list[list[list[float]]]":
    """The loaded codebooks of an IVFPQ index; a raw IVF index has
    none, and PQ serving or encoding against it is a caller error."""
    if index["codebooks"] is None:
        raise ValueError(f"no codebooks: {path} is not an IVFPQ index")
    return index["codebooks"]


def append_ivfpq_index(
    new_vectors: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    txn: "tuple[str, int] | None" = None,
) -> None:
    """Incremental adds against the FROZEN IVFPQ index (FAISS
    add-after-train for the composed artifact): the batch is
    cell-assigned against the persisted quantizer AND encoded against
    the persisted codebooks — O(batch), no retrain, no rewrite — and
    lands through the same :func:`_append_index_batch` commit as the
    raw index: a ``txn=(app, batch_id)`` batch at or below the app's
    committed watermark is a no-op that runs no Spark job, untagged
    appends are at-least-once. The artifacts come from the memo
    (:func:`_index_artifacts`), so a warm append runs only the leaf
    write."""

    def encode(index: dict) -> DataFrame:
        books = _index_codebooks(index, path)
        staged = ivf_assign(new_vectors, index["centroids"], vec_col=vec_col)
        if index["residual"]:
            staged = _subtract_cell_anchor(staged, index["anchors"], vec_col)
        return pq_encode(
            staged, books, vec_col=vec_col
        ).select(F.col(id_col), "cell", "pq_code")

    _append_index_batch(new_vectors, path, txn, encode)


def ann_topk_ivfpq_indexed(
    spark,
    path: str,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: "str | None" = None,
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Serve IVFADC top-k from a :func:`write_ivfpq_index` index: read
    the head and take its artifacts from the memo (:func:`_load_index`;
    only a process's first use of an index loads them, in one job),
    expand each query's ``nprobe`` nearest cells on the driver through
    the SHARED :func:`_expand_probes` (same quantizer scoring as the
    raw-vector serve path; no job for a driver-local query frame), and
    score ONLY the head version's leaves in the probed cells
    (planning-time ``cell IN`` pruning) with the production
    :func:`_adc_expr` — per candidate m code lookups over
    ~16-32×-compressed state, never a raw vector. The probes ride the
    plan as a literal, so a warm single-vector query runs two jobs:
    the scan and the top-k window. This is the 100 TB query shape:
    index IO ≈ (nprobe/n_cells) × (compressed corpus). With lossless
    codebooks and ``nprobe == n_cells`` the result provably equals
    brute-force L2 top-k (the ``ann_topk_ivfpq_indexed_full`` driver
    gate); the lossy configurations share every line and carry the
    pytest persisted==in-memory pin plus the family recall floors.
    Returns (query_id, vec_id, approx_dist, rank)."""
    from pyspark.sql.window import Window

    qid = query_id_col or id_col
    index = _load_index(spark, path)
    books = _index_codebooks(index, path)
    q = queries.select(
        F.col(qid).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    # residual encoding (the true IVFADC): the stored codes quantize
    # x − a[cell], and ||q − x|| == ||(q − a) − (x − a)|| under any
    # common per-cell shift, so _expand_probes ships each probe's query
    # already shifted by the SAME persisted anchor
    probed = _expand_probes(spark, path, index, q, nprobe)
    if probed is None:
        return _empty_topk(spark, q, index["head"], id_col, "approx_dist")
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist").asc(), F.col(id_col)
    )
    return (
        probed
        .withColumn("approx_dist", F.round(_adc_expr(books), 6))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "approx_dist", "rank")
    )


def _value_sql(v, dtype: T.DataType) -> str:
    """SQL text of the constant ``v`` typed ``dtype``. A string travels
    as its UTF-8 bytes (``X'..'``), so no quote or backslash in it is
    ever parsed; a number or boolean as its Python text cast to the
    type; anything else as Spark's own literal text."""
    t = dtype.simpleString()
    if v is None:
        return f"cast(NULL as {t})"
    if isinstance(dtype, T.StringType):
        return f"cast(X'{v.encode('utf-8').hex()}' as {t})"
    if isinstance(dtype, (T.NumericType, T.BooleanType)):
        return f"cast('{v}' as {t})"
    return F.lit(v).cast(dtype)._jc.expr().sql()


def _expand_probes(
    spark, path: str, index: dict, q: DataFrame, nprobe: int
) -> "DataFrame | None":
    """Shared probe expansion of the persisted-index serve paths
    (:func:`ann_topk_indexed` and :func:`ann_topk_ivfpq_indexed` —
    one definition so the quantizer scoring can never diverge). The
    (query_id, _qvec) rows are collected once: no job for a
    driver-local query frame, one for any other. Each query's
    ``nprobe`` nearest cells are picked in NumPy by :func:`_folded`,
    which sums the dots in :func:`_fold`'s order, ties to the lower
    cell as in :func:`_with_cells_topn`: the selection is bit-identical
    to the Spark scorer's. A residual index shifts each probe's query
    by its cell's anchor here, with the persisted doubles (a cell
    without one shifts by zero, as :func:`_subtract_cell_anchor`).

    Returns the head version's leaves in the probed cells (the
    planning-time ``cell IN`` predicate), one row per (leaf row,
    probing query) with ``query_id`` and ``_qvec`` attached, or None
    when no listed leaf lies in a probed cell. The probes reach the
    executors as one :func:`_literal` ``map<cell, array<struct<_qi,
    _qvec>>>`` ``inline``d on the scan: no join, so no broadcast job
    (a SQL array expression of that size took 13 s to analyze for 400
    queries × 4 probes × 64 dims on a 4-core box). ``_qvec``
    keeps the query frame's type (``array<double>`` once shifted) and
    ``query_id`` its column's, looked up by position ``_qi`` in a
    literal array, so scoring sees the values it would see on the
    frame itself.

    A null, wrong-length or non-finite query vector raises
    ``ValueError`` naming its query id: it has no nearest cells, and
    NaN or infinity has no literal."""
    if nprobe < 0:
        raise ValueError(f"nprobe must be >= 0, got {nprobe}")
    rows = q.collect()
    C = np.array(index["centroids"], dtype=np.float64)
    dim = C.shape[1]
    Q = np.zeros((len(rows), dim))
    for i, r in enumerate(rows):
        v, bad = r["_qvec"], None
        if v is None:
            bad = "is null"
        elif len(v) != dim:
            bad = f"has {len(v)} components; the index has {dim}"
        else:
            Q[i] = np.array(v, dtype=np.float64)  # a null element reads NaN
            if not np.isfinite(Q[i]).all():
                bad = "has a null or non-finite component"
        if bad:
            raise ValueError(f"query {r['query_id']!r}: its vector {bad}")
    nearest = np.argsort(
        -_folded(Q, C, sqdist=False), axis=1, kind="stable"
    )[:, :nprobe]
    anchors = dict(index["anchors"] or [])
    per_cell: "dict[int, list[dict]]" = {}
    for i, (x, cells) in enumerate(zip(Q, nearest.tolist())):
        for c in cells:
            a = anchors.get(c)
            vec = x if a is None else x - np.array(a)
            per_cell.setdefault(c, []).append(
                {"_qi": i, "_qvec": vec.tolist()}
            )
    data = _read_leaves(spark, path, index["head"], cells=sorted(per_cell))
    if data is None:
        return None
    vec_t = (
        "array<double>" if index["residual"]
        else q.schema["_qvec"].dataType.simpleString()
    )
    probes = "array<struct<_qi:int, _qvec:{}>>"
    probes = _literal(
        per_cell, f"map<int, {probes.format(vec_t)}>",
        parsed=f"map<string, {probes.format('array<double>')}>",
    )
    id_t = q.schema["query_id"].dataType
    ids = "array(" + ", ".join(_value_sql(r["query_id"], id_t) for r in rows) + ")"
    return (
        data.select("*", F.expr(f"inline(element_at({probes}, cell))"))
        .withColumn("query_id", F.expr(f"element_at({ids}, _qi + 1)"))
        .drop("_qi")
    )


def _empty_topk(spark, q, man, id_col, score_col):
    """The zero-probed-leaves result, shared by both persisted serve
    paths: no listed leaf lies in a probed cell (an empty query set,
    only empty cells probed, or an index built from an EMPTY corpus).
    The frame is built directly, typed from the version's data schema:
    zero listing, zero scan, zero jobs."""
    return local_frame(
        spark,
        [],
        T.StructType(
            [
                T.StructField("query_id", q.schema["query_id"].dataType),
                T.StructField(
                    id_col,
                    T.StructType.fromDDL(man["schema"])[id_col].dataType,
                ),
                T.StructField(score_col, T.DoubleType()),
                T.StructField("rank", T.IntegerType()),
            ]
        ),
    )


def compact_index(
    spark,
    path: str,
    *,
    keep_last: int = 2,
    retention_s: float = 0.0,
) -> dict:
    """Coalesce a persisted index's accumulated leaves — the
    long-horizon maintenance the streaming ingest story needs: every
    append lands one ``txn=<label>/cell=<c>`` leaf per touched cell,
    so a month of 1-minute triggers leaves ~43k leaves per cell,
    degrading scan planning on the serve path. This is the O(live
    leaves) fix, where a retrain+rewrite would be O(corpus): fold the
    head version's leaves into ONE new leaf per cell, leaving the
    layout (and therefore cell pruning, serve code, and append code)
    untouched. Works on both index kinds — raw IVF and IVFPQ share the
    layout, and compaction never looks at the row payload.

    What gets folded: every listed leaf except each ``txn`` app's
    newest ``keep_last`` batches — the build's leaf, untagged appends
    and earlier folds included. Fewer than two such leaves is a no-op.
    The fold is one scan of the exact leaf paths and one write, landed
    under a fresh label, then committed by claiming a version that
    lists it in place of the folded leaves. A lost claim re-reads the
    head and claims again only if every folded leaf is still live
    (appends commute with a fold); otherwise it raises
    ``ConcurrentWriteError``. The ``txn`` watermarks are untouched, so
    a replayed batch at or below its app's watermark stays a no-op
    whether or not its leaf was folded.

    Every run then deletes what no reader can still use: label
    directories and artifacts files that the head does not list,
    that no version listed within the last ``retention_s``
    seconds (a reader holding that version may still scan them) and
    that were written more than ``retention_s`` ago (a concurrent
    append may be about to claim them). The default (0) deletes at
    once — correct when no query or write runs concurrently (the
    paused-stream maintenance window). For online use, size
    ``retention_s`` above the longest query, like Delta's retention
    window. A run after a crash at any point converges: a crashed
    fold's leaves were never listed, and the re-run folds again.

    Returns ``{"gen", "folded_labels", "leaves_before",
    "leaves_after"}``: the head version after the run, the number of
    leaves folded (0: nothing was written), and the (cell, leaf) pairs
    the head listed before and after."""
    from pandabase_spark.fs import HadoopFS
    from pandabase_spark.io import ConcurrentWriteError

    fs = HadoopFS(spark)
    man = _index_head(fs, path)
    newest: "dict[str, list]" = {}
    for lb, leaf in man["leaves"].items():
        if leaf["app"] is not None:
            newest.setdefault(leaf["app"], []).append((leaf["batch"], lb))
    keep = {
        lb
        for xs in newest.values()
        for _, lb in sorted(xs)[max(0, len(xs) - keep_last):]
    }
    fold = sorted(set(man["leaves"]) - keep)
    before = _pairs(man)
    if len(fold) < 2:
        fold = []
    else:
        label = _label("compact")
        cells = _land(
            fs, _read_leaves(spark, path, man, labels=set(fold)), path, label
        )

        def change(head: dict) -> dict:
            if not set(fold) <= set(head["leaves"]):
                raise ConcurrentWriteError(
                    f"compaction of {path} lost: a concurrent write "
                    "removed leaves it folded. Re-run it."
                )
            leaves = {
                lb: x for lb, x in head["leaves"].items() if lb not in fold
            }
            leaves[label] = {"cells": cells, "app": None, "batch": None}
            return {**head, "leaves": leaves}

        man = _commit(fs, path, man, change)
    _vacuum(fs, path, man, retention_s)
    return {
        "gen": man["v"], "folded_labels": len(fold),
        "leaves_before": before, "leaves_after": _pairs(man),
    }


def _pairs(man: dict) -> int:
    """The (cell, leaf) pairs version ``man`` lists."""
    return sum(len(leaf["cells"]) for leaf in man["leaves"].values())


def _vacuum(fs, path: str, man: dict, retention_s: float) -> None:
    """Delete the label directories and artifacts files that no reader
    of the index can still use (see :func:`compact_index`), from one
    listing of ``data/`` and one of the index directory: one delete
    per dead label, however many cells it holds."""
    horizon = time.time() - retention_s
    live = set(man["leaves"]) | {man["artifacts"]}
    cur = man
    # a version superseded inside the window may still be in a reader's
    # hands: keep what it lists
    while cur["ts"] > horizon and cur["v"] > 1:
        cur = kt_log.read_version(fs, path, cur["v"] - 1)
        if cur is None:
            break
        live |= set(cur["leaves"])

    def drop(p: str) -> None:
        if retention_s <= 0 or fs.mtime(p) <= horizon:
            fs.delete(p)

    for d in fs.list_dirs(f"{path}/data"):
        label = d[len("txn="):]
        if d.startswith("txn=") and label not in live:
            drop(_leaf(path, label))
    for d in fs.list_dirs(path):
        if d.startswith("artifacts-") and d not in live:
            drop(f"{path}/{d}")


def ann_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: "str | None" = None,
    k: int = 10,
    nprobe: int = 3,
) -> DataFrame:
    """Serve approximate top-k from a :func:`write_ivf_index` index:
    take the quantizer the head names from the memo
    (:func:`_load_index`), pick each query's ``nprobe`` nearest cells
    on the driver (:func:`_expand_probes`), and scan ONLY the head
    version's leaves in those cells — the probed cell set becomes a
    literal ``cell IN (...)`` predicate (<= n_queries x nprobe ints),
    so pruning happens at PLANNING time and unprobed directories are
    never opened, and the probes themselves ride the plan as a
    literal (a warm query runs the scan and the top-k window only). A
    probed cell the version lists no leaf for (the quantizer keeps
    centroids no vector was assigned to) costs nothing. Scoring
    inside the probed cells is :func:`ann_topk_ivf`'s exact cosine;
    with the same quantizer the two return IDENTICAL rows (pinned in
    pytest) — persistence changes where the inverted lists live,
    never the answer. Returns (query_id, vec_id, cosine, rank)."""
    from pyspark.sql.window import Window

    qid = query_id_col or id_col
    index = _load_index(spark, path)
    q = queries.select(
        F.col(qid).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    probed = _expand_probes(spark, path, index, q, nprobe)
    if probed is None:
        return _empty_topk(spark, q, index["head"], id_col, "cosine")
    scored = probed.select(
        "query_id",
        F.col(id_col),
        cosine_similarity(F.col(vec_col), F.col("_qvec")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "cosine", "rank")
    )

# ---------------------------------------------------------------------------
# Product quantization (PQ): compressed approximate distances
# ---------------------------------------------------------------------------

def _adc_expr(codebooks: "list[list[list[float]]]") -> Column:
    """Asymmetric-distance expression: dist² ≈ Σ_j ||q_j −
    C_j[code_j]||² evaluated against the staged ``_qvec`` (exact
    query) and ``pq_code`` (compressed corpus row) columns, with the
    codebooks inlined as a literal. One definition serves both the
    PQ-exhaustive and the IVFADC scorer — the formula can never
    diverge between them."""
    m = len(codebooks)
    d = len(codebooks[0][0])
    books = _literal(codebooks, "array<array<array<double>>>")
    sub = _fold(
        f"slice(`_qvec`, _pb_j * {d} + 1, {d})",
        f"element_at(element_at({books}, _pb_j + 1), "
        "element_at(`pq_code`, _pb_j + 1) + 1)",
        _SQDIST,
    )
    return F.expr(
        f"aggregate(sequence(0, {m - 1}), 0D, "
        f"(_pb_a, _pb_j) -> _pb_a + {sub})"
    )


def pq_codebooks(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    sample_mod: int | None = None,
) -> "list[list[list[float]]]":
    """Train product-quantization codebooks (Jégou et al. 2011): the
    vector is split into ``m`` equal subspaces and each gets its own
    ``k``-centroid L2 k-means — a vector then compresses to ``m``
    small codes (m bytes at k<=256) instead of d floats, a ~32×
    memory reduction at the driver-data shape (64 floats → 8 codes).

    Returns ``codebooks[j][c] = subcentroid`` as plain Python lists
    (m·k·(d/m) floats — an index artifact, deliberately driver-side;
    each subspace's book reaches Spark as one literal
    (:func:`_literal`), the carrier of :func:`ivf_centroids`).

    One collect, then NumPy on the driver, sampled and capped as in
    :func:`ivf_centroids` with ``k`` in place of ``n_cells``. The first
    ``k`` rows' subvectors seed; each Lloyd step assigns per subspace
    by min squared distance, summed in the Spark encoder's order (ties
    to the lowest code), and takes exact per-code means; an empty code
    keeps its subcentroid.
    """
    X = _train_rows(
        corpus, id_col=id_col, vec_col=vec_col, sample_mod=sample_mod,
        n_centroids=k,
    )
    return _pq_kmeans(X, m, k, iters)


def pq_encode(
    df: DataFrame,
    codebooks: "list[list[list[float]]]",
    *,
    vec_col: str = "embedding",
    out: str = "pq_code",
) -> DataFrame:
    """Attach the PQ code (``array<int>`` of length m) — per subspace
    the argmin-distance codebook entry, one ``transform`` over that
    subspace's codebook as one literal (ties to the lowest code), no
    shuffle. This is the INGEST-time pass: store the codes, drop
    (or cold-store) the raw vectors, and scoring reads m ints per row
    instead of d floats."""
    d = len(codebooks[0][0])
    subs = {
        f"_pb_sv{j}": F.slice(vec_col, j * d + 1, d)
        for j in range(len(codebooks))
    }
    dists = {
        f"_pb_d{j}": F.expr(_scores(sv, book, _SQDIST))
        for j, (sv, book) in enumerate(zip(subs, codebooks))
    }
    codes = F.array(*[
        (F.array_position(F.col(c), F.array_min(c)) - 1).cast("int")
        for c in dists
    ])
    return (
        df.withColumns(subs).withColumns(dists).withColumn(out, codes)
        .drop(*subs, *dists)
    )


def ann_topk_pq(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    k: int = 10,
    m: int = 8,
    n_codes: int = 16,
    iters: int = 2,
    sample_mod: int | None = None,
    codebooks: "list[list[list[float]]] | None" = None,
) -> DataFrame:
    """Top-k by PQ asymmetric distance (ADC): the corpus is scored
    through its compressed codes — per pair, ``m`` codebook lookups
    instead of a d-dim float fold, over ~32× less corpus state.

    Scoring keeps the QUERY exact (asymmetric): dist² ≈
    Σ_j ||q_j − C_j[code_j]||², built by :func:`_adc_expr` (one
    server-parsed expression with the codebooks inlined — shared with
    the IVFADC scorer). Like :func:`cosine_topk`, the query set is
    broadcast and the corpus scanned once; compose with the IVF cell
    filter for the probe-a-fraction regime at scale. Returns
    (query_id, vec_id, approx_dist, rank) — ranks are approximate by
    construction (quantization error), the recall contract is pinned
    in pytest.
    """
    from pyspark.sql.window import Window

    qid = query_id_col or id_col
    if codebooks is None:
        codebooks = pq_codebooks(
            corpus, id_col=id_col, vec_col=vec_col, m=m, k=n_codes,
            iters=iters, sample_mod=sample_mod,
        )
    encoded = pq_encode(corpus, codebooks, vec_col=vec_col).select(
        F.col(id_col).alias("vec_id"), "pq_code"
    )
    q = queries.select(
        F.col(qid).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist").asc(), F.col("vec_id")
    )
    return (
        encoded.crossJoin(F.broadcast(q))
        .withColumn("approx_dist", F.round(_adc_expr(codebooks), 6))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "approx_dist", "rank")
    )


def pq_codebooks_exact(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    m: int = 8,
    max_codes: int = 4096,
) -> "list[list[list[float]]]":
    """Codebooks that make PQ coding provably LOSSLESS on ``corpus``:
    each subspace's codebook enumerates the DISTINCT subvectors that
    actually occur there, so :func:`pq_encode` assigns every row its
    own subvector (encode error exactly 0 — distinct entries can't
    tie the 0-distance argmin) and :func:`_adc_expr`'s asymmetric
    distance degenerates to the EXACT squared L2 distance. Top-k
    through :func:`ann_topk_pq` with these codebooks must therefore
    hash-match brute force row for row — the PQ family's value-exact
    driver gate (the analogue of ``ann_topk_ivf_full_probe`` for the
    IVF family), exercising the production ``pq_encode``/``_adc_expr``
    scoring path end to end. Production codebooks keep coming from
    :func:`pq_codebooks` (Lloyd) with pytest recall floors; on a
    corpus whose distinct subvectors are all seeded, Lloyd reaches
    this same fixed point (pinned in tests).

    Honest scale contract: ONE distinct-aggregate job enumerates all
    ``m`` subspaces (the m slices explode to (subspace, subvector)
    rows before the distinct — no per-subspace rescan), and the
    result is a driver-side index artifact like ``ivf_centroids``'s,
    bounded by ``max_codes`` per subspace — exceeding the cap raises
    instead of silently building an unbroadcastable literal, because
    lossless PQ only makes sense for low-cardinality (quantized /
    categorical) vector columns; real-valued corpora belong on
    :func:`pq_codebooks`."""
    dim_row = corpus.select(F.size(vec_col)).first()
    if dim_row is None:
        raise ValueError("cannot enumerate codebooks on an empty corpus")
    dim = dim_row[0]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    dd = (
        corpus.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("j"),
                            F.slice(vec_col, j * d + 1, d)
                            .cast("array<double>")
                            .alias("sv"),
                        )
                        for j in range(m)
                    ]
                )
            ).alias("s")
        )
        .select("s.j", "s.sv")
        .distinct()
        .persist()
    )
    try:
        # Bounded-driver contract (r11 advice, medium): enforce the
        # cardinality cap DISTRIBUTEDLY before any subvector reaches
        # the driver — on a real-valued column the distinct frame is
        # ~m×n rows, and collecting it just to raise would be exactly
        # the unbounded pull the cap exists to prevent. One m-row
        # aggregate over the persisted distinct, then the collect.
        counts = {
            r["j"]: r["n"]
            for r in dd.groupBy("j").agg(F.count("*").alias("n")).collect()
        }
        for j in range(m):
            n = counts.get(j, 0)
            if n > max_codes:
                raise ValueError(
                    f"subspace {j} has {n} distinct subvectors "
                    f"(> max_codes={max_codes}); lossless PQ is for "
                    f"low-cardinality vector columns — use pq_codebooks"
                )
            if not n:
                raise ValueError(f"subspace {j} has no subvectors")
        rows = dd.collect()
    finally:
        dd.unpersist()
    books: "list[list[list[float]]]" = [[] for _ in range(m)]
    for r in rows:
        books[r["j"]].append([float(x) for x in r["sv"]])
    for book in books:
        book.sort()
    return books


def ann_topk_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 8,
    n_codes: int = 16,
    iters: int = 2,
    sample_mod: int | None = None,
    centroids: "list[list[float]] | None" = None,
    codebooks: "list[list[list[float]]] | None" = None,
) -> DataFrame:
    """The full FAISS IVFADC composition: an IVF coarse quantizer
    bounds WHICH rows are scored (~nprobe/n_cells of the corpus per
    query) and product-quantization codes bound WHAT each scoring
    touches (m code lookups over ~16-32×-compressed state instead of
    a d-dim float fold). This is the billion-scale ANN recipe: at
    100 TB the encoded corpus is cell-partitioned at ingest
    (``ivf_assign`` + ``pq_encode``, both narrow projections), so a
    query plans a partition-pruned read of its probed cells and
    never touches raw vectors.

    Both index artifacts are deterministic (hash-seeded k-means) and
    prebuildable via ``centroids=`` / ``codebooks=`` — the ingest-time
    pattern; recall composes the two stages' floors and is pinned in
    pytest. The cell-probe expansion reuses :func:`ann_topk_ivf`'s
    struct-sort idiom and the scorer is the shared :func:`_adc_expr`.
    Returns (query_id, vec_id, approx_dist, rank)."""
    from pyspark.sql.window import Window

    qid = query_id_col or id_col
    if centroids is None and codebooks is None:
        # one collect serves both trainers (see write_ivfpq_index)
        X = _train_rows(
            corpus, id_col=id_col, vec_col=vec_col, sample_mod=sample_mod,
            n_centroids=max(n_cells, n_codes),
        )
        centroids = _spherical_kmeans(X, n_cells, iters)
        codebooks = _pq_kmeans(X, m, n_codes, iters)
    if centroids is None:
        centroids = ivf_centroids(
            corpus, id_col=id_col, vec_col=vec_col,
            n_cells=n_cells, iters=iters, sample_mod=sample_mod,
        )
    if codebooks is None:
        codebooks = pq_codebooks(
            corpus, id_col=id_col, vec_col=vec_col, m=m, k=n_codes,
            iters=iters, sample_mod=sample_mod,
        )
    encoded = pq_encode(
        ivf_assign(corpus, centroids, vec_col=vec_col),
        codebooks,
        vec_col=vec_col,
    ).select(F.col(id_col).alias("vec_id"), "cell", "pq_code")
    q = queries.select(
        F.col(qid).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    probes = _probe_cells(q, centroids, nprobe)
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist").asc(), F.col("vec_id")
    )
    return (
        encoded.join(F.broadcast(probes), on="cell")
        .withColumn("approx_dist", F.round(_adc_expr(codebooks), 6))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "approx_dist", "rank")
    )
