"""Product-quantization codebook training — the reference's "coding"
(C3, src/fenix/io/coder/coder.py:94-127).

The reference trains ``num_codebooks`` k-means codebooks over equal
slices of the vector with a torch mini-batch Lloyd loop, vmapped on one
node. Here each slice gets a distributed ``pyspark.ml.clustering.KMeans``
fit (seeded) — the scalable equivalent: training data never leaves the
executors, only k·D centroid doubles come back to the driver.

The trained coding is persisted as a PLAIN PARQUET TABLE
``{codebook, cell, centroid, metric, codebook_size, num_codebooks}``
(FIXTURES.md §2, ``CODING_SCHEMA``) instead of a torch pickle
(coder.py:120-125) — readable by Spark, DuckDB, and the oracle, which
makes code ASSIGNMENT an independently checkable query.

In memory a coding has ONE form, like the reference's in-process
codebook tensor (coder.py:68-76): a driver-local frame built from an
Arrow table (``coding_from_numpy`` for a centroid array,
``read_coding`` for a stored coding directory). Its plan is a
``LocalTableScan``, so ``coding_to_numpy`` collects it without a Spark
job.

Joint cell id semantics mirror coder.py:171-181 exactly: with n
codebooks of k cells, id = Σ_j cell_j · k^(n−1−j) (base-k digits,
codebook 0 most significant); a joint cell's score for a query is the
SUM of per-codebook distances.

``rank_cells`` scores cells with the driver fold of ``functions.metrics``
(Spark's own ``aggregate`` order) and sums them left to right, as the
SQL scorers ``index.probe_cells_expr``/``probe_cells_join`` do, so
single-target and batched searches rank cells from the same bits.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fenix_spark.functions.metrics import fold_distance

CODING_SCHEMA = pa.schema(
    [
        ("codebook", pa.int32()),
        ("cell", pa.int32()),
        ("centroid", pa.list_(pa.float64())),
        ("metric", pa.string()),
        ("codebook_size", pa.int32()),
        ("num_codebooks", pa.int32()),
    ]
)


@dataclass(frozen=True)
class CodingConfig:
    """Mirrors the reference config (coder.py:24-29); batch_size and
    num_epochs belong to the torch loop and map to KMeans maxIter."""

    metric: str = "l2"
    codebook_size: int = 8
    num_codebooks: int = 2
    max_iter: int = 20
    seed: int = 42


def sub_vector(column: str, j: int, sub_dim: int):
    """Slice j of the vector column (1-based F.slice), cast to double."""
    return F.slice(F.col(column), j * sub_dim + 1, sub_dim).cast("array<double>")


def train_coding(
    df: DataFrame, column: str, config: CodingConfig, dim: int | None = None
) -> DataFrame:
    """Fit one KMeans per sub-vector; return the coding table.

    Uses Spark ML's distributed Lloyd iterations — each fit is a few
    passes over the (cached) slice projection, which is the right shape
    at any scale. KMeans minimizes euclidean WCSS regardless of the
    coding metric (like classic PQ); the coding METRIC governs
    assignment and probe scoring, matching the reference's behavior of
    carrying ``metric`` in the coding config (coder.py:24-29).

    Rows with a null vector or element are left out (null vectors match
    nothing, like ``knn``); a column with no other row raises.
    """
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # forall is null on a null array, false with a null element
    df = df.where(F.forall(column, lambda x: x.isNotNull()))
    none_left = f"train_coding: column {column!r} has no vector without a null"
    if dim is None:
        first = df.select(column).head()
        if first is None:
            raise ValueError(none_left)
        dim = len(first[0])
    n, k = config.num_codebooks, config.codebook_size
    if dim % n:
        raise ValueError(f"dim {dim} not divisible by num_codebooks {n}")
    sub_dim = dim // n
    cents = np.zeros((n, k, sub_dim))

    slices = df.select(
        *[array_to_vector(sub_vector(column, j, sub_dim)).alias(f"sub{j}") for j in range(n)]
    ).cache()
    try:
        # materialize the cache ONCE so the concurrent fits below read
        # stored blocks instead of racing to compute the projection
        if slices.count() == 0:
            raise ValueError(none_left)

        def fit_one(j: int) -> None:
            km = KMeans(
                k=k,
                seed=config.seed + j,
                maxIter=config.max_iter,
                featuresCol=f"sub{j}",
                distanceMeasure="cosine" if config.metric == "cosine" else "euclidean",
            )
            model = km.fit(slices)
            # Stable cell numbering: the reference's cell order is an
            # artifact of torch init; ours sorts centroids
            # lexicographically so retraining is reproducible.
            found = sorted(tuple(c) for c in model.clusterCenters())
            cents[j, : len(found)] = found

        # The n per-codebook fits are INDEPENDENT jobs over the same
        # cached slices — run them concurrently so each fit's stragglers
        # back-fill with the next fit's tasks (guide §2.6). Each fit is
        # seeded and its centroids sorted, so results are byte-identical
        # to the sequential order.
        with ThreadPoolExecutor(max_workers=min(n, 4)) as pool:
            list(pool.map(fit_one, range(n)))
    finally:
        slices.unpersist()
    return coding_from_numpy(df.sparkSession, cents, config.metric)


def coding_from_numpy(spark: SparkSession, cents: np.ndarray, metric: str) -> DataFrame:
    """The coding frame of an (n, k, sub_dim) centroid array: one row
    per (codebook, cell), built from an Arrow table on the driver, so
    its plan is a ``LocalTableScan`` and collecting it runs no Spark
    job. Inverse of ``coding_to_numpy``."""
    n, k, _ = cents.shape
    table = pa.table(
        [
            np.repeat(np.arange(n, dtype="int32"), k),
            np.tile(np.arange(k, dtype="int32"), n),
            list(np.asarray(cents, dtype="float64").reshape(n * k, -1)),
            [metric] * (n * k),
            np.full(n * k, k, dtype="int32"),
            np.full(n * k, n, dtype="int32"),
        ],
        schema=CODING_SCHEMA,
    )
    return spark.createDataFrame(table)


def read_coding(spark: SparkSession, path: str) -> DataFrame:
    """A stored coding directory as a driver-local frame (plan:
    ``LocalTableScan``). The coding is n·k rows, so pyarrow reads the
    parquet files on the driver and no Spark job lists or scans them."""
    import pyarrow.parquet as pq

    return spark.createDataFrame(pq.read_table(path))


def coding_to_numpy(coding: DataFrame) -> tuple[np.ndarray, str, int, int]:
    """Collect a coding table to a (n, k, sub_dim) centroid array +
    (metric, k, n). Codebooks are tiny by design (n·k rows) — this is
    the one intentional driver-side materialization, same as the
    reference loading the codebook into process memory (coder.py:68-76).
    Codings from ``train_coding``, ``coding_from_numpy`` and
    ``read_coding`` are driver-local frames, so the collect runs no
    Spark job; any other coding frame is collected like any frame.
    """
    return _decode(coding.collect())


def read_centroids(path: str) -> tuple[np.ndarray, str, int, int]:
    """``coding_to_numpy`` of a stored coding directory, read with
    pyarrow on the driver — no Spark frame, no py4j round trip."""
    import pyarrow.parquet as pq

    return _decode(pq.read_table(path).to_pylist())


def _decode(rows) -> tuple[np.ndarray, str, int, int]:
    """(cents, metric, k, n) of coding rows (``Row``s or dicts)."""
    metric = rows[0]["metric"]
    k = rows[0]["codebook_size"]
    n = rows[0]["num_codebooks"]
    sub_dim = len(rows[0]["centroid"])
    cents = np.zeros((n, k, sub_dim), dtype="float64")
    for r in rows:
        cents[r["codebook"], r["cell"]] = r["centroid"]
    return cents, metric, k, n


def _per_cell(fold, cents: np.ndarray, target, metric: str) -> np.ndarray:
    """``fold(metric, u, v)`` of every centroid of an (n, k, sub_dim)
    array against its codebook's slice of ``target``, as an (n, k)
    array: ONE fold over the sub-dimension, step i taking coordinate i
    of all n·k centroids and of their sub-queries. A target shorter
    than n·sub_dim raises."""
    n, k, sub_dim = cents.shape
    q = np.asarray(target, dtype="float64")
    if q.size < n * sub_dim:
        raise ValueError(f"target has {q.size} elements; the coding needs {n * sub_dim}")
    u = cents.transpose(2, 0, 1).reshape(sub_dim, n * k)
    v = np.repeat(q[: n * sub_dim].reshape(n, sub_dim).T, k, axis=1)
    return fold(metric, u, v).reshape(n, k)


# Scoring all k^n joint cells allocates k^n float64s — ideal at the
# reference config (64 cells), catastrophic at production PQ shapes
# (16^8 cells = 34 GB on the driver). Above this bound a full ranking
# raises; a ranking with ``limit`` keeps at most limit·k cells a step.
_MAX_DENSE_CELLS = 1 << 22


def rank_cells(
    coding: DataFrame, target, metric: str | None = None, limit: int | None = None
) -> list[int]:
    """Rank joint cells for a query by the sum of per-codebook centroid
    distances — the reference's joint-cell scoring (coder.py:171-186).
    Returns joint ids best-first (ties by id, unlike the reference's
    unstable argsort); ``rank_centroids`` over the collected coding."""
    cents, coding_metric, _k, _n = coding_to_numpy(coding)
    return rank_centroids(cents, target, metric or coding_metric, limit)


def rank_centroids(cents: np.ndarray, target, metric: str, limit: int | None = None) -> list[int]:
    """``rank_cells`` over an already-decoded (n, k, sub_dim) centroid
    array, from ``fold_distance`` (the bits the SQL scorers compute),
    through the beam fold ``_beam_rank`` alone. ``limit=None`` ranks all
    k^n cells (the beam then prunes nothing), up to ``_MAX_DENSE_CELLS``.
    Under cosine a zero-norm sub-query or centroid scores NaN and ranks
    last."""
    n, k, _ = cents.shape
    if limit is None and k**n > _MAX_DENSE_CELLS:
        raise ValueError(
            f"ranking all {k**n:,} joint cells would allocate "
            f"{k**n * 8 / 2**30:.0f} GiB on the driver; pass limit= "
            "(e.g. the probe count) for the beam path"
        )
    per_codebook = _per_cell(fold_distance, cents, target, metric)
    return _beam_rank(per_codebook, k**n if limit is None else limit)


def _beam_rank(per_codebook: np.ndarray, limit: int) -> list[int]:
    """Top-``limit`` (score, joint) fold over the (n, k) per-codebook
    distances, codebook 0 most significant — ``probe_cells_join``'s SQL
    fold step for step (shortlists of min(k, limit) cells, left-to-right
    float adds from 0.0, Spark's order: NaN last, -0.0 == 0.0, ties by
    joint id), so both return bit-identical rankings. With ``limit`` ≥
    k^n nothing is pruned and it is the full ranking (the twin of
    ``index.probe_cells_expr``); with less it is that ranking's prefix
    up to rounding: two prefix scores an ulp apart can round to one
    sum, where the full order lets a pruned lower joint id in. With
    n = 2 and ``limit`` ≥ k nothing is pruned early."""
    k = per_codebook.shape[1]
    score, joint = np.zeros(1), np.zeros(1, dtype="int64")
    for d in per_codebook:
        short = np.lexsort((np.arange(k), d))[: min(k, limit)]
        score = (score[:, None] + d[short]).ravel()
        joint = (joint[:, None] * k + short).ravel()
        keep = np.lexsort((joint, score))[:limit]
        score, joint = score[keep], joint[keep]
    return joint.tolist()
