"""KNN search operators — the reference's flagship query surface.

- ``knn``           = C1 brute-force search (ref: src/fenix/io/index/
  index.py:81-170 with coding=None): [filter] → distance column →
  [select] → top-k.
- ``probe_filter``  = the IVF cell-pruning predicate used by C2
  (ref: index.py:113-126); composed by ``fenix_spark.operators.index``.
- ``similarity_join`` = batch KNN: every left row → top-k nearest right
  rows (not in the reference, which only serves one query vector per
  call; this is the distributed generalization).

Physical plan notes (verified via .explain, see tests):

- ``knn`` compiles to Scan → WholeStageCodegen(filter+project) →
  TakeOrderedAndProject. NO shuffle, NO global sort: each partition
  keeps its local top-k and the driver merges k·numPartitions rows.
  At 100 TB this is a single map pass — the optimal plan.
- the distance expression is pure Catalyst (zip_with/aggregate), so the
  scan only reads the vector column + selected columns (column pruning)
  and user filters push down to parquet row groups.
- ``similarity_join`` broadcasts the (small) query side and prunes with
  a window top-k; for large×large use the IVF variant in
  ``operators.index`` (cell-equi-join = shuffle on a low-cardinality
  key, then per-cell distance).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fenix_spark.functions.metrics import _gemm_distance, distance, query_literal, vec_double

DISTANCE_COL = "__DISTANCE__"


def knn(
    df: DataFrame,
    column: str,
    target: Sequence[float],
    metric: str = "l2",
    k: int = 10,
    filter: Column | None = None,  # noqa: A002 - mirrors reference kwarg
    select: Sequence[str] | None = None,
    id_col: str | None = None,
    dist_col: str = DISTANCE_COL,
) -> DataFrame:
    """Brute-force top-k nearest rows to ``target``.

    Mirrors the reference's search signature (source, column, target,
    metric, filter, select, maxval) from src/fenix/flight.py:242-257.
    Unlike the reference's tie-unstable ``select_k_unstable``
    (index.py:165-167), ties are broken by ``id_col`` when given, making
    output deterministic and oracle-checkable.
    """
    out = df
    if filter is not None:
        out = out.where(filter)
    out = out.withColumn(dist_col, distance(metric, vec_double(column), query_literal(target)))
    if select is not None:
        out = out.select(*select, dist_col)
    order = [F.col(dist_col).asc()]
    if id_col is not None:
        order.append(F.col(id_col).asc())
    return out.orderBy(*order).limit(k)


def similarity_join_brute(
    left: DataFrame,
    right: DataFrame,
    column: str,
    metric: str = "l2",
    k: int = 1,
    left_id: str = "vec_id",
    right_id: str = "vec_id",
    dist_col: str = DISTANCE_COL,
    round_to: int | None = None,
    max_broadcast_rows: int = 2_000_000,
    max_broadcast_bytes: int = 2 << 30,
    exclude_self: bool = False,
) -> DataFrame:
    """Brute-force similarity join via Arrow-batched matmul.

    The naive plan (crossJoin + per-pair zip_with fold + window top-k)
    materializes |L|·|R| rows and evaluates the distance expression
    scalar-wise — ~50× slower than BLAS at sf0.1. This path instead:

    - collects + broadcasts the RIGHT side as one numpy matrix (the
      explicit smaller side — same contract as the reference holding
      the full table in memory, src/fenix/io/index/index.py:81-99);
    - ``mapInPandas`` over the left: one float64 GEMM per Arrow batch
      (l2 via the |l|²+|r|²−2l·r identity), per-row top-k via
      argpartition — emits only k rows per left row, so nothing
      |L|·|R|-sized ever exists;
    - no shuffle at all: top-k is computed where the left rows live.

    Scale contract: right side must fit in executor memory, ENFORCED
    both by ``max_broadcast_rows`` AND by ``max_broadcast_bytes``
    (rows × dim × 8 — the byte bound is what actually matters: 2M rows
    is ~1 GB at 64 dims but ~16 GB at 1024 dims). The collect itself
    is capped at the combined budget (``limit(cap+1)``), so a careless
    large×large call pulls at most the declared byte budget to the
    driver before raising — it can't OOM at 100 TB. For large×large, prune with the IVF cell
    equi-join first (operators/index.py:batch_probe_search) and apply
    this within cells.

    ``round_to`` rounds distances BEFORE ranking (with right_id
    tiebreak) for oracle-stable output.

    ``exclude_self=True`` masks right rows whose id equals the left
    row's id inside the GEMM kernel, so "nearest OTHER row" queries
    (embedding near-dup) come out directly — no post-hoc filter +
    re-rank window (which would add the pipeline's only shuffle).
    Masked candidates can shrink a row's output below k when fewer
    than k other rows exist.
    """
    import numpy as np
    import pandas as pd

    spark = left.sparkSession
    dist = _gemm_distance(metric, round_to)
    # ONE capped collect of the right side, no persist and no dim-probe
    # job, doubles as the row-count gate. The cap encodes the byte
    # budget at the dim from tensor_shape metadata (``with_shape``),
    # else at its floor of 8 bytes a row, re-checked at the first
    # collected row's dim — so even the fail path collects no more
    # than the caller declared collectable. (r5 persisted the right
    # side across three passes; a bare parquet scan paid a full
    # memory-store materialization for it, embedding_neardup 1.6×.)
    from fenix_spark.functions.tensors import shape_of

    shape = shape_of(right, column)
    dim = max(int(shape[-1]), 0) if shape else 0
    row_cap = min(max_broadcast_rows, max_broadcast_bytes // (max(dim, 1) * 8))
    r_proj = right.select(F.col(right_id).alias(right_id), F.col(column).alias(column))
    r_rows = r_proj.limit(row_cap + 1).collect()
    if dim == 0 and r_rows and r_rows[0][1] is not None:
        dim = len(r_rows[0][1])
        row_cap = min(row_cap, max_broadcast_bytes // (max(dim, 1) * 8))
    if len(r_rows) > row_cap:
        raise ValueError(
            f"similarity_join_brute: right side exceeds the broadcast "
            f"budget (cap {row_cap:,} rows at dim={dim}: "
            f"max_broadcast_rows={max_broadcast_rows:,}, "
            f"max_broadcast_bytes={max_broadcast_bytes:,}); it would be "
            "collected to the driver and broadcast. For large×large "
            "similarity joins use operators.index.batch_probe_search "
            "(IVF cell equi-join) instead, or raise the budgets if the "
            "right side genuinely fits in executor memory."
        )
    rid = np.array([r[0] for r in r_rows], dtype="int64")
    rmat = np.array([r[1] for r in r_rows], dtype="float64")
    out_schema = f"left_id bigint, right_id bigint, {dist_col} double, rank int"
    if len(rid) == 0:
        return spark.createDataFrame([], out_schema)
    bc = spark.sparkContext.broadcast((rid, rmat))
    # With exclude_self, fetch one EXTRA candidate then truncate to k
    # after the self-mask filter: a left id absent from the right side
    # masks nothing, so capping at len(rid)-1 up front would shortchange
    # disjoint-id joins (ADVICE r03).
    kk = min(k + 1, len(rid)) if exclude_self else min(k, len(rid))

    def gen(batches):
        rid_b, rmat_b = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            lids = pdf["__lid"].to_numpy()
            dmat = dist(np.asarray(pdf["__vec"].tolist(), dtype="float64"), rmat_b)
            if exclude_self:
                # inf sorts last through argpartition/lexsort; masked
                # entries are dropped at emission (isfinite filter).
                dmat[rid_b[None, :] == lids[:, None]] = np.inf
            part = np.argpartition(dmat, kk - 1, axis=1)[:, :kk]
            out_l, out_r, out_d, out_rank = [], [], [], []
            for i in range(len(lids)):
                sel = part[i][np.lexsort((rid_b[part[i]], dmat[i, part[i]]))]
                if exclude_self:
                    sel = sel[np.isfinite(dmat[i, sel])][:k]
                out_l.extend([lids[i]] * len(sel))
                out_r.extend(rid_b[sel])
                out_d.extend(dmat[i, sel])
                out_rank.extend(range(1, len(sel) + 1))
            yield pd.DataFrame(
                {"left_id": out_l, "right_id": out_r, dist_col: out_d, "rank": out_rank}
            )

    src = left.select(F.col(left_id).alias("__lid"), vec_double(column).alias("__vec"))
    return src.mapInPandas(gen, out_schema)


def similarity_join(
    left: DataFrame,
    right: DataFrame,
    column: str,
    metric: str = "l2",
    k: int = 1,
    left_id: str = "vec_id",
    right_id: str = "vec_id",
    dist_col: str = DISTANCE_COL,
) -> DataFrame:
    """For every left row, the k nearest right rows by ``metric``.

    Plan: broadcast the smaller (right) side → crossJoin (map-side, no
    shuffle) → one shuffle for the per-left-row window top-k. Output
    columns: left_id, right_id, ``dist_col``, rank.

    For two large sides, pre-bucket both by IVF cell and equi-join on
    ``__CODED_ID__`` instead (see operators/index.py), which replaces
    the crossJoin with a key join — the fenix-flavored join described
    in SURVEY.md §2.3.
    """
    lcol, rcol = f"__l_{column}", f"__r_{column}"
    l = left.select(F.col(left_id).alias("left_id"), vec_double(column).alias(lcol))
    r = right.select(F.col(right_id).alias("right_id"), vec_double(column).alias(rcol))
    joined = l.crossJoin(F.broadcast(r)).withColumn(dist_col, distance(metric, F.col(lcol), F.col(rcol)))
    w = Window.partitionBy("left_id").orderBy(F.col(dist_col).asc(), F.col("right_id").asc())
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("left_id", "right_id", dist_col, "rank")
    )


def batch_knn_brute(
    corpus: DataFrame,
    column: str,
    targets: Sequence[Sequence[float]],
    metric: str = "l2",
    k: int = 10,
    right_id: str = "vec_id",
    dist_col: str = DISTANCE_COL,
    round_to: int | None = None,
    max_targets: int = 1024,
    chunk_rows: int = 2048,
) -> DataFrame:
    """Exact k-NN for MANY query vectors in ONE corpus scan — the
    TRANSPOSE of ``similarity_join_brute``: there the RIGHT side
    broadcasts and top-k lands per left row; here the QUERY matrix
    broadcasts (N×d doubles — driver-trivial, ``max_targets``-capped)
    and the corpus streams through a per-partition GEMM keeping a
    running top-k PER QUERY. Only ``partitions × N × k`` candidate
    rows ever leave the scan; one summary window picks the global
    top-k. The corpus never shuffles and nothing N×|corpus|-sized
    ever exists.

    Determinism: ties break by ascending id, matching ``knn``. Inside
    the scan each chunk is sorted by id and selected with a STABLE
    argsort, so equal-distance candidates survive in id order; the
    per-partition merge and the final window order by (distance, id).

    Output: (query_index, <right_id>, <dist_col>, rank), rank 1..k per
    query_index = position in ``targets``.
    """
    import numpy as np
    import pandas as pd

    tmat = np.asarray([list(t) for t in targets], dtype="float64")
    if tmat.ndim != 2 or len(tmat) == 0:
        raise ValueError("targets must be a non-empty list of vectors")
    n_q = len(tmat)
    if n_q > max_targets:
        raise ValueError(
            f"batch_knn_brute caps the broadcast query matrix at "
            f"{max_targets} targets (got {n_q}); raise max_targets or "
            "use an index (operators.index.batch_probe_search) for "
            "query sets that large"
        )
    dist = _gemm_distance(metric, round_to)
    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast(tmat)
    # id column keeps its real Spark type (string ids are as common as
    # bigints in document corpora)
    id_type = corpus.schema[right_id].dataType.simpleString()
    out_schema = (
        f"query_index int, {right_id} {id_type}, {dist_col} double, rank int"
    )

    # candidate buffers compact back to k rows per query whenever they
    # exceed this many rows — partition size never enters the memory
    # bound (the docstring's partitions×N×k story, enforced)
    reduce_at = max(64, 8 * k)

    def gen(batches):
        t = bc.value
        # per-query candidate buffers across the partition's chunks
        cand_d: list = []
        cand_i: list = []

        def _reduce(limit: int):
            nonlocal cand_d, cand_i
            all_d = np.concatenate(cand_d, axis=0)
            all_i = np.concatenate(cand_i, axis=0)
            keep = min(limit, all_d.shape[0])
            red_d = np.empty((keep, all_d.shape[1]))
            red_i = np.empty((keep, all_i.shape[1]), dtype=all_i.dtype)
            for q in range(all_d.shape[1]):
                sel = sorted(
                    range(all_d.shape[0]),
                    key=lambda i: (all_d[i, q], all_i[i, q]),
                )[:keep]
                red_d[:, q] = all_d[sel, q]
                red_i[:, q] = all_i[sel, q]
            cand_d, cand_i = [red_d], [red_i]

        for pdf in batches:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values("__rid", kind="mergesort")
            for lo in range(0, len(pdf), chunk_rows):
                part = pdf.iloc[lo : lo + chunk_rows]
                cids = part["__rid"].to_numpy()
                dmat = dist(np.asarray(part["__vec"].tolist(), dtype="float64"), t)  # rows × N
                kk = min(k, len(cids))
                # rows are id-sorted, so the STABLE sort keeps
                # equal-distance candidates in ascending-id order
                order = np.argsort(dmat, axis=0, kind="stable")[:kk]  # kk×N
                cand_d.append(np.take_along_axis(dmat, order, axis=0))
                cand_i.append(cids[order])
                if sum(c.shape[0] for c in cand_d) >= reduce_at:
                    _reduce(k)
        if not cand_d:
            return
        _reduce(k)
        all_d, all_i = cand_d[0], cand_i[0]  # k×N after the reduce
        out_q, out_i, out_d, out_r = [], [], [], []
        for q in range(all_d.shape[1]):
            out_q.extend([q] * all_d.shape[0])
            out_i.extend(all_i[:, q])
            out_d.extend(all_d[:, q])
            out_r.extend(range(1, all_d.shape[0] + 1))
        yield pd.DataFrame(
            {
                "query_index": np.asarray(out_q, dtype="int32"),
                right_id: out_i,
                dist_col: out_d,
                "rank": np.asarray(out_r, dtype="int32"),
            }
        )

    src = corpus.select(
        F.col(right_id).alias("__rid"), vec_double(column).alias("__vec")
    ).where(F.col("__vec").isNotNull())  # null vectors match nothing, like knn
    partial = src.mapInPandas(gen, out_schema)
    w = Window.partitionBy("query_index").orderBy(
        F.col(dist_col).asc(), F.col(right_id).asc()
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("query_index", "rank")
    )
