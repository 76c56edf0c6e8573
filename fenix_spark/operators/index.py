"""IVF index build + probe search (reference C4 + C2,
src/fenix/io/index/index.py:37-65, 81-170).

The reference writes a row-position-aligned ``__CODED_ID__`` sidecar
file and h-stacks it on read (index.py:19-34) — impossible to do safely
under a distributed shuffle. Here the code column is CO-WRITTEN with the
data and the indexed table is PARTITIONED BY ``__CODED_ID__``, so the
probe filter ``__CODED_ID__ IN (top cells)`` becomes physical partition
pruning: a 16-of-64-cell probe reads ~25% of the files at any scale
(verified in tests/test_index.py via the executed plan's partition
count). This is the Spark-native equivalent of the reference's manual
``isin`` mask (index.py:119-126).

Code assignment is a pure Catalyst expression (argmin over k per-cell
distances, per codebook) — whole-stage codegen, no Python, no shuffle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fenix_spark.functions.metrics import (
    _fold_sum,
    _sql_distance,
    distance,
    lit_double_array,
    query_literal,
    sql_double,
    vec_double,
)
from fenix_spark.operators.coder import _per_cell, coding_to_numpy, rank_centroids, sub_vector
from fenix_spark.operators.coder import rank_cells  # noqa: F401 - perfbench traces index.rank_cells
from fenix_spark.operators.search import DISTANCE_COL, knn

CODE_COL = "__CODED_ID__"
PROBE_COL = "__PROBES__"


def assign_code_expr(column: str, coding: DataFrame, metric: str | None = None) -> Column:
    """Joint cell id of each row's vector as a native expression.

    Per codebook j: build the k-vector of distances from the row's
    sub-vector to each centroid (literal arrays — the codebook is tiny
    and ships with the plan), take argmin with lowest-cell tiebreak,
    then compose base-k digits: id = Σ_j cell_j · k^(n−1−j)
    (reference semantics, coder.py:171-181; top-1 at index.py:48-49).
    """
    cents, coding_metric, _k, _n = coding_to_numpy(coding)
    return _code_from_cents(column, cents, metric or coding_metric)


def _code_from_cents(column: str, cents, metric: str) -> Column:
    n, k, sub_dim = cents.shape
    joint = F.lit(0).cast("bigint")
    for j in range(n):
        sub = sub_vector(column, j, sub_dim)
        dists = F.array(
            *[distance(metric, sub, query_literal(cents[j, c])) for c in range(k)]
        )
        cell = F.array_position(dists, F.array_min(dists)) - 1  # 1-based → 0-based
        joint = joint + cell.cast("bigint") * F.lit(int(k ** (n - 1 - j))).cast("bigint")
    return joint


def build_index(
    df: DataFrame,
    column: str,
    coding: DataFrame,
    path: str,
    metric: str | None = None,
) -> None:
    """Write ``df`` + ``__CODED_ID__`` partitioned by the code — one map
    pass over the source and one rebalance shuffle (``_write_cells``),
    then a parquet layout where every IVF cell is its own partition
    directory (physical pruning for C2)."""
    _write_cells(df.withColumn(CODE_COL, assign_code_expr(column, coding, metric)), path, "overwrite")


def _write_cells(out: DataFrame, path: str, mode: str) -> None:
    """Write ``out`` partitioned by ``__CODED_ID__``, about one parquet
    file per cell. An unshuffled write has every task emit a file into
    every cell it holds rows of (a 3,000-row 8×2 index: 256 files for
    64 cells, each one more footer and fragment per read). A REBALANCE
    by the cell sends each small cell to one write task, and AQE packs
    small cells into few tasks and splits a cell larger than
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` across several,
    so one big cell is neither one straggler task nor one giant file
    (a plain repartition by the cell cannot be split)."""
    out.hint("rebalance", CODE_COL).write.mode(mode).partitionBy(CODE_COL).parquet(path)


def append_to_index(
    df: DataFrame,
    column: str,
    coding: DataFrame,
    path: str,
    metric: str | None = None,
) -> None:
    """Incrementally add rows to an existing index — assign codes with
    the SAME frozen coding and append into the per-cell partition
    directories. The reference rebuilds its positional sidecar from
    scratch on any change (index.py:37-65); here ingest-then-index is
    an append-only pipeline: a day's new vectors land as new files
    inside their cells, old files are untouched, and probe pruning is
    identical to a full rebuild (asserted in tests/test_index.py).
    Pair with ``catalog.compact`` on the hot cells when micro-batch
    appends accumulate small files. The coding must stay frozen —
    retraining centroids re-maps cell ids, which is a rebuild, not an
    append."""
    _write_cells(df.withColumn(CODE_COL, assign_code_expr(column, coding, metric)), path, "append")


def read_index(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def probe_search(
    indexed: DataFrame,
    coding: DataFrame,
    column: str,
    target: Sequence[float],
    metric: str | None = None,
    k: int = 10,
    probes: int | None = None,
    filter: Column | None = None,  # noqa: A002 - mirrors reference kwarg
    select: Sequence[str] | None = None,
    id_col: str | None = None,
) -> DataFrame:
    """IVF probe search (C2): rank cells driver-side over the tiny
    centroid table, prepend ``__CODED_ID__ IN (top probes)`` to the
    user filter (→ partition pruning), then the brute-force KNN tail
    (C1). ``probes=None`` or ≥ k^n degenerates to exact search over all
    cells, matching reference behavior (index.py:113-126)."""
    cents, coding_metric, _kk, _n = coding_to_numpy(coding)
    metric = metric or coding_metric
    probed = _probed(indexed, cents, target, metric, probes)
    return knn(
        probed, column, target, metric=metric, k=k, filter=filter, select=select, id_col=id_col
    )


def _probed(
    indexed: DataFrame, cents, target: Sequence[float], metric: str, probes: int | None
) -> DataFrame:
    """``indexed`` restricted to ``__CODED_ID__ IN probed_cells(…)`` —
    a filter on the partition column, so the scan prunes whole cell
    directories."""
    cells = probed_cells(cents, target, metric, probes)
    return indexed if cells is None else indexed.where(F.col(CODE_COL).isin(cells))


def probed_cells(cents, target: Sequence[float], metric: str, probes: int | None) -> list[int] | None:
    """The joint cells a probe search of ``target`` reads, over a
    decoded (n, k, sub_dim) centroid array: the top-``probes`` of the
    k^n cells, or None for every cell (``probes=None`` or ≥ k^n);
    ``probes=0`` reads none. The one probe decision of the Spark plan
    and of the server's driver-local search."""
    n, k, _ = cents.shape
    if probes is None or probes >= k**n:
        return None
    return rank_centroids(cents, target, metric, limit=probes)


def probe_cells_expr(column: str, coding: DataFrame, probes: int, metric: str | None = None) -> Column:
    """Array of each row's top-``probes`` joint cell ids, as a native
    expression — the set-at-a-time version of ``rank_cells``.

    Scores all k^n joint cells with the reference's sum-of-per-codebook-
    distances rule (coder.py:171-186), sorts (score, joint) structs —
    array_sort's lexicographic struct order gives the deterministic
    joint-id tiebreak — and keeps the first ``probes``. The k·n centroid
    literals ship with the plan; per-codebook distance arrays are
    let-bound via a nested transform so each of the n·k centroid
    distances is evaluated once per row, not once per joint cell.
    """
    cents, coding_metric, k, n = coding_to_numpy(coding)
    return _probe_cells_from_cents(column, cents, k, n, probes, metric or coding_metric)


# The joint-cell scoring expression enumerates all k^n cells IN THE
# EXPRESSION TREE. At the reference config (k=8, n=2 → 64 cells) this is
# ideal: the whole scorer is one codegen'd expression, zero shuffle. At
# production PQ configs (256^8 cells) it would explode the plan — gate
# it hard and point callers at the join alternative.
_MAX_ENUMERATED_CELLS = 4096


def _probe_cells_from_cents(
    column: str, cents, k: int, n: int, probes: int, metric: str
) -> Column:
    if k**n > _MAX_ENUMERATED_CELLS:
        raise ValueError(
            f"probe_cells_expr enumerates all k^n = {k**n:,} joint cells "
            f"in the expression tree (bound: {_MAX_ENUMERATED_CELLS:,}). "
            "For large codebooks score cells via a broadcast join against "
            "the centroid table instead: explode queries to (query, "
            "codebook) rows, broadcast-join the k centroids per codebook, "
            "aggregate per-codebook argmin scores, then window-top-probes "
            "per query — same result, plan size O(k*n) not O(k^n)."
        )
    sub_dim = cents.shape[2]
    # Built through the fluent API the k^n-struct scorer costs ~6 py4j
    # round trips per cell (~1.7 s of driver time per invocation at 64
    # cells); as one SQL string it parses JVM-side in a single call (see
    # lit_double_array for the literal-fidelity argument). The n·k
    # distances are bound once per row as the lambda variable ``d``,
    # not evaluated once per joint cell.
    col = "`" + column.replace("`", "``") + "`"

    def sub(j: int) -> str:
        return f"CAST(slice({col}, {j * sub_dim + 1}, {sub_dim}) AS ARRAY<DOUBLE>)"

    def cent(j: int, c: int) -> str:
        return "array(" + ",".join(sql_double(x) for x in cents[j, c]) + ")"

    dists = "array(" + ",".join(
        _sql_distance(metric, sub(j), cent(j, c)) for j in range(n) for c in range(k)
    ) + ")"  # flat [j * k + c]
    structs = ",".join(
        "struct("
        + " + ".join(f"element_at(d, {j * k + _digit(joint, j, k, n) + 1})" for j in range(n))
        + f" AS score, CAST({joint} AS BIGINT) AS joint)"
        for joint in range(k**n)
    )
    body = f"transform(slice(array_sort(array({structs})), 1, {probes}), s -> s.joint)"
    return F.expr(f"element_at(transform(array({dists}), d -> {body}), 1)")


def _digit(joint: int, j: int, k: int, n: int) -> int:
    """Base-k digit j (codebook 0 most significant) of a joint cell id."""
    return (joint // k ** (n - 1 - j)) % k


def probe_cells_join(
    queries: DataFrame,
    coding: DataFrame,
    column: str,
    probes: int,
    metric: str | None = None,
    query_id: str = "vec_id",
) -> DataFrame:
    """Top-``probes`` joint cells per query via a BROADCAST JOIN against
    the centroid table — the large-codebook path ``probe_cells_expr``'s
    bound points at. Plan size is O(n); nothing anywhere is O(k^n).

    Returns (query_id, __qvec double-array, __PROBES__ array<bigint>),
    ranked like ``probe_cells_expr`` (same (score, joint) ordering,
    same left-fold float addition order; see the exactness note below).

    Shape: explode each query into its n sub-vectors, broadcast-join
    the k·n centroid rows on codebook id, compute per-(query, codebook)
    distance to each of the k cells, keep a per-codebook SHORTLIST of
    the best min(k, probes) cells, then fold the n shortlists into
    joint cells with beam pruning to ``probes`` at every step.

    The shortlist + beam pruning are exact up to float rounding: if a
    prefix is pruned at stage j, each of the ``probes`` kept prefixes
    extends (with the victim's own suffix digits) to a joint cell that
    precedes the victim's in (score, joint) order — so the victim
    cannot reach the final top-``probes`` — unless two prefix scores an
    ulp apart round to one sum (``coder._beam_rank``, the driver twin,
    says when that can happen). Per-query work is
    O(n·k + n·probes·min(k, probes)); the two aggregations shuffle only
    (query_id, shortlist) rows, never cells × queries.
    """
    cents_np, coding_metric, k, n = coding_to_numpy(coding)
    metric = metric or coding_metric
    sub_dim = cents_np.shape[2]
    cents = coding.select(
        F.col("codebook").alias("__j"),
        F.col("cell").alias("__cell"),
        F.col("centroid").alias("__cent"),
    )
    q = queries.select(
        F.col(query_id).alias("query_id"),
        vec_double(column).alias("__qvec"),
        F.posexplode(
            F.array(*[sub_vector(column, j, sub_dim) for j in range(n)])
        ).alias("__j", "__sub"),
    )
    d = distance(metric, F.col("__sub"), F.col("__cent"))
    shortlists = (
        q.join(F.broadcast(cents), "__j")
        .select("query_id", "__qvec", "__j", d.alias("__d"), "__cell")
        .groupBy("query_id", "__j")
        .agg(
            F.first("__qvec").alias("__qvec"),
            F.slice(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__d").alias("d"), F.col("__cell").alias("cell")))
                ),
                1,
                min(k, probes),
            ).alias("__short"),
        )
    )
    books = shortlists.groupBy("query_id").agg(
        F.first("__qvec").alias("__qvec"),
        F.array_sort(
            F.collect_list(F.struct(F.col("__j").alias("j"), F.col("__short").alias("short")))
        ).alias("__books"),
    )
    # One parsed expression instead of the nested-lambda fluent build
    # (~0.35 s of py4j per invocation; see lit_double_array). Same
    # tree: float adds in the same order, integer joint-id math.
    combos_sql = (
        "aggregate(__books, "
        "array(struct(0.0D AS score, CAST(0 AS BIGINT) AS joint)), "
        "(acc, b) -> slice(array_sort(flatten(transform(acc, "
        "a -> transform(b.short, s -> struct((a.score + s.d) AS score, "
        f"((a.joint * {k}) + CAST(s.cell AS BIGINT)) AS joint))))), 1, {probes}))"
    )
    return books.select(
        "query_id",
        "__qvec",
        F.expr(f"transform({combos_sql}, c -> c.joint)").alias(PROBE_COL),
    )


def adc_lut(coding: DataFrame, target: Sequence[float], metric: str | None = None) -> list[list[float]]:
    """Per-codebook ADC lookup tables for ``target`` (Jégou et al.,
    "Product Quantization for Nearest Neighbor Search", TPAMI 2011 —
    the asymmetric distance computation).

    ``lut[j][c]`` is the j-th sub-query's contribution if the row's
    code has digit ``c`` in codebook j:

    - ``l2``: SQUARED sub-distance ‖q_j − cent_{j,c}‖² (squares add
      across codebooks; the caller applies the final sqrt),
    - ``dot``: negated partial dot product −q_j·cent_{j,c} (partial
      dots add directly).

    cosine does not decompose per-subspace (the row norm is not
    separable) → ValueError; search cosine via l2 on normalized
    vectors instead.

    Computed driver-side over the tiny centroid tensor with a
    SEQUENTIAL left-fold float sum — the same fold DuckDB's
    ``list_sum`` applies to identical centroid/query doubles — so an
    oracle can recompute the tables bit-identically in SQL.
    """
    cents, coding_metric, _k, _n = coding_to_numpy(coding)
    return _lut(cents, target, metric or coding_metric)


def _lut(cents, target: Sequence[float], metric: str) -> list[list[float]]:
    """``adc_lut`` over an already-decoded (n, k, sub_dim) centroid array."""
    return _per_cell(_fold_sum, cents, target, metric).tolist()


def adc_dist_expr(
    luts: list[list[float]], k: int, metric: str, code_col: str = CODE_COL
) -> Column:
    """ADC distance of a row from its joint code alone — a pure
    Catalyst expression over ``code_col``; the raw vector column is
    NEVER touched.

    digit_j = (code div k^(n−1−j)) mod k indexes codebook j's lookup
    table (a tiny literal array shipped with the plan). l2 sums squared
    sub-distances then takes one sqrt; dot sums partial dots.
    """
    n = len(luts)
    code = F.col(code_col).cast("bigint")
    total = None
    for j, lut in enumerate(luts):
        digit = F.floor(code / F.lit(int(k ** (n - 1 - j)))).cast("bigint") % F.lit(k)
        term = F.element_at(lit_double_array(lut), (digit + 1).cast("int"))
        total = term if total is None else total + term
    if metric in ("l2", "euclidean"):
        return F.sqrt(total)
    return total


def adc_search(
    indexed: DataFrame,
    coding: DataFrame,
    column: str,
    target: Sequence[float],
    metric: str | None = None,
    k: int = 10,
    probes: int | None = None,
    rerank: int | None = None,
    id_col: str = "vec_id",
    select: Sequence[str] = (),
    round_to: int | None = None,
) -> DataFrame:
    """PQ-ADC search: rank rows by LOOKED-UP approximate distance over
    the code column, optionally exact-rerank a shortlist.

    This is the scan-side half of IVF-ADC (Jégou et al. 2011) and the
    100 TB search plan: the candidate pass reads ONLY (id, code) —
    and since ``__CODED_ID__`` is the partition column it is not even
    in the data files, so the parquet scan materializes just the id
    column (~8 bytes/row instead of a ~1 KB raw vector). Combined with
    ``probes`` partition pruning the pass touches probes/k^n of the
    files AND 1/100th of the bytes within them. The reference's
    equivalent is searching over dequantized codes
    (src/fenix/io/index/index.py:81-170 with coding set); ADC skips
    the reconstruction entirely.

    ``rerank=None`` returns ADC-ranked top-k (approximate distances,
    deterministic). ``rerank=r`` takes the top-r ADC shortlist and
    re-scores it with EXACT distances from the raw vector column —
    only r rows (a broadcast-joined shortlist) ever read the vector
    column. ``round_to`` rounds each ranking stage for oracle-stable
    boundaries.
    """
    cents, coding_metric, kk, n = coding_to_numpy(coding)
    metric = metric or coding_metric
    d = adc_dist_expr(_lut(cents, target, metric), kk, metric)
    probed = _probed(indexed, cents, target, metric, probes)
    return _adc_top_k(indexed, probed, d, column, target, metric, k, rerank, id_col, select, round_to)


def _rounded(d: Column, round_to: int | None) -> Column:
    # + 0.0 canonicalizes IEEE -0.0 → +0.0 for oracle-stable hashing
    return d if round_to is None else F.round(d, round_to) + F.lit(0.0)


def _adc_top_k(
    indexed: DataFrame,
    probed: DataFrame,
    d: Column,
    column: str,
    target: Sequence[float],
    metric: str,
    k: int,
    rerank: int | None,
    id_col: str,
    select: Sequence[str],
    round_to: int | None,
) -> DataFrame:
    """The tail every ADC search shares: top-k (or top-``rerank``) of
    ``probed`` by the looked-up distance ``d``, ties by id; with
    ``rerank`` the shortlist is broadcast into a hash join against
    ``indexed`` so the vector column is read for shortlist rows only,
    and re-scored exactly."""

    def top(rows: DataFrame, dist: Column, limit: int) -> DataFrame:
        return (
            rows.select(id_col, *select, _rounded(dist, round_to).alias(DISTANCE_COL))
            .orderBy(F.col(DISTANCE_COL).asc(), F.col(id_col).asc())
            .limit(limit)
        )

    adc = top(probed, d, k if rerank is None else rerank)
    if rerank is None:
        return adc
    shortlist = F.broadcast(adc.select(F.col(id_col).alias("__sid")))
    exact = distance(metric, vec_double(column), query_literal(target))
    return top(indexed.join(shortlist, F.col(id_col) == F.col("__sid")), exact, k)


def batch_probe_search(
    queries: DataFrame,
    indexed: DataFrame,
    coding: DataFrame,
    column: str,
    metric: str | None = None,
    k: int = 10,
    probes: int | None = 16,
    query_id: str = "vec_id",
    right_id: str = "vec_id",
    round_to: int | None = None,
) -> DataFrame:
    """Batch IVF search = the fenix-flavored similarity JOIN (SURVEY.md
    §2.3): a whole DataFrame of queries against the indexed table in
    one plan, no driver round-trip per query.

    Plan: each query row derives its top-``probes`` cells natively
    (``probe_cells_expr``) and explodes to (query, cell) rows; these
    EQUI-JOIN the indexed table on ``__CODED_ID__`` — cell identity, a
    key join, not a crossJoin — then exact distances + a per-query
    window top-k. The query side broadcasts when small (Spark picks
    this up from sizes/AQE); two large sides shuffle on the cell id,
    which IVF keeps low-cardinality and balanced. At 100 TB the probe
    join touches probes/k^n of the index, mirroring single-query
    partition pruning (ref index.py:119-126) set-at-a-time.
    ``probes=None`` probes every cell (exact), like ``probe_search``.
    """
    cents, coding_metric, kk, n = coding_to_numpy(coding)
    metric = metric or coding_metric
    if probes is None:
        probes = kk**n
    if kk**n > _MAX_ENUMERATED_CELLS:
        # large codebook: broadcast-join scorer, plan size O(n)
        q = probe_cells_join(queries, coding, column, probes, metric, query_id).select(
            "query_id", "__qvec", F.explode(PROBE_COL).alias("__probe")
        )
    else:
        # small codebook: pure projection, no aggregation shuffle
        q = queries.select(
            F.col(query_id).alias("query_id"),
            vec_double(column).alias("__qvec"),
            F.explode(
                _probe_cells_from_cents(column, cents, kk, n, probes, metric)
            ).alias("__probe"),
        )
    cand = q.join(indexed, q["__probe"] == indexed[CODE_COL])
    d = _rounded(distance(metric, vec_double(column), F.col("__qvec")), round_to)
    cand = cand.select(
        "query_id", F.col(right_id).alias("right_id"), d.alias(DISTANCE_COL)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col(DISTANCE_COL).asc(), F.col("right_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


FINE_CODE_COL = "__PQ_CODE__"


def build_ivfpq_index(
    df: DataFrame,
    column: str,
    coarse: DataFrame,
    fine: DataFrame,
    path: str,
    metric: str | None = None,
) -> None:
    """Two-level IVF-PQ layout — the production ANN shape where the
    partition count stays bounded while code resolution scales.

    A single fine coding cannot be the partition key: 16^8 joint cells
    would mean 4 billion partition directories. The split (FAISS
    IVFPQ's file layout, re-expressed for parquet):

    - COARSE coding (small k^n, e.g. 64 cells) → ``__CODED_ID__``,
      the PARTITION column: probe pruning stays physical partition
      pruning with a sane directory count at any scale.
    - FINE coding (large k^n) → ``__PQ_CODE__``, a regular BIGINT
      DATA column: the ADC candidate pass reads (id, fine code) =
      ~16 bytes/row from the probed partitions only.

    This encodes the fine code on RAW vectors (non-residual IVFPQ —
    simpler, oracle-checkable with one LUT per query). Residual
    encoding (fine-code the vector minus its coarse centroid) buys
    extra recall at the same bits but needs per-probe-cell lookup
    tables; the layout here wouldn't change, only the LUT builder."""
    out = df.withColumn(CODE_COL, assign_code_expr(column, coarse, metric)).withColumn(
        FINE_CODE_COL, assign_code_expr(column, fine, metric)
    )
    _write_cells(out, path, "overwrite")


def ivfpq_search(
    indexed: DataFrame,
    coarse: DataFrame,
    fine: DataFrame,
    column: str,
    target: Sequence[float],
    metric: str | None = None,
    k: int = 10,
    probes: int | None = 8,
    rerank: int | None = None,
    id_col: str = "vec_id",
    select: Sequence[str] = (),
    round_to: int | None = None,
) -> DataFrame:
    """IVF-PQ search over a ``build_ivfpq_index`` layout: coarse probe
    pruning (partition filters) → ADC over the fine code column →
    optional exact rerank of a broadcast shortlist.

    IO at 100 TB: probes/|coarse cells| of the files are touched at
    all; within them the candidate pass materializes only (id, fine
    code); raw vectors are read for the ``rerank`` shortlist rows
    alone."""
    coarse_cents, coarse_metric, _ck, _cn = coding_to_numpy(coarse)
    metric = metric or coarse_metric
    fine_cents, _, fk, _fn = coding_to_numpy(fine)
    d = adc_dist_expr(_lut(fine_cents, target, metric), fk, metric, code_col=FINE_CODE_COL)
    probed = _probed(indexed, coarse_cents, target, metric, probes)
    return _adc_top_k(indexed, probed, d, column, target, metric, k, rerank, id_col, select, round_to)


def _coarse_residual(column: str, coarse: DataFrame) -> tuple[Column, Column, str]:
    """(coarse cell code, vector − that cell's centroid, coarse metric)
    as pure expressions — the centroid is selected by element_at over
    the k centroid literals of a single-codebook coarse coding."""
    cents, metric, k, n = coding_to_numpy(coarse)
    if n != 1:
        raise ValueError("residual IVF-PQ needs a single-codebook coarse coding (IVF)")
    code = _code_from_cents(column, cents, metric)
    centroid = F.element_at(
        F.array(*[query_literal(cents[0, c]) for c in range(k)]), (code.cast("int") + 1)
    )
    return code, F.zip_with(vec_double(column), centroid, lambda a, b: a - b), metric


def train_residual_coding(
    df: DataFrame,
    column: str,
    coarse: DataFrame,
    fine_config,
) -> DataFrame:
    """Train the fine PQ coding on RESIDUALS (vector − its coarse
    centroid) — classic IVFPQ (Jégou et al. 2011 §III): residuals
    concentrate near zero, so the same code bits quantize them with
    far less error than raw vectors. Requires a single-codebook coarse
    coding (standard IVF) and the l2 metric (ADC constraint).

    The residual column is a pure expression (zip_with over the
    selected centroid literal) — training streams over it like any
    column; residuals are never materialized to storage."""
    from fenix_spark.operators.coder import train_coding

    _code, residual, metric = _coarse_residual(column, coarse)
    if metric not in ("l2", "euclidean"):
        raise ValueError("residual ADC requires the l2 metric")
    return train_coding(
        df.withColumn("__residual", residual), "__residual", fine_config
    )


def build_ivfpq_residual_index(
    df: DataFrame,
    column: str,
    coarse: DataFrame,
    fine: DataFrame,
    path: str,
) -> None:
    """IVF-PQ layout with RESIDUAL fine codes: same directories as
    ``build_ivfpq_index`` (coarse cell = partition, fine code = BIGINT
    column), but ``__PQ_CODE__`` encodes vector − coarse_centroid, so
    ``fine`` must come from ``train_residual_coding`` over the same
    coarse coding."""
    code, residual, metric = _coarse_residual(column, coarse)
    out = (
        df.withColumn(CODE_COL, code)
        .withColumn("__residual", residual)
        .withColumn(FINE_CODE_COL, assign_code_expr("__residual", fine, metric))
        .drop("__residual")
    )
    _write_cells(out, path, "overwrite")


def ivfpq_residual_search(
    indexed: DataFrame,
    coarse: DataFrame,
    fine: DataFrame,
    column: str,
    target: Sequence[float],
    k: int = 10,
    probes: int | None = 8,
    rerank: int | None = None,
    id_col: str = "vec_id",
    select: Sequence[str] = (),
    round_to: int | None = None,
) -> DataFrame:
    """Residual IVF-PQ search: per coarse cell c the query's residual
    (target − centroid_c) gets its own ADC lookup tables, and rows in
    cell c score against table c — one FLAT literal array per fine
    codebook covering every coarse cell, indexed by
    ``ccode·k_fine + digit``. Still a pure expression over (coarse
    code, fine code), zero vector bytes in the candidate pass;
    ck × n × k doubles ship with the plan (64 × 4 × 16 = 4k — nothing),
    and Catalyst analysis stays O(n) instead of the probes-wide CASE
    chain this replaced (~2 s of driver time at 16 probes). Optional
    exact rerank as in ``ivfpq_search``."""
    cents, metric, ck, n = coding_to_numpy(coarse)
    if n != 1:
        raise ValueError("residual IVF-PQ needs a single-codebook coarse coding (IVF)")
    fine_cents, _, fk, fn = coding_to_numpy(fine)
    tgt = [float(x) for x in target]
    # LUTs for ALL ck coarse cells (rows outside the probed set are
    # filtered away, and computing the extra tables is a few thousand
    # float ops): per fine codebook j, a flat ck×fk literal indexed by
    # the row's coarse code and code digit.
    luts_by_cell = [
        _lut(fine_cents, [t - float(x) for t, x in zip(tgt, cents[0, c])], metric)
        for c in range(ck)
    ]
    fcode = F.col(FINE_CODE_COL).cast("bigint")
    ccode = F.col(CODE_COL).cast("bigint")
    total = None
    for j in range(fn):
        flat = [float(luts_by_cell[c][j][dd]) for c in range(ck) for dd in range(fk)]
        digit = F.floor(fcode / F.lit(int(fk ** (fn - 1 - j)))).cast("bigint") % F.lit(fk)
        term = F.element_at(lit_double_array(flat), (ccode * fk + digit + 1).cast("int"))
        total = term if total is None else total + term
    d = F.sqrt(total) if metric in ("l2", "euclidean") else total
    probed = _probed(indexed, cents, target, metric, probes)
    return _adc_top_k(indexed, probed, d, column, target, metric, k, rerank, id_col, select, round_to)


def filtered_probe_search(
    indexed: DataFrame,
    coding: DataFrame,
    column: str,
    target: Sequence[float],
    filter: Column,  # noqa: A002 - mirrors reference kwarg
    metric: str | None = None,
    k: int = 10,
    probes: int = 8,
    selectivity: float | None = None,
    brute_threshold: int = 100_000,
    select: Sequence[str] | None = None,
    id_col: str | None = None,
) -> DataFrame:
    """Filtered ANN with an explicit strategy crossover — the
    production concern plain ``probe_search`` ignores: a selective
    filter starves the probed cells (most candidates fail the filter,
    recall collapses), while a permissive filter makes brute force
    wasteful.

    - **Pre-filter (exact) path**: if the filtered row count is small
      (≤ ``brute_threshold``, checked with a ``limit``-capped count so
      the probe stops scanning at the bound), run EXACT knn over the
      filtered rows — the filter pushes down to the scan, the index is
      not needed, recall is 1.0 by construction.
    - **Over-probed post-filter path**: otherwise probe
      ``ceil(probes / s)`` cells (capped at all cells), where ``s`` is
      the filter's selectivity — restoring the EXPECTED number of
      filter-surviving candidates to what ``probes`` cells would hold
      unfiltered (the standard over-probe compensation). Pass
      ``selectivity`` when known (catalog stats / prior run); when
      None it costs one counting scan over the filter columns —
      cheap relative to a recall collapse, and stated here rather
      than hidden.
    """
    import math

    _, coding_metric, kk, n = coding_to_numpy(coding)
    metric = metric or coding_metric
    if selectivity is not None and not 0.0 < selectivity <= 1.0:
        raise ValueError(
            f"selectivity {selectivity} outside (0, 1] — a value > 1 would "
            "SHRINK the probe count below the requested base (passing a "
            "percentage instead of a fraction is the classic mistake)"
        )
    capped = indexed.where(filter).limit(brute_threshold + 1).count()
    if capped <= brute_threshold:
        return knn(
            indexed, column, target, metric=metric, k=k, filter=filter,
            select=select, id_col=id_col,
        )
    if selectivity is None:
        # ONE combined scan for both counts (not a filtered count plus
        # a total count — two extra full scans at 100 TB)
        row = indexed.agg(
            F.count(F.lit(1)).alias("n"), F.count_if(filter).alias("m")
        ).first()
        selectivity = row["m"] / max(row["n"], 1)
    total_cells = kk**n
    boosted = min(total_cells, int(math.ceil(probes / max(selectivity, 1e-6))))
    return probe_search(
        indexed, coding, column, target, metric=metric, k=k,
        probes=boosted, filter=filter, select=select, id_col=id_col,
    )
