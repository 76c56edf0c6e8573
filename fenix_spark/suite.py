"""The oracle-checked query corpus: every entry pairs a PySpark
DataFrame program with an equivalent DuckDB SQL string over the same
parquet tables (driver contract, __spark_entry__.py).

Determinism rules (SURVEY.md §7 risks, FIXTURES.md §6):

- Every float output column is rounded identically on both engines
  (6dp for distances/averages, 2dp for money sums) so low-bit
  float-associativity differences can't break the value hash.
- Every top-k orders by the ROUNDED value + an id tiebreak on both
  engines, so the selected row set is identical even at ties.
- Timestamps are read as TIMESTAMP_NTZ and compared against NTZ
  literals — pure wall-clock semantics matching DuckDB's naive
  TIMESTAMP, independent of the driver session's timezone, while
  keeping cutoffs foldable so parquet predicate pushdown applies.
- No raw timestamps in outputs — epoch millis (bigint) or formatted
  date strings instead.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fenix_spark.functions.metrics import distance, query_literal, vec_double
from fenix_spark.checkpoint import checkpoint_eager as _ckpt_eager
from fenix_spark.checkpoint import checkpoint_lazy as _ckpt_lazy

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a testdata table, forcing TIMESTAMP_NTZ for timestamp
    columns.

    The parquet timestamps are timezone-naive (isAdjustedToUTC=false).
    Reading them as NTZ and comparing against NTZ literals gives pure
    wall-clock semantics — identical to DuckDB's naive TIMESTAMP — no
    matter what ``spark.sql.session.timeZone`` or
    ``spark.sql.parquet.inferTimestampNTZ.enabled`` the driver session
    uses. (Reading them as LTZ makes every date cutoff shift with the
    session timezone; caught by a verification probe, see
    tests/test_suite_oracle.py.)
    """
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    if any(f.dataType.typeName() == "timestamp" for f in df.schema.fields):
        forced = T.StructType(
            [
                T.StructField(
                    f.name,
                    T.TimestampNTZType() if f.dataType.typeName() == "timestamp" else f.dataType,
                    f.nullable,
                )
                for f in df.schema.fields
            ]
        )
        df = spark.read.schema(forced).parquet(path)
    return df


def ts_ms_expr(df: DataFrame, ts_col: str = "ts") -> Column:
    """Epoch-millis bigint from an events timestamp column, matching
    DuckDB ``epoch_ms(ts)`` exactly under either physical encoding the
    driver testdata has shipped (VERDICT r03 — the r02→r03 testdata
    change from int64-nanos to timestamp[us] broke 8 queries + bench):

    - ``timestamp[us]`` (current): read as TIMESTAMP_NTZ, then pure
      wall-clock micros since epoch via ``timestampdiff`` on two NTZ
      operands — exact integer arithmetic, no session timezone on
      either side — then integer DIV to millis.
    - int64 nanoseconds (legacy ``nanosAsLong`` read): integer DIV;
      nanos since epoch (~1.7e18) overflow the exact double range, so
      float division would corrupt low bits.

    Any other type is an error, not a guess: a plain LTZ read would
    make epoch millis depend on ``spark.sql.session.timeZone``.
    This is the ONLY ts-normalization site — suite, bench, streaming
    and tests all route through it (VERDICT r03 next-round #5).
    """
    t = df.schema[ts_col].dataType.typeName()
    if t == "long":
        return F.expr(f"{ts_col} DIV 1000000")
    if t == "timestamp_ntz":
        return F.expr(
            f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {ts_col})"
            " DIV 1000"
        )
    raise TypeError(
        f"events.{ts_col} has unsupported type {t!r}: expected int64 nanos "
        "(read with spark.sql.legacy.parquet.nanosAsLong) or TIMESTAMP_NTZ "
        "(read via suite.table, which forces NTZ for wall-clock semantics)."
    )


def events_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table with ``ts_ms`` (epoch millis, bigint), robust
    to both ts encodings the testdata has shipped. ``nanosAsLong`` is
    set (scoped) BEFORE the probe read so a nanosecond-precision file
    loads as int64 instead of failing analysis in Spark 4; a
    micro/milli file is unaffected by that conf and is re-read through
    :func:`table`, which forces TIMESTAMP_NTZ."""
    try:
        prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong")
    except Exception:  # noqa: BLE001 - unset conf raises
        prev = None
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    if ev.schema["ts"].dataType.typeName() != "long":
        # Timestamp encoding: the nanos conf is irrelevant at execution
        # time for this plan, so restore it (scoped — ADVICE r01). On
        # the nanos branch it must STAY set: the lazy scan consults it
        # again when the job actually runs.
        if prev is None:
            spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
        else:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
        ev = table(spark, sf_dir, "events")
    return ev.withColumn("ts_ms", ts_ms_expr(ev))


def ts_lit(date: str):
    """Foldable TIMESTAMP_NTZ literal from a 'YYYY-MM-DD' string.

    NTZ column vs NTZ literal is a wall-clock comparison with no
    session-timezone involvement on either side, and it stays a
    foldable literal so parquet predicate pushdown still applies.
    """
    return F.lit(f"{date} 00:00:00").cast("timestamp_ntz")


def duck_ts(date: str) -> str:
    """The same wall-clock instant for DuckDB (naive TIMESTAMP)."""
    return f"TIMESTAMP '{date} 00:00:00'"


# --------------------------------------------------------------------------
# KNN search family (reference C1: src/fenix/io/index/index.py:81-170)
# --------------------------------------------------------------------------

_DUCK_DOT = "list_sum(list_transform(list_zip(embedding::DOUBLE[], qv), z -> z[1]*z[2]))"
_DUCK_L2 = (
    "sqrt(list_sum(list_transform(list_zip(embedding::DOUBLE[], qv),"
    " z -> (z[1]-z[2])*(z[1]-z[2]))))"
)
_DUCK_NORM_E = "sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x*x)))"
_DUCK_NORM_Q = "sqrt(list_sum(list_transform(qv, x -> x*x)))"
_DUCK_METRIC = {
    "l2": _DUCK_L2,
    "euclidean": _DUCK_L2,
    "cosine": f"0.5 - 0.5 * {_DUCK_DOT} / ({_DUCK_NORM_E} * {_DUCK_NORM_Q})",
    "dot": f"-{_DUCK_DOT}",
    "inner_product": f"-{_DUCK_DOT}",
}


def _round_dist(col: Column, n: int = 6) -> Column:
    """Round a distance for oracle-stable output, then ``+ 0.0`` so IEEE
    canonicalizes ``-0.0`` to ``+0.0`` (the driver's hasher distinguishes
    the two signs; DuckDB's cosine self-match emits ``-0.0`` while Spark
    emits ``0.0`` — VERDICT r01 defect 2). Every oracle SQL string that
    rounds a distance appends the same ``+ 0.0``."""
    return F.round(col, n) + F.lit(0.0)


def _query_vector(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list[float]:
    # Driver-local pyarrow read: fetching ONE query vector via a Spark
    # job costs ~0.2 s of scheduling per invocation (and several knn
    # rows pay it); filtering the same parquet bytes on the driver is
    # ~ms and value-identical. Read per invocation — never cached.
    path = f"{sf_dir}/embeddings.parquet"
    if os.path.exists(path):
        try:
            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            t = pq.read_table(path, columns=["vec_id", "embedding"])
            hit = t.filter(pc.equal(t["vec_id"], vec_id))
            if hit.num_rows:
                return [float(x) for x in hit["embedding"][0].as_py()]
        except Exception:  # noqa: BLE001 — fall back to the Spark job below
            pass
    row = (
        table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") == vec_id)
        .select("embedding")
        .head()
    )
    return [float(x) for x in row[0]]


def _knn_spark(
    metric: str,
    k: int = 10,
    where: str | None = None,
    select: Sequence[str] = ("vec_id", "label"),
) -> Callable[[SparkSession, str], DataFrame]:
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        emb = table(spark, sf_dir, "embeddings")
        target = query_literal(_query_vector(spark, sf_dir))
        out = emb.where(where) if where is not None else emb
        out = out.select(
            *select,
            _round_dist(distance(metric, vec_double("embedding"), target)).alias("dist"),
        )
        return out.orderBy("dist", "vec_id").limit(k)

    return fn


def _knn_oracle(metric: str, k: int = 10, where: str = "", select: str = "vec_id, label") -> str:
    return f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
    SELECT {select}, round({_DUCK_METRIC[metric]}, 6) + 0.0 AS dist
    FROM embeddings, q
    {where}
    ORDER BY dist, vec_id
    LIMIT {k}
    """


_KNN_METRICS = ("l2", "cosine", "dot")


def _knn_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 brute-force KNN under all three reference metric families
    (F1 l2, F2 cosine = 0.5−0.5·cos, F3 negated dot) in one result,
    tagged by metric. Each arm is the optimal no-shuffle plan
    (Scan → codegen distance → TakeOrderedAndProject); the union is
    three independent map passes. The query vector is fetched ONCE and
    embedded as a literal in all three arms."""
    emb = table(spark, sf_dir, "embeddings")
    target = query_literal(_query_vector(spark, sf_dir))
    out = None
    for m in _KNN_METRICS:
        part = (
            emb.select(
                "vec_id",
                "label",
                _round_dist(distance(m, vec_double("embedding"), target)).alias("dist"),
            )
            .orderBy("dist", "vec_id")
            .limit(10)
            .select(F.lit(m).alias("metric"), "*")
        )
        out = part if out is None else out.unionByName(part)
    return out


def _knn_metrics_oracle() -> str:
    return "\nUNION ALL\n".join(
        f"SELECT '{m}' AS metric, * FROM ({_knn_oracle(m)})" for m in _KNN_METRICS
    )


# --------------------------------------------------------------------------
# IVF/PQ index family (reference C2/C3/C4) — artifacts shared with DuckDB
# --------------------------------------------------------------------------


def _duck_l2(a: str, b: str) -> str:
    return f"sqrt(list_sum(list_transform(list_zip({a}, {b}), z -> (z[1]-z[2])*(z[1]-z[2]))))"


def _code_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code assignment (C4) as a checkable query: Spark derives each
    row's joint cell id from the centroid table via native argmin
    expressions; the oracle recomputes it in SQL from the SAME parquet
    centroids."""
    from fenix_spark.artifacts import ensure_artifacts
    from fenix_spark.operators.index import assign_code_expr

    coding, _ = ensure_artifacts(spark, sf_dir)
    emb = table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", assign_code_expr("embedding", coding).alias("code")
    )


def _code_assign_sql(sf_dir: str) -> str:
    from fenix_spark.artifacts import coding_path

    d0 = _duck_l2("centroid", "s0")
    d1 = _duck_l2("centroid", "s1")
    return f"""
    WITH coding AS (SELECT * FROM read_parquet('{coding_path(sf_dir)}/*.parquet')),
    sub AS (
        SELECT vec_id,
               embedding[1:32]::DOUBLE[] AS s0,
               embedding[33:64]::DOUBLE[] AS s1
        FROM embeddings
    )
    SELECT vec_id,
           (SELECT cell FROM coding WHERE codebook = 0 ORDER BY {d0}, cell LIMIT 1) * 8
         + (SELECT cell FROM coding WHERE codebook = 1 ORDER BY {d1}, cell LIMIT 1)
           AS code
    FROM sub
    """


def _ivf_probe_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe search (C2): prune to the 16 best of 64 joint cells
    (physical partition pruning on the __CODED_ID__-partitioned index),
    then the exact-distance top-k tail. Mirrors reference probes=16,
    maxval=10 (tests/test_flight.py:133-140)."""
    from fenix_spark.artifacts import ensure_artifacts
    from fenix_spark.operators.coder import rank_cells
    from fenix_spark.operators.index import CODE_COL

    coding, indexed = ensure_artifacts(spark, sf_dir)
    target = _query_vector(spark, sf_dir)
    cells = rank_cells(coding, target, "l2", limit=16)
    return (
        indexed.where(F.col(CODE_COL).isin(cells))
        .select(
            "vec_id",
            "label",
            F.col(CODE_COL).cast("bigint").alias("code"),
            _round_dist(
                distance("l2", vec_double("embedding"), query_literal(target))
            ).alias("dist"),
        )
        .orderBy("dist", "vec_id")
        .limit(10)
    )


def _ivf_probe_search_sql(sf_dir: str) -> str:
    from fenix_spark.artifacts import coding_path, index_dir

    cell_d0 = _duck_l2("c0.centroid", "qv[1:32]")
    cell_d1 = _duck_l2("c1.centroid", "qv[33:64]")
    row_d = _duck_l2("embedding::DOUBLE[]", "qv")
    return f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    coding AS (SELECT * FROM read_parquet('{coding_path(sf_dir)}/*.parquet')),
    cellscore AS (
        SELECT c0.cell * 8 + c1.cell AS joint, {cell_d0} + {cell_d1} AS score
        FROM (SELECT * FROM coding WHERE codebook = 0) c0,
             (SELECT * FROM coding WHERE codebook = 1) c1, q
    ),
    probes AS (SELECT joint FROM cellscore ORDER BY score, joint LIMIT 16),
    idx AS (
        SELECT * FROM read_parquet('{index_dir(sf_dir)}/*/*.parquet', hive_partitioning = true)
    )
    SELECT vec_id, label, CAST(__CODED_ID__ AS BIGINT) AS code, round({row_d}, 6) + 0.0 AS dist
    FROM idx, q
    WHERE CAST(__CODED_ID__ AS BIGINT) IN (SELECT joint FROM probes)
    ORDER BY dist, vec_id
    LIMIT 10
    """


def _ivf_batch_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch IVF search (operators/index.py:batch_probe_search): 8
    query vectors × top-5, probes=16 — probe cells derived per query
    row, then an EQUI-join on __CODED_ID__ (the fenix-flavored
    similarity join, SURVEY.md §2.3). No per-query driver round-trip;
    scales to a full DataFrame of queries.

    TWO arms under one oracle row (VERDICT r04 #9):

    - ``small``: the 64-cell coding — probe cells via the enumerated
      native expression (``probe_cells_expr``).
    - ``large``: the 65,536-cell k16n4 coding (> the 4096-cell
      enumeration bound) — probe cells AND code assignment via the
      O(n·k) beam path (``probe_cells_join``), whose exactness the
      oracle now checks end-to-end: DuckDB recomputes assignment by
      separable per-codebook argmin and probe ranking by BRUTE
      enumeration over all 65,536 joint cells, so any beam-pruning
      error would hash-mismatch."""
    from fenix_spark.artifacts import ensure_artifacts, ensure_large_flat_index
    from fenix_spark.operators.index import batch_probe_search

    coding, indexed = ensure_artifacts(spark, sf_dir)
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 8)
    small = batch_probe_search(
        queries, indexed, coding, "embedding", metric="l2", k=5, probes=16, round_to=6
    )
    # index build (beam assignment of every embedding) is a cached
    # artifact like every other index — the query pays search only;
    # the oracle still re-derives EVERY stored code independently
    fine, indexed_big = ensure_large_flat_index(spark, sf_dir)
    # probes=64 on 65,536 cells: cells hold ~n/65k vectors, so a
    # 16-probe shortlist would be near-empty — 64 probes exercises the
    # beam's pruning depth AND yields a non-trivial candidate set
    large = batch_probe_search(
        queries, indexed_big, fine, "embedding", metric="l2", k=5, probes=64, round_to=6
    )
    return (
        small.withColumn("arm", F.lit("small"))
        .unionByName(large.withColumn("arm", F.lit("large")))
        .withColumnRenamed("__DISTANCE__", "dist")
        .select("arm", "query_id", "right_id", "dist", "rank")
    )


def _ivf_batch_search_sql(sf_dir: str) -> str:
    from fenix_spark.artifacts import coding_path, fine_coding_path, index_dir

    cell_d0 = _duck_l2("c0.centroid", "qv[1:32]")
    cell_d1 = _duck_l2("c1.centroid", "qv[33:64]")
    row_d = _duck_l2("embedding::DOUBLE[]", "qv")
    # large arm: 4 codebooks over 16-dim sub-vectors (65,536 cells)
    lcell = " + ".join(
        _duck_l2(f"c{j}.centroid", f"qv[{16 * j + 1}:{16 * (j + 1)}]")
        for j in range(4)
    )
    row_dl = _duck_l2("e.v", "qv")
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 8),
    coding AS (SELECT * FROM read_parquet('{coding_path(sf_dir)}/*.parquet')),
    cellscore AS (
        SELECT q.query_id, c0.cell * 8 + c1.cell AS joint, {cell_d0} + {cell_d1} AS score
        FROM q, (SELECT * FROM coding WHERE codebook = 0) c0,
             (SELECT * FROM coding WHERE codebook = 1) c1
    ),
    probes AS (
        SELECT query_id, joint FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score, joint) AS pr
            FROM cellscore) WHERE pr <= 16
    ),
    idx AS (
        SELECT * FROM read_parquet('{index_dir(sf_dir)}/*/*.parquet', hive_partitioning = true)
    ),
    cand AS (
        SELECT p.query_id, idx.vec_id AS right_id, round({row_d}, 6) + 0.0 AS dist
        FROM probes p
        JOIN idx ON CAST(idx.__CODED_ID__ AS BIGINT) = p.joint
        JOIN q ON q.query_id = p.query_id
    ),
    codingL AS (SELECT * FROM read_parquet('{fine_coding_path(sf_dir)}/*.parquet')),
    embL AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    subL AS (
        SELECT vec_id, j,
               CASE j WHEN 0 THEN v[1:16] WHEN 1 THEN v[17:32]
                      WHEN 2 THEN v[33:48] ELSE v[49:64] END AS sub
        FROM embL, (SELECT unnest([0, 1, 2, 3]) AS j) js
    ),
    bestL AS (
        SELECT vec_id, j, cell FROM (
            SELECT s.vec_id, s.j, c.cell,
                   row_number() OVER (PARTITION BY s.vec_id, s.j
                       ORDER BY {_duck_l2("c.centroid", "s.sub")}, c.cell) AS rn
            FROM subL s JOIN codingL c ON c.codebook = s.j
        ) WHERE rn = 1
    ),
    assignL AS (
        -- separable per-codebook argmin (L2 joint score is the sum of
        -- per-book scores); digit fold matches the beam's joint id
        SELECT vec_id,
               CAST(sum(cell * CASE j WHEN 0 THEN 4096 WHEN 1 THEN 256
                                      WHEN 2 THEN 16 ELSE 1 END) AS BIGINT) AS joint
        FROM bestL GROUP BY vec_id
    ),
    cellscoreL AS (
        SELECT q.query_id,
               ((c0.cell * 16 + c1.cell) * 16 + c2.cell) * 16 + c3.cell AS joint,
               {lcell} AS score
        FROM q, (SELECT * FROM codingL WHERE codebook = 0) c0,
             (SELECT * FROM codingL WHERE codebook = 1) c1,
             (SELECT * FROM codingL WHERE codebook = 2) c2,
             (SELECT * FROM codingL WHERE codebook = 3) c3
    ),
    probesL AS (
        SELECT query_id, joint FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score, joint) AS pr
            FROM cellscoreL) WHERE pr <= 64
    ),
    candL AS (
        SELECT p.query_id, a.vec_id AS right_id, round({row_dl}, 6) + 0.0 AS dist
        FROM probesL p
        JOIN assignL a ON a.joint = p.joint
        JOIN embL e ON e.vec_id = a.vec_id
        JOIN q ON q.query_id = p.query_id
    )
    SELECT 'small' AS arm, query_id, right_id, dist, CAST(rank AS INTEGER) AS rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist, right_id) AS rank
        FROM cand)
    WHERE rank <= 5
    UNION ALL
    SELECT 'large' AS arm, query_id, right_id, dist, CAST(rank AS INTEGER) AS rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist, right_id) AS rank
        FROM candL)
    WHERE rank <= 5
    """


_LSH_NBITS, _LSH_RADIUS = 8, 2


def _lsh_ann_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH bucketed ANN (operators/lsh.py): scan only buckets
    within Hamming radius 2 of the query's 8-bit sign bucket (37/256
    buckets ≈ 14% of rows), exact cosine top-k on the survivors. The
    training-free counterpart to the IVF path."""
    from fenix_spark.operators.lsh import (
        probe_buckets,
        srp_bucket_expr,
        srp_bucket_of,
        srp_planes,
    )

    emb = table(spark, sf_dir, "embeddings")
    target = _query_vector(spark, sf_dir)
    planes = srp_planes(64, _LSH_NBITS)
    probes = probe_buckets(srp_bucket_of(target, planes), _LSH_NBITS, _LSH_RADIUS)
    return (
        emb.where(srp_bucket_expr("embedding", planes).isin(probes))
        .select(
            "vec_id",
            "label",
            _round_dist(
                distance("cosine", vec_double("embedding"), query_literal(target))
            ).alias("dist"),
        )
        .orderBy("dist", "vec_id")
        .limit(10)
    )


def _lsh_ann_search_sql() -> str:
    from fenix_spark.operators.lsh import srp_planes

    planes = srp_planes(64, _LSH_NBITS)

    def plane_dot(p) -> str:
        lits = ", ".join(repr(float(x)) for x in p)
        return (
            "list_sum(list_transform(list_zip(embedding::DOUBLE[], "
            f"[{lits}]), z -> z[1]*z[2]))"
        )

    bucket = " + ".join(
        f"(CASE WHEN {plane_dot(p)} >= 0 THEN {2**i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    # The probe set depends on the (fixed) query vector; it is computed
    # driver-side with the same code the Spark query uses and spliced
    # in by _render_lsh_sql.
    return f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    b AS (SELECT *, ({bucket}) AS bucket FROM embeddings)
    SELECT vec_id, label, round({_DUCK_METRIC["cosine"]}, 6) + 0.0 AS dist
    FROM b, q
    WHERE bucket IN {{probes}}
    ORDER BY dist, vec_id
    LIMIT 10
    """


def _render_lsh_sql(sf_dir: str) -> str:
    """Probe buckets depend on the query vector, which is fixed
    (vec_id=0 of the oracle SF) — resolved at registry-build time with
    the same driver-side code the Spark query uses."""
    import duckdb as _duck

    from fenix_spark.operators.lsh import probe_buckets, srp_bucket_of, srp_planes

    con = _duck.connect()
    target = con.sql(
        f"SELECT embedding FROM read_parquet('{sf_dir}/embeddings.parquet') WHERE vec_id = 0"
    ).fetchone()[0]
    con.close()
    planes = srp_planes(64, _LSH_NBITS)
    probes = probe_buckets(srp_bucket_of(list(target), planes), _LSH_NBITS, _LSH_RADIUS)
    return _lsh_ann_search_sql().replace("{probes}", "(" + ", ".join(map(str, probes)) + ")")


def _similarity_join_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch KNN / similarity join: every embedding's top-3 nearest
    neighbors (self included), via the broadcast-matmul mapInPandas path
    (operators/search.py:similarity_join_brute). The reference serves
    one query vector per call (flight.py:242-288); this is the same
    semantics as a set-at-a-time join."""
    from fenix_spark.operators.search import similarity_join_brute

    emb = table(spark, sf_dir, "embeddings")
    out = similarity_join_brute(emb, emb, "embedding", metric="l2", k=3, round_to=6)
    return out.withColumnRenamed("__DISTANCE__", "dist")


_SIMILARITY_JOIN_SQL = f"""
WITH pairs AS (
    SELECT l.vec_id AS left_id, r.vec_id AS right_id,
           round({_duck_l2("l.embedding::DOUBLE[]", "r.embedding::DOUBLE[]")}, 6) + 0.0 AS dist
    FROM embeddings l, embeddings r
)
SELECT left_id, right_id, dist, CAST(rank AS INTEGER) AS rank FROM (
    SELECT *, row_number() OVER (PARTITION BY left_id ORDER BY dist, right_id) AS rank
    FROM pairs
)
WHERE rank <= 3
"""


# --------------------------------------------------------------------------
# Relational corpus (Spark-native capability over the TPC-H-ish tables)
# --------------------------------------------------------------------------


def _scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1+P2: filtered, projected scan — filters and the 4-column
    projection both reach the parquet reader (pushdown verified in
    tests/test_plans.py)."""
    li = table(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= ts_lit("1997-01-01"))
        & (F.col("l_shipdate") < ts_lit("1997-02-01"))
        & (F.col("l_quantity") < 10)
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias("net_price"),
    )


_SCAN_FILTER_PROJECT_SQL = f"""
SELECT l_orderkey, l_linenumber, l_quantity,
       round(l_extendedprice * (1 - l_discount), 2) AS net_price
FROM lineitem
WHERE l_shipdate >= {duck_ts("1997-01-01")} AND l_shipdate < {duck_ts("1997-02-01")}
  AND l_quantity < 10
"""


# (P6 v-stack / union-all is exercised inside _set_ops' 'vstack' rows.)


def _tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary: partial (map-side) aggregation on a
    2-value × 2-value grouping key — the shuffle moves only
    |groups|·|partitions| rows regardless of input scale."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= ts_lit("2000-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(
                F.sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_TPCH_Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= {duck_ts("2000-09-02")}
GROUP BY l_returnflag, l_linestatus
"""


def _tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shipping priority: two key joins + agg + top-10.
    customer is tiny → broadcast; orders⋈lineitem shuffles on
    l_orderkey (the natural key at any scale)."""
    cust = table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = table(spark, sf_dir, "orders").where(F.col("o_orderdate") < ts_lit("1998-01-01"))
    li = table(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > ts_lit("1998-01-01"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
                 "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


_TPCH_Q3_SQL = f"""
SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < {duck_ts("1998-01-01")}
  AND l_shipdate > {duck_ts("1998-01-01")}
GROUP BY 1, 2, 3
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def _tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 local supplier volume: 6-way join; all dimension tables
    broadcast, the single shuffle is lineitem⋈orders."""
    region = table(spark, sf_dir, "region")
    nation = table(spark, sf_dir, "nation")
    cust = table(spark, sf_dir, "customer")
    supp = table(spark, sf_dir, "supplier")
    orders = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= ts_lit("1996-01-01")) & (F.col("o_orderdate") < ts_lit("1997-01-01"))
    )
    li = table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .where(cust.c_nationkey == supp.s_nationkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


_TPCH_Q5_SQL = f"""
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE o_orderdate >= {duck_ts("1996-01-01")} AND o_orderdate < {duck_ts("1997-01-01")}
GROUP BY n_name
"""


def _dsir_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance scoring (operators/dsir.py — Xie et al. 2023):
    fit hashed-bigram distributions for a target corpus (the English
    documents) and the raw corpus (all documents), then score every
    raw document with its importance log-weight Σ(ln p_b − ln q_b).
    The oracle re-derives the ENTIRE fit+score pass — tokenize, gram,
    bucket, smooth, ratio, per-doc sum — so any feature-hash, counting,
    smoothing, or join error hash-mismatches. B is small (1009) so the
    DuckDB domain join stays cheap; the Spark side broadcasts the same
    B-row ratio table."""
    from fenix_spark.operators.dsir import fit_importance_model, importance_weights

    docs = table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    raw = docs.select("doc_id", "text")
    target = docs.where(F.col("lang") == "en").select("doc_id", "text")
    model = fit_importance_model(
        target, raw, "text", "doc_id", buckets=1009, alpha=0.5, max_ngram=2
    )
    return importance_weights(raw, "text", "doc_id", model).select(
        F.col("id").alias("doc_id"),
        F.col("n_grams").cast("bigint").alias("n_grams"),
        F.col("log_weight"),
    )


def _dsir_scores_sql() -> str:
    from fenix_spark.functions.texthash import duck_hash60, duck_tokens

    B, ALPHA = 1009, 0.5

    def grams_cte(where: str, name: str) -> str:
        # unigram ++ bigram occurrences (gram_occurrences: no short-doc
        # fallback), hashed into B buckets
        return f"""
    {name}_t AS (SELECT doc_id, {duck_tokens("text")} AS tk FROM documents{where}),
    {name} AS (
        SELECT doc_id, {duck_hash60("g")} % {B} AS b
        FROM (
            SELECT doc_id, u.g AS g FROM {name}_t,
            UNNEST(list_concat(tk,
                CASE WHEN len(tk) >= 2 THEN
                    list_transform(generate_series(1, len(tk) - 1),
                                   i -> tk[i] || ' ' || tk[i+1])
                ELSE [] END)) u(g)
        )
    )"""

    return f"""
WITH {grams_cte(" WHERE lang = 'en'", 'tg')}, {grams_cte('', 'rg')},
tc AS (SELECT b, count(*)::DOUBLE AS ct FROM tg GROUP BY b),
rc AS (SELECT b, count(*)::DOUBLE AS cr FROM rg GROUP BY b),
ratio AS (
    SELECT d.b,
           ln((coalesce(tc.ct, 0) + {ALPHA}) /
              ((SELECT count(*) FROM tg)::DOUBLE + {ALPHA} * {B}))
         - ln((coalesce(rc.cr, 0) + {ALPHA}) /
              ((SELECT count(*) FROM rg)::DOUBLE + {ALPHA} * {B})) AS lr
    FROM (SELECT range AS b FROM range({B})) d
    LEFT JOIN tc ON tc.b = d.b LEFT JOIN rc ON rc.b = d.b
),
scored AS (
    SELECT g.doc_id, count(*) AS n_grams, sum(r.lr) AS lw
    FROM rg g JOIN ratio r ON g.b = r.b GROUP BY g.doc_id
)
SELECT d.doc_id,
       coalesce(s.n_grams, 0)::BIGINT AS n_grams,
       (round(coalesce(s.lw, 0.0), 6) + 0.0) AS log_weight
FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
"""


def _rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets over (status, priority): subtotals + grand
    total in one pass — Spark expands grouping sets before the single
    hash aggregate, so it stays one shuffle. NULL grouping slots are
    coalesced to 'ALL' so both engines hash identical values."""
    orders = table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_price",
        )
    )


_ROLLUP_AGG_SQL = """
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_price
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def _hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-sketch quantiles end-to-end (operators/sketches.py):
    equi-width exact-mergeable rollup (one partial-agg groupBy on ≤
    bins keys per group) → native cum-sum window over ≤ bins rows per
    group → first bin reaching q·N. The summary is persistable and
    merge = plain sum, which `percentile` can't give at 100 TB (its
    state dies with the query); the layout is engine-portable so the
    DuckDB mirror reproduces it bit-for-bit. Bin values are exact
    multiples of the width — no float rounding needed."""
    from fenix_spark.operators.sketches import hist_quantiles, hist_rollup

    ev = events_table(spark, sf_dir).select("event_type", "value")
    lo, hi, bins = 0.0, 1000.0, 200
    roll = hist_rollup(ev, ["event_type"], "value", lo, hi, bins)
    return hist_quantiles(
        roll, ["event_type"], [0.25, 0.5, 0.9, 0.99], lo, hi, bins
    )


_HIST_QUANTILES_SQL = """
WITH ev AS (SELECT event_type, value::DOUBLE AS v FROM events WHERE value IS NOT NULL),
b AS (SELECT event_type, least(199, greatest(0, floor(v / 5.0)::INT)) AS bin,
             count(*) AS c
      FROM ev GROUP BY 1, 2),
cum AS (SELECT event_type, bin,
               sum(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
               sum(c) OVER (PARTITION BY event_type) AS n
        FROM b),
qs(q) AS (VALUES (0.25::DOUBLE), (0.5::DOUBLE), (0.9::DOUBLE), (0.99::DOUBLE)),
hit AS (SELECT event_type, q, min(bin) AS bin
        FROM cum, qs WHERE cum >= q * n GROUP BY event_type, q)
SELECT event_type, q, (bin + 1)::DOUBLE * 5.0 AS value FROM hit
"""


def _heavy_hitters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy hitters end-to-end (operators/sketches.py:
    heavy_hitters): one scan of per-partition m-counter MG summaries
    (each partition ships ≤ m (term, lb) rows — the term universe
    never shuffles), then exact counts for the candidate union via a
    broadcast semi-join. Counts are EXACT and the completeness bound
    rides along as count_floor = ⌊N/(m+1)⌋, so the oracle is the plain
    exact top-k: any MG completeness failure (a frequent term missing
    from every partition summary) would drop a row and hash-mismatch."""
    from fenix_spark.operators.sketches import heavy_hitters

    return heavy_hitters(
        table(spark, sf_dir, "documents"), "text", k=20, m=512
    )


def _heavy_hitters_sql() -> str:
    from fenix_spark.functions.texthash import duck_tokens

    return f"""
    WITH toks AS (
        SELECT unnest({duck_tokens("text")}) AS term FROM documents
    ), tot AS (SELECT count(*) AS n FROM toks)
    SELECT term, count(*) AS count,
           (SELECT n // 513 FROM tot) AS count_floor
    FROM toks GROUP BY term
    ORDER BY count DESC, term ASC LIMIT 20
    """


def _drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical distribution drift (operators/drift.py:freq_drift):
    the language mix per source, even doc_ids (ref) vs odd (cur) —
    PSI / Jensen-Shannon / total-variation with the standard ε-floor
    for empty categories. Each side folds to per-(source, lang) counts
    with one partial-agg groupBy; the compare is a summary-sized
    full-outer join — at 100 TB the only full-data work is two scans.
    Metrics are rounded at 6dp on both engines (sums of ≤5 log terms;
    both engines accumulate in double)."""
    from fenix_spark.operators.drift import freq_drift

    docs = table(spark, sf_dir, "documents")
    ref = docs.where(F.col("doc_id") % 2 == 0)
    cur = docs.where(F.col("doc_id") % 2 == 1)
    out = freq_drift(ref, cur, ["source"], "lang")
    return out.select(
        "source",
        F.round("psi", 6).alias("psi"),
        F.round("jsd", 6).alias("jsd"),
        F.round("tv", 6).alias("tv"),
        "n_ref",
        "n_cur",
    )


_DRIFT_PSI_SQL = """
WITH rc AS (
    SELECT source, lang AS bin, count(*) AS c_ref
    FROM documents WHERE doc_id % 2 = 0 AND lang IS NOT NULL GROUP BY 1, 2
), cc AS (
    SELECT source, lang AS bin, count(*) AS c_cur
    FROM documents WHERE doc_id % 2 = 1 AND lang IS NOT NULL GROUP BY 1, 2
), j AS (
    SELECT coalesce(rc.source, cc.source) AS source,
           coalesce(rc.bin, cc.bin) AS bin, c_ref, c_cur
    FROM rc FULL OUTER JOIN cc ON rc.source = cc.source AND rc.bin = cc.bin
), spread AS (
    SELECT source, bin, c_ref, c_cur,
           sum(c_ref) OVER (PARTITION BY source)::BIGINT AS n_ref,
           sum(c_cur) OVER (PARTITION BY source)::BIGINT AS n_cur
    FROM j
), pq AS (
    SELECT source, n_ref, n_cur,
           greatest(coalesce(c_ref / n_ref::DOUBLE, 0), 1e-6) AS p,
           greatest(coalesce(c_cur / n_cur::DOUBLE, 0), 1e-6) AS q
    FROM spread
)
SELECT source,
       round(sum((p - q) * ln(p / q)), 6) AS psi,
       round(sum(0.5 * (p * ln(p / ((p + q) / 2)) + q * ln(q / ((p + q) / 2)))), 6) AS jsd,
       round(sum(abs(p - q)) / 2, 6) AS tv,
       max(n_ref) AS n_ref, max(n_cur) AS n_cur
FROM pq GROUP BY source
"""


def _set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All §2.7 set operations in one tagged result. 'vstack' rows =
    P6 union-all / multi-source load (ref: src/fenix/io/table/
    table.py:29-35, unionByName); 'setop' rows = INTERSECT / EXCEPT
    beyond the reference (customers retained vs churned 1996→1997).
    The set ops compile to hash aggregates on the key: one shuffle
    each; the v-stack arm is a pure scan union."""
    cust = table(spark, sf_dir, "customer")
    a = cust.where(F.col("c_mktsegment") == "BUILDING")
    b = cust.where(F.col("c_mktsegment") == "MACHINERY")
    vstack = a.unionByName(b).select(
        F.lit("vstack").alias("op"),
        F.col("c_custkey").alias("key"),
        F.col("c_mktsegment").alias("tag"),
        F.round("c_acctbal", 2).alias("bal"),
    )
    orders = table(spark, sf_dir, "orders")
    in96 = orders.where(
        (F.col("o_orderdate") >= ts_lit("1996-01-01"))
        & (F.col("o_orderdate") < ts_lit("1997-01-01"))
    ).select("o_custkey")
    in97 = orders.where(
        (F.col("o_orderdate") >= ts_lit("1997-01-01"))
        & (F.col("o_orderdate") < ts_lit("1998-01-01"))
    ).select("o_custkey")
    both = in96.intersect(in97).select("o_custkey", F.lit("retained").alias("cohort"))
    gone = in96.subtract(in97).select("o_custkey", F.lit("churned").alias("cohort"))
    setop = both.unionByName(gone).select(
        F.lit("setop").alias("op"),
        F.col("o_custkey").alias("key"),
        F.col("cohort").alias("tag"),
        F.lit(None).cast("double").alias("bal"),
    )
    return vstack.unionByName(setop)


_SET_OPS_SQL = f"""
WITH in96 AS (SELECT o_custkey FROM orders
              WHERE o_orderdate >= {duck_ts("1996-01-01")} AND o_orderdate < {duck_ts("1997-01-01")}),
     in97 AS (SELECT o_custkey FROM orders
              WHERE o_orderdate >= {duck_ts("1997-01-01")} AND o_orderdate < {duck_ts("1998-01-01")})
SELECT 'vstack' AS op, c_custkey AS key, c_mktsegment AS tag, round(c_acctbal, 2) AS bal
FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
UNION ALL
SELECT 'setop' AS op, o_custkey AS key, 'retained' AS tag, NULL::DOUBLE AS bal
FROM (SELECT * FROM in96 INTERSECT SELECT * FROM in97)
UNION ALL
SELECT 'setop' AS op, o_custkey AS key, 'churned' AS tag, NULL::DOUBLE AS bal
FROM (SELECT * FROM in96 EXCEPT SELECT * FROM in97)
"""


def _group_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-n per group (§2.5): rank orders by totalprice within
    each priority class."""
    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select(
            "o_orderpriority",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            "rn",
        )
    )


_GROUP_TOPN_SQL = """
SELECT o_orderpriority, o_orderkey, round(o_totalprice, 2) AS totalprice, rn
FROM (
    SELECT o_orderpriority, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_orderpriority
                              ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
    FROM orders
)
WHERE rn <= 3
"""


def _paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style paragraph dedup (operators/paragraphs.py): the
    corpus is re-chunked into 15-token paragraphs (the synthetic
    documents carry no blank-line breaks — the chunking transform is
    identical on both engines, so the oracle still checks the dedup
    itself), then every repeated paragraph keeps only its global first
    (doc_id, pos) occurrence and documents are rebuilt. The oracle
    re-derives the whole pass HASH-FREE — paragraphs grouped by their
    normalized text, owner by row_number, rebuild by positional
    string_agg — so any normalization, canonical-selection, or
    reconstruction error hash-mismatches."""
    from fenix_spark.operators.paragraphs import dedup_paragraphs

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.filter(F.split("text", r"\s+"), lambda t: t != F.lit(""))
    base = docs.select("doc_id", toks.alias("t")).withColumn("n", F.size("t"))
    n_chunks = F.ceil(F.col("n") / F.lit(15.0)).cast("int")
    paras = F.when(
        F.col("n") > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(F.slice("t", i * 15 + 1, 15), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    chunked = base.select(
        "doc_id", F.array_join(paras, "\n\n").alias("text")
    )
    out = dedup_paragraphs(chunked, "text", "doc_id", min_chars=20)
    return out.select(
        F.col("id").alias("doc_id"),
        F.col("text").alias("new_text"),
        F.col("kept_paragraphs").cast("bigint").alias("kept_paragraphs"),
        F.col("dropped_paragraphs").cast("bigint").alias("dropped_paragraphs"),
    )


_PARAGRAPH_DEDUP_SQL = """
WITH toks AS (
    SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS t
    FROM documents
),
paras AS (
    SELECT doc_id, u.s.pos AS pos, u.s.para AS para
    FROM (
        SELECT doc_id,
               CASE WHEN len(t) > 0 THEN list_transform(
                   generate_series(1, cast(ceil(len(t) / 15.0) AS BIGINT)),
                   c -> {'pos': c - 1,
                         'para': array_to_string(t[(c-1)*15+1 : (c-1)*15+15], ' ')})
               ELSE [] END AS arr
        FROM toks
    ), UNNEST(arr) u(s)
),
flagged AS (
    SELECT doc_id, pos, para, norm, length(norm) >= 20 AS informative
    FROM (
        SELECT doc_id, pos, para,
               trim(regexp_replace(lower(para), '\\s+', ' ', 'g')) AS norm
        FROM paras
    )
),
own AS (
    SELECT norm, doc_id AS oid, pos AS opos
    FROM (
        SELECT norm, doc_id, pos,
               row_number() OVER (PARTITION BY norm ORDER BY doc_id, pos) AS rn
        FROM flagged WHERE informative
    ) WHERE rn = 1
),
kept AS (
    SELECT f.doc_id, f.pos, f.para, f.informative
    FROM flagged f LEFT JOIN own o ON f.norm = o.norm
    WHERE NOT f.informative OR (f.doc_id = o.oid AND f.pos = o.opos)
),
rebuilt AS (
    SELECT doc_id,
           string_agg(para, chr(10) || chr(10) ORDER BY pos) AS text,
           sum(CASE WHEN informative THEN 1 ELSE 0 END) AS kept_n
    FROM kept GROUP BY doc_id
),
tot AS (
    SELECT doc_id, count(*) AS total_n FROM flagged WHERE informative GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(r.text, '') AS new_text,
       coalesce(r.kept_n, 0)::BIGINT AS kept_paragraphs,
       (coalesce(t.total_n, 0) - coalesce(r.kept_n, 0))::BIGINT AS dropped_paragraphs
FROM documents d
LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
LEFT JOIN tot t ON d.doc_id = t.doc_id
"""


def _tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 large-volume customers: HAVING-filtered subquery keys
    drive a semi join — the aggregate runs once, its survivors (a tiny
    key set) prune orders via broadcast semi join."""
    li = table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > 250)
    )
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey, "left_semi")
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round("o_totalprice", 2).alias("totalprice"),
        )
    )


_TPCH_Q18_SQL = """
SELECT c_custkey, c_name, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       round(o_totalprice, 2) AS totalprice
FROM orders
JOIN customer ON o_custkey = c_custkey
WHERE o_orderkey IN (
    SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
"""


# --------------------------------------------------------------------------
# Events: JSON extraction + sessionization (SURVEY.md §7 phase 5)
# --------------------------------------------------------------------------


def _events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_table(spark, sf_dir)
    return (
        ev.where(F.col("event_type") == "click")
        .select(
            "event_id",
            "user_id",
            F.get_json_object("props", "$.k").cast("int").alias("k_val"),
        )
    )


_EVENTS_JSON_SQL = """
SELECT event_id, user_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
FROM events WHERE event_type = 'click'
"""

_SESSION_GAP_MS = 30 * 60 * 1000


def _sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag → new-session
    flag → running sum = session id → per-session aggregates. Two
    window passes over the same (user_id, ts) partitioning — one
    shuffle total, Spark reuses the partitioning for the second window
    and the groupBy."""
    ev = events_table(spark, sf_dir).select("user_id", "event_id", "ts_ms", "value")
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    flagged = ev.withColumn(
        "new_s",
        F.when(
            F.lag("ts_ms").over(w).isNull()
            | ((F.col("ts_ms") - F.lag("ts_ms").over(w)) > _SESSION_GAP_MS),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_id", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_ms").alias("start_ms"),
        F.max("ts_ms").alias("end_ms"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


_SESSIONIZE_SQL = f"""
WITH base AS (
    SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value FROM events
), flagged AS (
    SELECT *, CASE WHEN lag(ts_ms) OVER w IS NULL
                     OR ts_ms - lag(ts_ms) OVER w > {_SESSION_GAP_MS}
              THEN 1 ELSE 0 END AS new_s
    FROM base
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
), sess AS (
    SELECT *, (sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                                ROWS UNBOUNDED PRECEDING))::BIGINT AS session_id
    FROM flagged
)
SELECT user_id, session_id, count(*) AS n_events,
       min(ts_ms) AS start_ms, max(ts_ms) AS end_ms,
       round(sum(value), 4) AS sum_value
FROM sess GROUP BY user_id, session_id
"""


def _asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (operators/joins.py): each click event
    matched to the user's most recent view at-or-before it. Union+
    window plan — ONE shuffle on user_id for both sides, no interval
    explosion; the shape that survives two 100 TB inputs. Views are
    pre-deduped per (user, ts) so ties are deterministic."""
    from fenix_spark.operators.joins import asof_join

    ev = events_table(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts_ms")
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts_ms")
        .agg(F.max("event_id").alias("view_event_id"))
    )
    out = asof_join(
        clicks, views, on="user_id", left_ts="ts_ms", right_ts="ts_ms",
        right_cols=["view_event_id"],
    )
    return out.select(
        "event_id",
        "user_id",
        "ts_ms",
        "right_view_event_id",
        (F.col("ts_ms") - F.col("right_ts_ms")).alias("ms_since_view"),
    )


_ASOF_JOIN_SQL = """
WITH ev AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, event_type FROM events),
clicks AS (SELECT event_id, user_id, ts_ms FROM ev WHERE event_type = 'click'),
views AS (
    SELECT user_id, ts_ms, max(event_id) AS view_event_id
    FROM ev WHERE event_type = 'view' GROUP BY user_id, ts_ms
)
SELECT c.event_id, c.user_id, c.ts_ms,
       v.view_event_id AS right_view_event_id,
       c.ts_ms - v.ts_ms AS ms_since_view
FROM clicks c ASOF LEFT JOIN views v
  ON c.user_id = v.user_id AND c.ts_ms >= v.ts_ms
"""

def _stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL Structured Streaming job (streaming/windows.py): file
    source → 1-hour tumbling windows per event_type → memory sink,
    drained with availableNow (deterministic single-batch backfill).
    Window boundaries are epoch-aligned, so the output is identical to
    the batch/SQL bucketing — which is exactly what the oracle checks:
    streaming and batch agree on finalized windows."""
    import shutil
    import tempfile
    import uuid

    from fenix_spark.streaming.windows import windowed_event_counts

    # The stream schema must match the file's physical ts encoding —
    # detect it from a batch read instead of assuming (VERDICT r03 #2:
    # the hardcoded nanos-long schema silently misread timestamp[us]
    # micros as nanos, collapsing every event near the 1970 epoch).
    batch_ts = events_table(spark, sf_dir).schema["ts"].dataType
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", batch_ts),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    # File streams need a DIRECTORY source; glob-filter to the one
    # events file inside the sf dir.
    src = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    src = src.withColumn("event_ts", F.timestamp_millis(ts_ms_expr(src)))
    out = windowed_event_counts(src, ts_col="event_ts", window_duration="1 hour").select(
        F.unix_millis("window_start").alias("window_ms"),
        "event_type",
        "n_events",
        "sum_value",
    )
    # Scale-shaped sink (VERDICT r03 #4): update-mode foreachBatch
    # appending each micro-batch's changed windows to parquet with its
    # batch id — a distributed file write, not a complete-mode memory
    # sink accumulating EVERY window ever seen on the driver. The final
    # value of a window is its row from the last batch that touched it
    # (max _bid per key); state stays bounded by the watermark.
    sink_dir = tempfile.mkdtemp(prefix=f"stream_counts_{uuid.uuid4().hex[:8]}_")

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("_bid", F.lit(batch_id)).write.mode("append").parquet(sink_dir)

    q = (
        out.writeStream.foreachBatch(_write_batch)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    sunk = spark.read.parquet(sink_dir)
    latest = sunk.groupBy("window_ms", "event_type").agg(
        F.max(F.struct("_bid", "n_events", "sum_value")).alias("last")
    )
    result = latest.select(
        "window_ms", "event_type", F.col("last.n_events").alias("n_events"),
        F.col("last.sum_value").alias("sum_value"),
    ).transform(_ckpt_eager)  # materialize before the tmp sink dir is removed
    shutil.rmtree(sink_dir, ignore_errors=True)
    return result


_STREAM_WINDOW_SQL = """
SELECT (epoch_ms(ts) // 3600000) * 3600000 AS window_ms,
       event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
FROM events
GROUP BY 1, 2
"""


_VALUE_BANDS = [(0.0, 50.0, "low"), (50.0, 150.0, "mid"), (150.0, 300.0, "high"), (300.0, 500.0, "peak")]


def _range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join via the bucketed equi-join rewrite
    (operators/joins.py:range_join_bucketed): intervals explode into
    covered buckets, points bucket by floor(value/width), hash-join on
    the bucket id, exact post-filter — a shuffle join where naive SQL
    gives a nested loop."""
    from fenix_spark.operators.joins import range_join_bucketed

    ev = events_table(spark, sf_dir).select("event_id", "value")
    bands = spark.createDataFrame(_VALUE_BANDS, "lo double, hi double, band string")
    out = range_join_bucketed(ev, bands, "value", bucket_width=50.0)
    return (
        out.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


_RANGE_JOIN_SQL = f"""
WITH bands(lo, hi, band) AS (VALUES {", ".join(f"({lo}, {hi}, '{b}')" for lo, hi, b in _VALUE_BANDS)})
SELECT band, count(*) AS n_events, round(sum(value), 4) AS sum_value
FROM events JOIN bands ON lo <= value AND value < hi
GROUP BY band
"""


# --------------------------------------------------------------------------
# Documents: dedup + text stats (LLM-pipeline operators)
# --------------------------------------------------------------------------


def _exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup both ways, tagged by method. 'text' rows group on
    full text equality (the oracle-checkable semantic); 'hash' rows
    group on hash60(normalized text) (operators/dedup.py:
    exact_dedup_by_hash) — the 100 TB variant whose shuffle key is an
    8-byte hash, never the document body."""
    from fenix_spark.operators.dedup import exact_dedup_by_hash

    docs = table(spark, sf_dir, "documents")
    by_text = (
        docs.groupBy("text")
        .agg(F.min("doc_id").alias("kept_id"), F.count(F.lit(1)).alias("dup_count"))
        .select(F.lit("text").alias("method"), "kept_id", "dup_count")
    )
    by_hash = exact_dedup_by_hash(docs, "text", "doc_id").select(
        F.lit("hash").alias("method"), "kept_id", "dup_count"
    )
    return by_text.unionByName(by_hash)


_EXACT_DEDUP_SQL = """
WITH h AS (
    SELECT doc_id,
           ('0x' || substring(md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))), 1, 15))::BIGINT
           AS content_hash
    FROM documents
)
SELECT 'text' AS method, min(doc_id) AS kept_id, count(*) AS dup_count
FROM documents GROUP BY text
UNION ALL
SELECT 'hash' AS method, min(doc_id) AS kept_id, count(*) AS dup_count
FROM h GROUP BY content_hash
"""


def _text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # retired from the oracle suite in r6 (its grouped count/avg shape
    # stays hash-checked by tpch_q1); kept because tests/test_plans.py
    # pins its column-pruning contract
    docs = table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )





def _nested_access(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NestedTensorType analog (ref: src/fenix/ex/arrow/nested/
    nested.py:106-122): struct-of-struct column built from the vector,
    then dotted-path access ``col("t.meta.label")`` — Spark's native
    jmespath equivalent. GetStructField is a zero-cost projection:
    struct construction and field access collapse in the optimizer."""
    emb = table(spark, sf_dir, "embeddings")
    v = vec_double("embedding")
    nested = F.struct(
        F.struct(
            F.col("label").alias("label"), F.size("embedding").alias("dim")
        ).alias("meta"),
        F.struct(
            F.element_at(v, 1).alias("head"),
            F.aggregate(v, F.lit(0.0), lambda s, x: s + x * x).alias("sq_norm"),
        ).alias("vec"),
    )
    return emb.withColumn("t", nested).select(
        "vec_id",
        F.col("t.meta.label").alias("label"),
        F.col("t.meta.dim").alias("dim"),
        F.round(F.col("t.vec.head"), 6).alias("head"),
        F.round(F.sqrt(F.col("t.vec.sq_norm")), 6).alias("norm"),
    )


_NESTED_ACCESS_SQL = """
WITH t AS (
    SELECT vec_id,
           {'meta': {'label': label, 'dim': len(embedding)},
            'vec': {'head': embedding[1]::DOUBLE,
                    'sq_norm': list_sum(list_transform(embedding::DOUBLE[], x -> x*x))}} AS t
    FROM embeddings
)
SELECT vec_id, t.meta.label AS label, t.meta.dim AS dim,
       round(t.vec.head, 6) AS head, round(sqrt(t.vec.sq_norm), 6) AS norm
FROM t
"""


# --------------------------------------------------------------------------
# Dedup family (LLM-pipeline operators, operators/dedup.py): exact-hash,
# MinHash+LSH, SimHash, n-gram Jaccard, winnowing, embedding near-dup.
# All hashing via functions/texthash.py → bit-identical across engines.
# --------------------------------------------------------------------------


# (hash-keyed exact dedup is exercised inside _exact_dedup's 'hash' rows.)


def _minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup: shingle → 24-component minhash → 3 bands
    × 8 rows → band-bucket equi-join (the only shuffle) → exact-Jaccard
    verify at ≥0.95, with the length filter applied BEFORE the
    candidate distinct (multi-band duplicates pruned pre-dedup). The
    3×8 band geometry puts the LSH knee at (1/3)^(1/8) ≈ 0.87, matched
    to the 0.95 threshold (a loose 4×3 geometry floods verify with 3×
    the candidates). The opt-in signature-estimate gate (est_min)
    stays OFF here — measured net loss on this boilerplate-free corpus
    (SCALE.md). Unigram shingles fit this corpus's ~31-word vocab; the
    operator takes shingle=n for real text."""
    from fenix_spark.operators.dedup import minhash_neardup_pairs

    return minhash_neardup_pairs(
        table(spark, sf_dir, "documents"), "text", "doc_id", threshold=0.95
    )


def _minhash_neardup_sql() -> str:
    from fenix_spark.functions.texthash import (
        duck_hash32,
        duck_minhash_signature,
        duck_tokens,
    )

    band_key = "concat(" + ", '|', ".join(f"sig[8*b + {i}]" for i in range(1, 9)) + ")"
    return f"""
    WITH toks AS (
        SELECT doc_id,
               list_distinct(list_transform({duck_tokens("text")}, x -> {duck_hash32("x")})) AS s
        FROM documents
    ), mh AS (
        SELECT doc_id, s, {duck_minhash_signature("s", 24)} AS sig FROM toks
    ), bands AS (
        SELECT doc_id, b, {band_key} AS key
        FROM mh, (SELECT unnest(range(3)) AS b)
    ), cand AS (
        SELECT DISTINCT a.doc_id AS id_l, c.doc_id AS id_r
        FROM bands a JOIN bands c ON a.b = c.b AND a.key = c.key AND a.doc_id < c.doc_id
    ), verified AS (
        SELECT id_l, id_r,
               round(len(list_intersect(l.s, r.s))::DOUBLE
                     / (len(l.s) + len(r.s) - len(list_intersect(l.s, r.s))), 6) AS jaccard
        FROM cand JOIN toks l ON id_l = l.doc_id JOIN toks r ON id_r = r.doc_id
    )
    SELECT id_l, id_r, jaccard FROM verified WHERE jaccard >= 0.95
    """


def _fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints, tagged by scheme: 'simhash' rows carry
    each doc's 32-bit SimHash (operators/dedup.py:simhash_fingerprints);
    'winnow' rows its winnowing fingerprint set (rolling 3-token shingle
    hashes, min per window of 4 — winnow_fingerprints). Both are pure
    per-row array math: zero shuffle, scan-bound at any scale."""
    from fenix_spark.operators.dedup import simhash_fingerprints, winnow_fingerprints

    docs = table(spark, sf_dir, "documents")
    sh = simhash_fingerprints(docs, "text", "doc_id").select(
        F.lit("simhash").alias("scheme"), "id", F.col("sim").cast("bigint").alias("fp")
    )
    wn = winnow_fingerprints(docs, "text", "doc_id").select(
        F.lit("winnow").alias("scheme"), "id", F.col("fp").cast("bigint").alias("fp")
    )
    return sh.unionByName(wn)


def _fingerprints_sql() -> str:
    return f"""
    SELECT 'simhash' AS scheme, id, CAST(sim AS BIGINT) AS fp FROM ({_simhash_fingerprint_sql()})
    UNION ALL
    SELECT 'winnow' AS scheme, id, CAST(fp AS BIGINT) AS fp FROM ({_winnow_fingerprint_sql()})
    """


def _simhash_fingerprint_sql() -> str:
    from fenix_spark.functions.texthash import duck_hash32, duck_simhash, duck_tokens

    return f"""
    WITH hashed AS (
        SELECT doc_id, list_transform({duck_tokens("text")}, x -> {duck_hash32("x")}) AS hs
        FROM documents
    )
    SELECT doc_id AS id, {duck_simhash("hs", 32)} AS sim FROM hashed
    """


def _triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counting over the part co-occurrence graph
    (operators/graph.py:triangle_count — the Schank & Wagner
    degree-ordered node iterator): parts co-listed in one order are
    edges; return the 30 parts in the most triangles (ties broken by
    part id). First oracle row for the GRAPH family (rotation #9,
    r13). The operator orients every edge low→high under the
    (degree, id) rank and closes wedges with one equi-join — O(m^{3/2})
    wedge rows instead of Σ deg², the bound that keeps a power-law
    graph feasible at 100 TB; the oracle re-derives per-node counts
    from a rank-free three-way self-join, so any orientation, edge-
    dedup, wedge-enumeration or corner-explosion error hash-mismatches
    on exact integer counts."""
    from fenix_spark.operators.graph import triangle_count

    # the l_quantity cut thins the co-occurrence graph from avg degree
    # ~120 to ~11 at sf0.1 (1.2M → 108k edges) — dense-graph triangle
    # counting is inherently superlinear, and the suite row should
    # measure the operator's join discipline, not brute wedge volume
    li = (
        table(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") <= 15)
        .select("l_orderkey", "l_partkey")
    )
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("dst"))
    edges = a.join(b, "k").where(F.col("src") < F.col("dst")).select("src", "dst")
    tri = triangle_count(edges)
    return (
        tri.where(F.col("triangles") > 0)
        .orderBy(F.desc("triangles"), "node")
        .limit(30)
        .select(
            F.col("node").alias("part"),
            F.col("triangles").cast("bigint").alias("triangles"),
        )
    )


_TRIANGLE_COUNTS_SQL = """
WITH li AS (
    SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity <= 15
), pairs AS (
    SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
    FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
    WHERE a.l_partkey < b.l_partkey
), tri AS (
    SELECT e1.u AS x, e1.v AS y, e2.v AS z
    FROM pairs e1
    JOIN pairs e2 ON e2.u = e1.v
    JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v
), corners AS (
    SELECT x AS part FROM tri
    UNION ALL SELECT y AS part FROM tri
    UNION ALL SELECT z AS part FROM tri
)
SELECT part, count(*) AS triangles
FROM corners GROUP BY part
ORDER BY triangles DESC, part LIMIT 30
"""


def _markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rotation #10 (promoted r13; mirror staged row-identical at
    sf0.001+sf0.01 BEFORE promotion in tests/test_sequences.py, the
    discipline that made rotations #7-#9 clean). First-order Markov
    transition matrix over per-user event sequences
    (operators/sequences.py:transition_counts, laplace=0): one lead
    window over (user, ts_ms, type) — the shuffle carries ids and
    short state strings — then a partial-aggregable (from, to) count;
    the result is ≤|states|² rows, summary-sized at any corpus scale.
    Ordering inside a user uses ts_ms (the encoding-robust helper) so
    both engines pair identically under either physical ts encoding."""
    from fenix_spark.operators.sequences import transition_counts

    ev = events_table(spark, sf_dir).select("user_id", "ts_ms", "event_type")
    out = transition_counts(ev, "user_id", "ts_ms", "event_type")
    return out.select(
        "from_state",
        "to_state",
        F.col("n").cast("bigint").alias("n"),
        F.round("prob", 6).alias("prob"),
    ).orderBy("from_state", "to_state")


_MARKOV_TRANSITIONS_SQL = """
WITH ev AS (
    SELECT user_id, epoch_ms(ts) AS ts_ms, event_type AS s FROM events
), pairs AS (
    SELECT s AS from_state,
           lead(s) OVER (PARTITION BY user_id ORDER BY ts_ms, s) AS to_state
    FROM ev
), c AS (
    SELECT from_state, to_state, count(*) AS n
    FROM pairs WHERE to_state IS NOT NULL GROUP BY 1, 2
)
SELECT from_state, to_state, n,
       round(n / sum(n) OVER (PARTITION BY from_state), 6) AS prob
FROM c ORDER BY from_state, to_state
"""


def _doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STAGED for rotation #11 (not yet in the oracle dicts — the
    mirror-first bar: tests/test_chunking.py proves the DuckDB mirror
    row-identical on the driver corpora BEFORE promotion, the
    discipline that made rotations #7-#10 clean). RAG-style document
    chunking (functions/chunking.py:chunk_docs): fixed 512-char
    windows with 64 chars of carried overlap, built entirely from
    sequence → transform → substring — the explode happens where the
    text lives, so at 100 TB this is scan-speed map work with ZERO
    shuffles, and every output value (chunk text included) is an
    exact string both engines must reproduce byte-for-byte."""
    from fenix_spark.functions.chunking import chunk_docs

    docs = table(spark, sf_dir, "documents")
    return chunk_docs(docs, "text", "doc_id", size=512, overlap=64).orderBy(
        "doc_id", "chunk_no"
    )


_DOC_CHUNKS_SQL = """
WITH c AS (
    SELECT doc_id, text,
           unnest(range(1, greatest(length(text) - 64, 1) + 1, 448)) AS s
    FROM documents
)
SELECT doc_id,
       CAST((s - 1) // 448 AS INTEGER) AS chunk_no,
       CAST(s AS INTEGER) AS start,
       substring(text, CAST(s AS INTEGER), 512) AS chunk,
       CAST(length(substring(text, CAST(s AS INTEGER), 512)) AS INTEGER)
           AS n_chars
FROM c ORDER BY doc_id, chunk_no
"""


def _oov_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STAGED for rotation #12 (not yet in the oracle dicts — the
    mirror-first bar: tests/test_vocab.py proves the DuckDB mirror
    row-identical on the driver corpora BEFORE promotion). Vocabulary
    coverage audit (operators/vocab.py:oov_report) against a
    self-derived vocab: the corpus's top-1000 terms by (count desc,
    term) — deterministic ties — then per-document OOV token counts
    and rate. Two-phase plan: a token-count aggregate whose top-1000
    is a TakeOrderedAndProject (summary-sized, broadcast back), then
    one explode + broadcast left join + per-doc count — text never
    shuffles at any corpus size. oov_rate is a single IEEE division
    (deterministic cross-engine; both engines round half-away at 6dp)."""
    from fenix_spark.functions.texthash import tokens
    from fenix_spark.operators.vocab import oov_report

    docs = table(spark, sf_dir, "documents")
    terms = docs.select(F.explode(tokens(F.col("text"))).alias("t"))
    vocab = (
        terms.groupBy("t")
        .count()
        .orderBy(F.col("count").desc(), F.col("t"))
        .limit(1000)
        .select("t")
    )
    out = oov_report(docs, "text", "doc_id", vocab)
    return out.select(
        "doc_id",
        "n_tokens",
        "n_oov",
        F.round("oov_rate", 6).alias("oov_rate"),
    ).orderBy("doc_id")


def _oov_coverage_sql() -> str:
    from fenix_spark.functions.texthash import duck_tokens

    return f"""
    WITH toks AS (
        SELECT doc_id, unnest({duck_tokens("text")}) AS t FROM documents
    ), vocab AS (
        SELECT t FROM toks GROUP BY t ORDER BY count(*) DESC, t LIMIT 1000
    ), per AS (
        SELECT k.doc_id, count(*) AS n_tokens,
               sum(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS n_oov
        FROM toks k LEFT JOIN vocab v ON k.t = v.t
        GROUP BY k.doc_id
    )
    SELECT d.doc_id,
           COALESCE(per.n_tokens, 0) AS n_tokens,
           COALESCE(per.n_oov, 0) AS n_oov,
           round(CASE WHEN COALESCE(per.n_tokens, 0) > 0
                 THEN per.n_oov / CAST(per.n_tokens AS DOUBLE)
                 ELSE 0.0 END, 6) AS oov_rate
    FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
    ORDER BY d.doc_id
    """


def _simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup, hamming ≤ 3: pigeonhole 4×8-bit band join has
    perfect recall at this radius — no |docs|² comparison, and the band
    equi-join is the only shuffle."""
    from fenix_spark.operators.dedup import simhash_neardup_pairs

    return simhash_neardup_pairs(table(spark, sf_dir, "documents"), "text", "doc_id")


def _simhash_neardup_sql() -> str:
    from fenix_spark.functions.texthash import duck_hash32, duck_simhash, duck_tokens

    return f"""
    WITH hashed AS (
        SELECT doc_id, list_transform({duck_tokens("text")}, x -> {duck_hash32("x")}) AS hs
        FROM documents
    ), sh AS (
        SELECT doc_id, {duck_simhash("hs", 32)} AS sim FROM hashed
    ), bands AS (
        SELECT doc_id, sim, b, (sim >> (8 * b)) & 255 AS key
        FROM sh, (SELECT unnest(range(4)) AS b)
    )
    SELECT DISTINCT a.doc_id AS id_l, c.doc_id AS id_r,
           CAST(bit_count(xor(a.sim, c.sim)) AS INTEGER) AS hamming
    FROM bands a JOIN bands c ON a.b = c.b AND a.key = c.key AND a.doc_id < c.doc_id
    WHERE bit_count(xor(a.sim, c.sim)) <= 3
    """


def _dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-based dedup DECISIONS (operators/components.py): simhash
    near-dup pairs → distributed connected components (min-label
    propagation, one equi-join + groupBy per round) → keep the min-id
    member of every component. The oracle re-derives the components
    with a DuckDB recursive transitive closure — any propagation error
    (chain double-drop, unconverged labels) changes the survivor set
    and hash-mismatches."""
    from fenix_spark.operators.components import dedup_keep_list
    from fenix_spark.operators.dedup import simhash_neardup_pairs

    docs = table(spark, sf_dir, "documents")
    pairs = simhash_neardup_pairs(docs, "text", "doc_id")
    return dedup_keep_list(docs, pairs, "doc_id", left="id_l", right="id_r").select(
        "doc_id"
    )


def _dedup_keep_list_sql() -> str:
    """Survivors via recursive reachability: a node is DROPPED iff it
    can reach a smaller node (the component min keeps itself)."""
    return f"""
    WITH RECURSIVE prs AS ({_simhash_neardup_sql()}),
    edges AS (
        SELECT id_l AS src, id_r AS dst FROM prs
        UNION
        SELECT id_r AS src, id_l AS dst FROM prs
    ),
    reach AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    drops AS (
        SELECT src AS node FROM reach GROUP BY src HAVING min(dst) < src
    )
    SELECT d.doc_id FROM documents d
    WHERE d.doc_id NOT IN (SELECT node FROM drops)
    """


def _substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup (operators/substring.py — Lee et al.
    ExactSubstr): every ≥20-token run duplicated anywhere in the
    corpus keeps its first (min doc_id, pos) occurrence; other
    occurrences are excised and the affected documents returned with
    their rewritten text. The oracle re-derives the whole pass
    HASH-FREE — windows grouped by their actual token text, canonical
    by row_number, spans by the same gaps-and-islands — so any
    hashing, canonical-selection, span-merge, or excision error
    hash-mismatches. ``verify_exact=True`` makes the Spark side's
    semantics exactly the oracle's (token equality, not hash
    equality)."""
    from fenix_spark.operators.substring import dedup_substrings

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    out = dedup_substrings(docs, "text", "doc_id", min_tokens=20)
    return out.where(F.col("tokens_removed") > 0).select(
        "doc_id",
        F.col("tokens_removed").cast("bigint").alias("tokens_removed"),
        F.col("text").alias("new_text"),
    )


_SUBSTRING_DEDUP_SQL = """
WITH toks AS (
    SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS t
    FROM documents
),
winpos AS (
    SELECT doc_id, unnest(range(len(t) - 19)) AS pos FROM toks WHERE len(t) >= 20
),
wins AS (
    SELECT p.doc_id, p.pos, array_to_string(t.t[p.pos + 1 : p.pos + 20], ' ') AS w
    FROM winpos p JOIN toks t USING (doc_id)
),
marked AS (
    SELECT doc_id, pos,
           row_number() OVER (PARTITION BY w ORDER BY doc_id, pos) AS rn,
           count(*) OVER (PARTITION BY w) AS occ
    FROM wins
),
dups AS (SELECT doc_id, pos FROM marked WHERE occ > 1 AND rn > 1),
isl AS (
    SELECT doc_id, pos,
           CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                  OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 20
                THEN 1 ELSE 0 END AS ni
    FROM dups
),
isl2 AS (
    SELECT doc_id, pos,
           sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island
    FROM isl
),
spans AS (
    SELECT doc_id, min(pos) AS s, max(pos) + 20 AS e
    FROM isl2 GROUP BY doc_id, island
),
marks AS (
    SELECT DISTINCT doc_id, unnest(range(s, e)) AS i FROM spans
),
tok_rows AS (
    SELECT doc_id, unnest(t) AS tok, unnest(range(len(t))) AS i FROM toks
),
kept AS (
    SELECT r.doc_id, r.i, r.tok
    FROM tok_rows r LEFT JOIN marks m ON r.doc_id = m.doc_id AND r.i = m.i
    WHERE m.doc_id IS NULL
),
affected AS (SELECT DISTINCT doc_id FROM spans),
newtext AS (
    SELECT a.doc_id,
           coalesce(string_agg(k.tok, ' ' ORDER BY k.i), '') AS new_text,
           count(k.tok) AS kept_n
    FROM affected a LEFT JOIN kept k USING (doc_id)
    GROUP BY a.doc_id
)
SELECT n.doc_id,
       (len(t.t) - n.kept_n)::BIGINT AS tokens_removed,
       n.new_text
FROM newtext n JOIN toks t USING (doc_id)
"""


def _winnow_fingerprint_sql() -> str:
    from fenix_spark.functions.texthash import (
        duck_hash60,
        duck_tokens,
        duck_word_shingles,
    )

    return f"""
    WITH toks AS (
        SELECT doc_id, {duck_tokens("text")} AS tk FROM documents
    ), sh AS (
        SELECT doc_id, {duck_word_shingles("tk", 3)} AS s FROM toks
    ), h AS (
        SELECT doc_id, list_transform(s, x -> {duck_hash60("x")}) AS hs FROM sh
    ), m AS (
        SELECT doc_id, list_distinct(list_transform(
            generate_series(1, greatest(len(hs) - 3, 1)),
            i -> list_min(hs[i:i+3]))) AS fps
        FROM h
    )
    SELECT doc_id AS id, unnest(fps) AS fp FROM m
    """


def _embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: each vector's nearest OTHER neighbor
    if within cosine distance 0.3 — the BLAS similarity join with
    self-exclusion masked inside the GEMM kernel, so the nearest-other
    row comes out directly: zero shuffles end to end (the r2 shape ran
    k=2 then re-ranked with a window — an extra shuffle after the GEMM
    had already ordered each row)."""
    from fenix_spark.operators.search import similarity_join_brute

    emb = table(spark, sf_dir, "embeddings")
    out = similarity_join_brute(
        emb, emb, "embedding", metric="cosine", k=1, round_to=6, exclude_self=True
    )
    return out.where(F.col("__DISTANCE__") <= 0.3).select(
        F.col("left_id").alias("vec_id"),
        F.col("right_id").alias("nn_id"),
        F.col("__DISTANCE__").alias("dist"),
    )


_EMBEDDING_NEARDUP_SQL = """
WITH pairs AS (
    SELECT a.vec_id AS vec_id, b.vec_id AS nn_id,
           round(0.5 - 0.5 * list_sum(list_transform(
                     list_zip(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), z -> z[1]*z[2]))
                 / (sqrt(list_sum(list_transform(a.embedding::DOUBLE[], x -> x*x)))
                    * sqrt(list_sum(list_transform(b.embedding::DOUBLE[], x -> x*x)))), 6) + 0.0 AS dist
    FROM embeddings a, embeddings b WHERE a.vec_id != b.vec_id
), r AS (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, nn_id) AS rn FROM pairs
)
SELECT vec_id, nn_id, dist FROM r WHERE rn = 1 AND dist <= 0.3
"""


def _epoch_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic upsampling to a fractional epoch count
    (operators/sampling.epoch_repeat — the materialization step of the
    LLM data-mixing law, epoch_mixture): every document repeated
    ⌊2.3⌋ = 2 full epochs via row-local explode (zero shuffles at any
    scale) plus one md5-bucket-decided fractional epoch salted by the
    epoch index. Integers only — engine-portable to the row: full
    epochs are ``generate_series`` in SQL, the fractional pass is the
    same hash60-threshold law as deterministic_sample."""
    from fenix_spark.operators.sampling import epoch_repeat

    docs = table(spark, sf_dir, "documents").select("doc_id")
    out = epoch_repeat(docs, "doc_id", 2.3, salt="r12")
    return out.select("doc_id", F.col("__epoch").cast("int").alias("epoch"))


def _epoch_sample_sql() -> str:
    from fenix_spark.functions.texthash import duck_hash60
    from fenix_spark.operators.sampling import _BUCKETS

    rate, salt = 2.3, "r12"
    full = int(rate)
    thresh = int(round((rate - full) * _BUCKETS))
    h = duck_hash60(f"doc_id::VARCHAR || '{salt}/ep{full}'")
    return f"""
WITH ids AS (SELECT doc_id FROM documents)
SELECT doc_id, CAST(e.generate_series AS INTEGER) AS epoch
FROM ids, generate_series(0, {full - 1}) e
UNION ALL
SELECT doc_id, {full} AS epoch FROM ids WHERE ({h} % {_BUCKETS}) < {thresh}
"""


def _bootstrap_ci_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% CI for total chars per language
    (operators/bootstrap.bootstrap_ci — Hanley & MacGibbon 2006,
    the at-scale bootstrap: per-(row, replicate) Poisson(1) weights
    instead of resample shuffles): 80 replicates in ONE scan + one
    summary shuffle — each group ships 81 partial sums, never rows.
    Replicate weights are a pure function of (doc_id, salt) via the
    same md5→uniform construction as the sampling family, so the whole
    computation is engine-portable. ``stat='sum'`` keeps every
    replicate statistic on exact integers (weights 0-10 × integer
    n_chars, far below 2^53), so estimate/lo/hi are bit-identical
    doubles on any engine — cast to BIGINT, no rounding anywhere."""
    from fenix_spark.operators.bootstrap import bootstrap_ci

    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    out = bootstrap_ci(
        docs,
        ["lang"],
        "n_chars",
        "doc_id",
        stat="sum",
        n_boot=80,
        confidence=0.95,
        salt="r10",
    )
    return out.select(
        "lang",
        F.col("estimate").cast("bigint").alias("estimate"),
        F.col("lo").cast("bigint").alias("lo"),
        F.col("hi").cast("bigint").alias("hi"),
        "n_boot",
    )


def _bootstrap_ci_sql() -> str:
    # The exact Poisson(1) inverse-CDF ladder the Spark expression uses
    # (operators/bootstrap.POISSON1_CDF), rendered at full double
    # precision so both engines threshold the same u against the same
    # constants. The percentile indices are computed by the SAME float
    # arithmetic as bootstrap_ci (1-0.95 is not exactly 0.05 in
    # binary: ceil(80*alpha/2) = 3, not 2 — hand-computing the index
    # silently disagrees with the operator by one order statistic).
    import math

    from fenix_spark.operators.bootstrap import POISSON1_CDF

    n_boot = 80
    alpha = 1.0 - 0.95
    lo_idx = max(1, math.ceil(n_boot * alpha / 2))
    hi_idx = n_boot - lo_idx + 1
    ladder = " ".join(
        f"WHEN u <= {c!r} THEN {k}" for k, c in enumerate(POISSON1_CDF)
    )
    return f"""
WITH base AS (
    SELECT lang, doc_id, CAST(n_chars AS DOUBLE) AS x
    FROM documents WHERE n_chars IS NOT NULL
), weighted AS (
    SELECT lang, b,
           sum((CASE {ladder} ELSE 10 END) * x) AS s
    FROM (
        SELECT lang, x, t.b,
               (('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|r10|b' || CAST(t.b AS VARCHAR)), 1, 15))::BIGINT + 1)
               / 1152921504606846976.0 AS u
        FROM base CROSS JOIN range(80) t(b)
    )
    GROUP BY lang, b
), reps AS (
    SELECT lang, list_sort(list(s)) AS ts FROM weighted GROUP BY lang
), pt AS (
    SELECT lang, sum(x) AS est FROM base GROUP BY lang
)
SELECT p.lang,
       CAST(p.est AS BIGINT) AS estimate,
       CAST(ts[{lo_idx}] AS BIGINT) AS lo,
       CAST(ts[{hi_idx}] AS BIGINT) AS hi,
       {n_boot} AS n_boot
FROM reps JOIN pt p USING (lang)
"""


def _quantile_normalize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-free per-language rank normalization
    (operators/normalize.quantile_normalize): empirical-CDF position
    of n_chars within its lang via a broadcast KLL sketch — one Arrow
    sketch pass + one summary merge + a broadcast join, NO per-group
    window sort of the corpus. k=1024 exceeds the distinct n_chars per
    lang at both oracle SFs (≤ 501 measured), so the sketch is EXACT
    and pct_rank equals the window ``cume_dist`` bit-for-bit: the rank
    is (Σ weight of sketch items ≤ x) / n, a ratio of exact integers —
    identical doubles on any engine, no rounding anywhere."""
    from fenix_spark.operators.normalize import quantile_normalize

    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    out = quantile_normalize(docs, ["lang"], "n_chars", k=1024, out_col="pct_rank")
    return out.select("doc_id", "lang", "n_chars", "pct_rank")


_QUANTILE_NORMALIZE_SQL = """
SELECT doc_id, lang, n_chars,
       cume_dist() OVER (PARTITION BY lang ORDER BY n_chars) AS pct_rank
FROM documents
"""


def _readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full readability pipeline over documents — tokenize,
    abbreviation-guarded sentence split, per-word syllable floor, all
    four published formulas (FRE, FK grade, ARI, CLI) — as ONE
    projection of higher-order JVM expressions (functions/
    readability.py), no shuffle at all until the driver's own sort.
    Oracle: the lookbehind-free RE2 reformulation proven row-by-row on
    the corpus in tests/test_readability.py (same builder). Scale
    shape: per-row scalar work inside whole-stage codegen — linear
    scan, embarrassingly parallel at any SF."""
    from fenix_spark.functions.readability import readability_stats
    from fenix_spark.operators.dedup import spread

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    # Validity gate, re-expressed as the equivalent cheap scan filter
    # (proven row-identical in tests/test_readability.py): n_words > 0
    # ⟺ some whitespace token carries a letter/digit ⟺ text contains a
    # [\p{L}\p{N}] char; and any such char is a non-ws char, so
    # n_sentences > 0 (sentences are the non-empty trimmed splits and
    # the split regex consumes only whitespace) is implied. Filtering
    # at the scan costs ONE cheap regex instead of pushing the full
    # word+sentence counting expressions below the spread exchange,
    # where they would run single-threaded on a one-file input.
    docs = spread(docs.where(F.col("text").rlike("[\\p{L}\\p{N}]")))
    out = readability_stats(docs, "text")
    return out.select(
        "doc_id", "n_words", "n_sentences", "n_syllables",
        "fre", "fk_grade", "ari", "cli",
    )


def _readability_sql() -> str:
    from fenix_spark.functions.readability import duckdb_oracle_sql

    return duckdb_oracle_sql("documents")


def _decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/decontaminate.py): flag
    corpus docs sharing 4-gram content with a deterministic "eval set"
    slice (doc_id % 29 == 0). The benchmark's distinct gram hashes
    broadcast; corpus grams are hashed inside the scan and never
    shuffled — the only exchange is the per-doc hit count."""
    from fenix_spark.operators.decontaminate import contamination_report

    docs = table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 29 == 0)
    return contamination_report(docs, bench, n=4)


def _decontamination_sql() -> str:
    from fenix_spark.functions.texthash import (
        duck_hash60,
        duck_tokens,
        duck_word_shingles,
    )

    return f"""
    WITH toks AS (SELECT doc_id, {duck_tokens("text")} AS tk FROM documents),
    grams AS (
        SELECT doc_id,
               list_distinct(list_transform({duck_word_shingles("tk", 4)},
                                            s -> {duck_hash60("s")})) AS gs
        FROM toks
    ),
    cg AS (SELECT doc_id, unnest(gs) AS gram FROM grams),
    bg AS (SELECT DISTINCT gram FROM (
        SELECT unnest(gs) AS gram FROM grams WHERE doc_id % 29 = 0)),
    tot AS (SELECT doc_id, count(*) AS n_grams FROM cg GROUP BY doc_id),
    hit AS (SELECT cg.doc_id, count(*) AS n_hits
            FROM cg JOIN bg USING (gram) GROUP BY cg.doc_id)
    SELECT h.doc_id, t.n_grams, h.n_hits,
           round(h.n_hits / t.n_grams, 6) AS hit_frac
    FROM hit h JOIN tot t USING (doc_id)
    """


def _label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid: element-wise mean over a group,
    expressed as 64 parallel avg() aggregates reassembled into an
    array — partial aggregation applies per dimension, so the shuffle
    carries 64 doubles per (partition, label), never raw vectors.
    (The groupBy(code) Lloyd step of SURVEY.md §2.4 A1 is exactly this
    shape.)"""
    emb = table(spark, sf_dir, "embeddings")
    v = vec_double("embedding")
    dim = 64
    staged = emb.select("label", *[F.element_at(v, i + 1).alias(f"d{i}") for i in range(dim)])
    agg = staged.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        *[F.round(F.avg(f"d{i}"), 6).alias(f"c{i}") for i in range(dim)],
    )
    # Oracle-checked output is FLAT (label, n, dim, value) rows — the
    # driver's canonicalizer cannot sort/hash a raw array column
    # (VERDICT r01 defect 3). stack() unpivots the 64 aggregates
    # driver-free; the wide 64-parallel-agg shuffle shape is unchanged.
    stack_args = ", ".join(f"CAST({i} AS BIGINT), c{i}" for i in range(dim))
    return agg.select(
        "label", "n", F.expr(f"stack({dim}, {stack_args}) AS (dim, value)")
    )


_LABEL_CENTROIDS_SQL = """
WITH counts AS (
    SELECT label, count(*) AS n FROM embeddings GROUP BY label
), dims AS (
    SELECT label, t.dim AS dim, round(avg(embedding[t.dim + 1]::DOUBLE), 6) AS value
    FROM embeddings, range(64) t(dim)
    GROUP BY label, t.dim
)
SELECT counts.label, counts.n, dims.dim, dims.value
FROM counts JOIN dims ON counts.label = dims.label
"""


def _funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click → purchase): per-user min event
    time per stage via conditional aggregation — ONE shuffle on
    user_id, then a 1-row rollup; no self-joins, no window. The
    standard scalable funnel shape."""
    ev = events_table(spark, sf_dir)
    stage_min = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts_ms"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts_ms"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts_ms"))).alias("t_buy"),
    )
    return stage_min.agg(
        F.count(F.lit(1)).alias("users"),
        F.sum(F.when(F.col("t_view").isNotNull(), 1).otherwise(0)).alias("viewed"),
        F.sum(
            F.when(F.col("t_click") > F.col("t_view"), 1).otherwise(0)
        ).alias("clicked_after_view"),
        F.sum(
            F.when(
                (F.col("t_click") > F.col("t_view")) & (F.col("t_buy") > F.col("t_click")), 1
            ).otherwise(0)
        ).alias("full_funnel"),
    )


_FUNNEL_SQL = """
WITH s AS (
    SELECT user_id,
           min(CASE WHEN event_type = 'view' THEN epoch_ms(ts) END) AS t_view,
           min(CASE WHEN event_type = 'click' THEN epoch_ms(ts) END) AS t_click,
           min(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END) AS t_buy
    FROM events GROUP BY user_id
)
SELECT count(*) AS users,
       sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS viewed,
       sum(CASE WHEN t_click > t_view THEN 1 ELSE 0 END)::BIGINT AS clicked_after_view,
       sum(CASE WHEN t_click > t_view AND t_buy > t_click THEN 1 ELSE 0 END)::BIGINT AS full_funnel
FROM s
"""

def _cohort_retention_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort-retention triangle (operators/timeseries.py): users
    cohorted by the day of their first event; each (cohort, age) cell
    counts users active `age` days after their cohort day, with
    retention = active / cohort-size. Scale shape: ONE distinct over
    (user, day) collapses the event stream, the first-day window
    REUSES that shuffle's partitioning, and the denominator is a
    broadcast self-join of the age-0 summary rows — the raw events
    are keyed exactly once."""
    from fenix_spark.operators.timeseries import cohort_retention

    ev = events_table(spark, sf_dir)
    ret = cohort_retention(ev, "user_id", "ts_ms", 86_400_000)
    return ret.select(
        "cohort_ms",
        "age",
        "active_users",
        "cohort_size",
        _round_dist(F.col("retention")).alias("retention"),
    )


_COHORT_RETENTION_SQL = """
WITH ub AS (
    SELECT DISTINCT user_id,
           (epoch_ms(ts) // 86400000) * 86400000 AS b
    FROM events
),
aged AS (
    SELECT min(b) OVER (PARTITION BY user_id) AS cohort_ms,
           ((b - min(b) OVER (PARTITION BY user_id)) / 86400000)::BIGINT AS age
    FROM ub
),
active AS (
    SELECT cohort_ms, age, count(*) AS active_users
    FROM aged GROUP BY 1, 2
)
SELECT a.cohort_ms, a.age, a.active_users, s.active_users AS cohort_size,
       round(a.active_users / s.active_users, 6) + 0.0 AS retention
FROM active a JOIN active s ON a.cohort_ms = s.cohort_ms AND s.age = 0
"""


def _gapfill_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-grid gap fill (operators/timeseries.py — TimescaleDB's
    ``time_bucket_gapfill`` + ``locf``): per-event-type hourly sums on
    the DENSE bucket grid, missing buckets materialized (filled=true)
    and values carried forward. Scale shape: sparse agg is one
    partial-agg groupBy; the grid explode emits only bucket rows
    (bounded by max_buckets_per_key, checked); the fill is one per-key
    window over grid-sized — not data-sized — rows. Sum rounded at
    4 dp AFTER the locf so both engines round the same carried
    value."""
    from fenix_spark.operators.timeseries import gapfill

    ev = events_table(spark, sf_dir).select("event_type", "ts_ms", "value")
    dense = gapfill(
        ev, "event_type", "ts_ms", "value", 3_600_000, agg="sum", fill="locf"
    )
    return dense.select(
        "key", "bucket_ms", F.round("value", 4).alias("value"), "filled"
    )


_GAPFILL_SQL = """
WITH e AS (SELECT event_type AS key,
                  (epoch_ms(ts) // 3600000) * 3600000 AS bucket_ms, value
           FROM events),
sparse AS (SELECT key, bucket_ms, sum(value) AS value
           FROM e GROUP BY key, bucket_ms),
extent AS (SELECT key, min(bucket_ms) AS lo, max(bucket_ms) AS hi
           FROM sparse GROUP BY key),
grid AS (SELECT key, unnest(range(lo, hi + 3600000, 3600000)) AS bucket_ms
         FROM extent),
dense AS (SELECT g.key, g.bucket_ms, s.value, s.value IS NULL AS filled
          FROM grid g LEFT JOIN sparse s USING (key, bucket_ms))
SELECT key, bucket_ms,
       round(last_value(value IGNORE NULLS) OVER
                 (PARTITION BY key ORDER BY bucket_ms
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS value,
       filled
FROM dense
"""


def _duck_bucket(id_expr: str, salt: str = "") -> str:
    from fenix_spark.functions.texthash import duck_hash60

    return f"({duck_hash60(f'{id_expr}::VARCHAR || {salt!r}')} % 10000)"


def _curation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation family (operators/sampling.py) in one tagged
    result, each arm summarized as (count, sum of selected ids) —
    set-equality evidence without per-row output volume:

    - 'sample': reproducible 10% hash sample (per-row hash decision, a
      pure scan filter — stable under retries and repartitioning,
      unlike df.sample()'s engine-private RNG), grouped per lang.
    - 'split': disjoint 80/10/10 train/val/test split by id hash —
      every row in exactly one split, forever, on any engine.
    - 'quota': per-language cap of 30 docs under a deterministic order
      (per_group_limit) — bounds any one domain's contribution."""
    from fenix_spark.operators.sampling import (
        deterministic_sample,
        hash_split,
        per_group_limit,
    )

    docs = table(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings")
    sample = (
        deterministic_sample(docs, "doc_id", 0.10)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("doc_id").alias("id_sum"))
        .select(F.lit("sample").alias("part"), F.col("lang").alias("grp"), "n", "id_sum")
    )
    split = (
        hash_split(emb, "vec_id", [0.8, 0.1, 0.1], ["train", "val", "test"])
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("vec_id").alias("id_sum"))
        .select(F.lit("split").alias("part"), F.col("split").alias("grp"), "n", "id_sum")
    )
    quota = (
        per_group_limit(docs, ["lang"], [F.col("doc_id").asc()], 30)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("doc_id").alias("id_sum"))
        .select(F.lit("quota").alias("part"), F.col("lang").alias("grp"), "n", "id_sum")
    )
    return sample.unionByName(split).unionByName(quota)


_CURATION_STATS_SQL = f"""
WITH b AS (SELECT vec_id, {_duck_bucket("vec_id")} AS bk FROM embeddings),
     q AS (SELECT lang, doc_id,
                  row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
           FROM documents)
SELECT 'sample' AS part, lang AS grp, count(*) AS n, sum(doc_id)::BIGINT AS id_sum
FROM documents WHERE {_duck_bucket("doc_id")} < 1000 GROUP BY lang
UNION ALL
SELECT 'split' AS part,
       CASE WHEN bk < 8000 THEN 'train' WHEN bk < 9000 THEN 'val' ELSE 'test' END AS grp,
       count(*) AS n, sum(vec_id)::BIGINT AS id_sum
FROM b GROUP BY 2
UNION ALL
SELECT 'quota' AS part, lang AS grp, count(*) AS n, sum(doc_id)::BIGINT AS id_sum
FROM q WHERE rn <= 30 GROUP BY lang
"""


def _tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document, fully relational: explode
    tokens → per-(doc, term) TF → document-frequency join (broadcast;
    |vocab| rows) → score → window top-3. The explode is map-side; the
    only shuffles are the two aggregations and the final window.

    The corpus size N enters the plan as a 1-row count aggregate
    cross-joined (broadcast) into the |vocab|-row df frame — mirroring
    the oracle's ``n`` CTE — instead of a driver-side ``docs.count()``,
    so the query is a single job with no driver round-trip."""
    from fenix_spark.functions.texthash import tokens

    docs = table(spark, sf_dir, "documents")
    n = docs.select(F.count(F.lit(1)).alias("n_docs"))
    terms = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    # tf feeds BOTH the document-frequency broadcast side and the
    # scored join: truncate its lineage so the tokenize+explode+count
    # pass over the corpus runs once per invocation, not twice.
    tf = (
        terms.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .transform(_ckpt_lazy)
    )
    dfreq = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n))
    )
    scored = tf.join(F.broadcast(dfreq), "term").select(
        "doc_id",
        "term",
        F.round(
            F.col("tf")
            * F.log((F.col("n_docs") + F.lit(1)).cast("double") / (F.col("df") + 1)),
            6,
        ).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term").asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= 3)


def _tfidf_top_terms_sql() -> str:
    from fenix_spark.functions.texthash import duck_tokens

    return f"""
    WITH terms AS (
        SELECT doc_id, unnest({duck_tokens("text")}) AS term FROM documents
    ), tf AS (
        SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term
    ), dfreq AS (
        SELECT term, count(*) AS df FROM tf GROUP BY term
    ), n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT doc_id, tf.term AS term,
               round(tf * ln((n_docs + 1)::DOUBLE / (df + 1)), 6) AS score
        FROM tf JOIN dfreq ON tf.term = dfreq.term, n
    )
    SELECT doc_id, term, score, CAST(rank AS INTEGER) AS rank FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
        FROM scored
    ) WHERE rank <= 3
    """


_BM25_QUERY = "spark window merge join"


def _bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for a fixed free-text query, through the product
    API (operators/bm25.py): postings build → query-term pruned
    broadcast joins → native scoring → deterministic top-k. The
    retrieval family's first oracle row (VERDICT r04 #8)."""
    from fenix_spark.operators.bm25 import bm25_search, build_bm25_index

    docs = table(spark, sf_dir, "documents")
    idx = build_bm25_index(docs, "text", "doc_id")
    return bm25_search(spark, idx, _BM25_QUERY, k=10)


def _bm25_search_sql(k: int = 10) -> str:
    """DuckDB mirror of the Lucene-form BM25 (k1=1.2, b=0.75), with
    every float expression shaped to evaluate in the same operand
    order as operators/bm25.py (k1+1 folded to 2.2, 1-b to 0.25)."""
    from fenix_spark.functions.texthash import duck_tokens

    terms = ", ".join(f"'{t}'" for t in _BM25_QUERY.split())
    return f"""
    WITH tk AS (
        SELECT doc_id, unnest({duck_tokens("text")}) AS term FROM documents
    ), tf AS (
        SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY doc_id, term
    ), dl AS (
        SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id
    ), n AS (SELECT count(*) AS n_docs FROM documents),
    stats AS (
        SELECT (SELECT sum(dl)::DOUBLE FROM dl) / (SELECT n_docs FROM n) AS avgdl
    ),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
    SELECT doc_id,
           round(sum(
             ln(((SELECT n_docs FROM n) - df + 0.5) / (df + 0.5) + 1.0)
             * (tf * 2.2)
             / (tf + 1.2 * (0.25 + 0.75 * dl / (SELECT avgdl FROM stats)))
           ), 6) + 0.0 AS score
    FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term)
    WHERE term IN ({terms})
    GROUP BY doc_id
    ORDER BY score DESC, doc_id ASC
    LIMIT {k}
    """


def _hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (operators/hybrid.py): BM25 top-50 on documents
    fused with cosine-KNN top-50 on embeddings by Reciprocal Rank
    Fusion (rrf_k=60). Both arms are TakeOrderedAndProject plans; the
    fusion is a full-outer join of two ≤50-row frames — driver-scale by
    construction, independent of corpus size."""
    from fenix_spark.operators.bm25 import bm25_search, build_bm25_index
    from fenix_spark.operators.hybrid import rrf_fuse

    docs = table(spark, sf_dir, "documents")
    idx = build_bm25_index(docs, "text", "doc_id")
    lex = bm25_search(spark, idx, _BM25_QUERY, k=50).select(
        F.col("doc_id").alias("id"), "score"
    )
    emb = table(spark, sf_dir, "embeddings")
    target = query_literal(_query_vector(spark, sf_dir))
    vec = (
        emb.select(
            F.col("vec_id").alias("id"),
            _round_dist(distance("cosine", vec_double("embedding"), target)).alias(
                "distance"
            ),
        )
        .orderBy("distance", "id")
        .limit(50)
    )
    return rrf_fuse([lex, vec], id_col="id", k=10, ascending=[False, True])


def _hybrid_search_sql() -> str:
    """RRF is pure rank arithmetic over the two arms' (already
    oracle-proven) rankings: rank each arm by its rounded score with id
    tiebreak, sum 1/(60+rank) over present arms, top-10."""
    return f"""
    WITH lex AS ({_bm25_search_sql(k=50)}),
    vec AS (
        WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
        SELECT vec_id AS id, round({_DUCK_METRIC["cosine"]}, 6) + 0.0 AS dist
        FROM embeddings, q
        ORDER BY dist, vec_id
        LIMIT 50
    ),
    lexr AS (
        SELECT doc_id AS id,
               row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r
        FROM lex
    ),
    vecr AS (
        SELECT id, row_number() OVER (ORDER BY dist ASC, id ASC) AS r FROM vec
    ),
    fused AS (
        SELECT coalesce(l.id, v.id) AS id,
               round(coalesce(1.0 / (60 + l.r), 0.0)
                     + coalesce(1.0 / (60 + v.r), 0.0), 6) + 0.0 AS rrf_score,
               ((l.id IS NOT NULL)::INTEGER + (v.id IS NOT NULL)::INTEGER) AS n_rankers
        FROM lexr l FULL OUTER JOIN vecr v ON l.id = v.id
    )
    SELECT id, rrf_score, n_rankers FROM fused
    ORDER BY rrf_score DESC, id ASC
    LIMIT 10
    """


# --------------------------------------------------------------------------
# Quantization (functions/tensors.py — QUInt8TensorType analog,
# ref: src/fenix/ex/arrow/quint8/quint8.py:23-87)
# --------------------------------------------------------------------------





_ADC_RERANK = 40


def _quantized_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-representation search three ways, tagged by method:

    - ``dequant``: exact top-k over per-row uint8 DEQUANTIZED vectors —
      scan 1/4 the bytes, reconstruct in the scan projection;
    - ``adc``: PQ asymmetric distance computation
      (operators/index.py:adc_search) — distances come from per-
      codebook lookup tables indexed by the 8-byte joint code; the
      candidate scan never touches the vector column at all;
    - ``adc_rerank``: the top-40 ADC shortlist re-scored with exact
      distances (only 40 rows read the raw vector, via a broadcast
      shortlist join) — the standard recall-restoring tail.
    """
    from fenix_spark.artifacts import ensure_artifacts
    from fenix_spark.functions.tensors import choose_qparams, dequantize, quantize
    from fenix_spark.operators.index import adc_search

    emb = table(spark, sf_dir, "embeddings")
    v = vec_double("embedding")
    scale, shift = choose_qparams(v)
    staged = emb.select("vec_id", v.alias("v"), scale.alias("scale"), shift.alias("shift"))
    deq = dequantize(
        quantize(F.col("v"), F.col("scale"), F.col("shift")), F.col("scale"), F.col("shift")
    )
    target = _query_vector(spark, sf_dir)
    dequant = (
        staged.select(
            "vec_id", _round_dist(distance("l2", deq, query_literal(target))).alias("dist")
        )
        .orderBy("dist", "vec_id")
        .limit(10)
        .select(F.lit("dequant").alias("method"), "*")
    )
    coding, indexed = ensure_artifacts(spark, sf_dir)
    adc = (
        adc_search(indexed, coding, "embedding", target, metric="l2", k=10, round_to=6)
        .withColumnRenamed("__DISTANCE__", "dist")
        .select(F.lit("adc").alias("method"), "*")
    )
    adc_rr = (
        adc_search(
            indexed, coding, "embedding", target, metric="l2", k=10,
            rerank=_ADC_RERANK, round_to=6,
        )
        .withColumnRenamed("__DISTANCE__", "dist")
        .select(F.lit("adc_rerank").alias("method"), "*")
    )
    return dequant.unionByName(adc).unionByName(adc_rr)


def _quantized_knn_sql(sf_dir: str) -> str:
    from fenix_spark.artifacts import coding_path, index_dir

    row_d = _duck_l2("e.embedding::DOUBLE[]", "qv")
    return f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    coding AS (SELECT * FROM read_parquet('{coding_path(sf_dir)}/*.parquet')),
    lut AS (
        SELECT codebook, cell,
               list_sum(list_transform(list_zip(centroid,
                   CASE codebook WHEN 0 THEN qv[1:32] ELSE qv[33:64] END),
                   z -> (z[1]-z[2])*(z[1]-z[2]))) AS d
        FROM coding, q
    ),
    idx AS (SELECT vec_id, CAST(__CODED_ID__ AS BIGINT) AS code
            FROM read_parquet('{index_dir(sf_dir)}/*/*.parquet', hive_partitioning = true)),
    adc AS (
        SELECT i.vec_id, round(sqrt(l0.d + l1.d), 6) + 0.0 AS dist
        FROM idx i
        JOIN lut l0 ON l0.codebook = 0 AND l0.cell = i.code // 8
        JOIN lut l1 ON l1.codebook = 1 AND l1.cell = i.code % 8
    ),
    shortlist AS (SELECT vec_id FROM adc ORDER BY dist, vec_id LIMIT {_ADC_RERANK}),
    rr AS (
        SELECT e.vec_id, round({row_d}, 6) + 0.0 AS dist
        FROM embeddings e JOIN shortlist s USING (vec_id), q
    )
    SELECT 'dequant' AS method, * FROM ({_QUANTIZED_KNN_DEQUANT_SQL})
    UNION ALL
    SELECT 'adc' AS method, * FROM (SELECT * FROM adc ORDER BY dist, vec_id LIMIT 10)
    UNION ALL
    SELECT 'adc_rerank' AS method, * FROM (SELECT * FROM rr ORDER BY dist, vec_id LIMIT 10)
    """


_QUANTIZED_KNN_DEQUANT_SQL = """
WITH p AS (
    SELECT vec_id, embedding::DOUBLE[] AS v,
           list_max(embedding::DOUBLE[]) AS hi, list_min(embedding::DOUBLE[]) AS lo
    FROM embeddings
), s AS (
    SELECT vec_id, v, CASE WHEN hi > lo THEN (hi - lo) / 255.0 ELSE 1.0 END AS scale, lo
    FROM p
), q AS (
    SELECT vec_id, v, scale, -floor(lo / scale + 0.5) AS shift FROM s
), z AS (
    SELECT vec_id, list_transform(v, x -> scale * (
               greatest(0, least(255, (floor(x / scale + 0.5) + shift)::INTEGER)) - shift)) AS dv
    FROM q
), tgt AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       round(sqrt(list_sum(list_transform(list_zip(dv, qv),
             t -> (t[1]-t[2])*(t[1]-t[2])))), 6) + 0.0 AS dist
FROM z, tgt
ORDER BY dist, vec_id
LIMIT 10
"""


# --------------------------------------------------------------------------
# IVF-PQ search (operators/index.py:500-720): coarse partition pruning +
# fine-code ADC, plain and residual (Jégou 2011) — oracle-checked
# against DuckDB recomputing probe ranking, lookup tables, and ADC
# distances from the same coding/index parquet (VERDICT r03 #3).
# --------------------------------------------------------------------------


def _ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ three ways, tagged by method:

    - ``adc``: coarse probes (16/64 cells = physical partition
      pruning) → ADC over the 65 536-code fine column; the candidate
      pass reads (id, fine code) only — zero vector bytes;
    - ``adc_rerank``: top-40 ADC shortlist re-scored exactly via a
      broadcast join (the recall-restoring tail);
    - ``residual``: classic residual IVFPQ — fine codes encode
      (vector − coarse centroid), one LUT per probed cell, still a
      pure expression over the two code columns.
    """
    from fenix_spark.artifacts import (
        ensure_ivfpq_artifacts,
        ensure_ivfpq_residual_artifacts,
    )
    from fenix_spark.operators.index import ivfpq_residual_search, ivfpq_search

    target = _query_vector(spark, sf_dir)
    coarse, fine, indexed = ensure_ivfpq_artifacts(spark, sf_dir)
    adc = (
        ivfpq_search(
            indexed, coarse, fine, "embedding", target,
            metric="l2", k=10, probes=16, round_to=6,
        )
        .withColumnRenamed("__DISTANCE__", "dist")
        .select(F.lit("adc").alias("method"), "*")
    )
    adc_rr = (
        ivfpq_search(
            indexed, coarse, fine, "embedding", target,
            metric="l2", k=10, probes=16, rerank=_ADC_RERANK, round_to=6,
        )
        .withColumnRenamed("__DISTANCE__", "dist")
        .select(F.lit("adc_rerank").alias("method"), "*")
    )
    rcoarse, rfine, rindexed = ensure_ivfpq_residual_artifacts(spark, sf_dir)
    resid = (
        ivfpq_residual_search(
            rindexed, rcoarse, rfine, "embedding", target, k=10, probes=16, round_to=6
        )
        .withColumnRenamed("__DISTANCE__", "dist")
        .select(F.lit("residual").alias("method"), "*")
    )
    return adc.unionByName(adc_rr).unionByName(resid)


def _ivfpq_fine_lut_sql(rv: str) -> str:
    """DuckDB per-codebook squared-l2 lookup table against the 4×16-dim
    sub-slices of ``rv`` (a 64-dim DOUBLE[] expression)."""
    return f"""
        SELECT codebook, cell,
               list_sum(list_transform(list_zip(centroid,
                   CASE codebook WHEN 0 THEN {rv}[1:16] WHEN 1 THEN {rv}[17:32]
                                 WHEN 2 THEN {rv}[33:48] ELSE {rv}[49:64] END),
                   z -> (z[1]-z[2])*(z[1]-z[2]))) AS d
    """


def _ivfpq_search_sql(sf_dir: str) -> str:
    from fenix_spark.artifacts import (
        coding_path,
        fine_coding_path,
        ivfpq_index_dir,
        ivfpq_residual_index_dir,
        rcoarse_coding_path,
        rfine_coding_path,
    )

    cell_d0 = _duck_l2("c0.centroid", "qv[1:32]")
    cell_d1 = _duck_l2("c1.centroid", "qv[33:64]")
    row_d = _duck_l2("e.embedding::DOUBLE[]", "qv")
    rcell_d = _duck_l2("centroid", "qv")
    return f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    coarse AS (SELECT * FROM read_parquet('{coding_path(sf_dir)}/*.parquet')),
    fine AS (SELECT * FROM read_parquet('{fine_coding_path(sf_dir)}/*.parquet')),
    cellscore AS (
        SELECT c0.cell * 8 + c1.cell AS joint, {cell_d0} + {cell_d1} AS score
        FROM (SELECT * FROM coarse WHERE codebook = 0) c0,
             (SELECT * FROM coarse WHERE codebook = 1) c1, q
    ),
    probes AS (SELECT joint FROM cellscore ORDER BY score, joint LIMIT 16),
    flut AS ({_ivfpq_fine_lut_sql("qv")} FROM fine, q),
    idx AS (
        SELECT vec_id, CAST(__CODED_ID__ AS BIGINT) AS ccode,
               CAST(__PQ_CODE__ AS BIGINT) AS fcode
        FROM read_parquet('{ivfpq_index_dir(sf_dir)}/*/*.parquet', hive_partitioning = true)
        WHERE CAST(__CODED_ID__ AS BIGINT) IN (SELECT joint FROM probes)
    ),
    adc AS (
        SELECT i.vec_id, round(sqrt(f0.d + f1.d + f2.d + f3.d), 6) + 0.0 AS dist
        FROM idx i
        JOIN flut f0 ON f0.codebook = 0 AND f0.cell = (i.fcode // 4096) % 16
        JOIN flut f1 ON f1.codebook = 1 AND f1.cell = (i.fcode // 256) % 16
        JOIN flut f2 ON f2.codebook = 2 AND f2.cell = (i.fcode // 16) % 16
        JOIN flut f3 ON f3.codebook = 3 AND f3.cell = i.fcode % 16
    ),
    rr AS (
        SELECT e.vec_id, round({row_d}, 6) + 0.0 AS dist
        FROM embeddings e
        JOIN (SELECT vec_id FROM adc ORDER BY dist, vec_id LIMIT {_ADC_RERANK}) s
          USING (vec_id), q
    ),
    rcoarse AS (SELECT * FROM read_parquet('{rcoarse_coding_path(sf_dir)}/*.parquet')),
    rfine AS (SELECT * FROM read_parquet('{rfine_coding_path(sf_dir)}/*.parquet')),
    rprobes AS (
        SELECT cell AS joint FROM rcoarse, q ORDER BY {rcell_d}, cell LIMIT 16
    ),
    rq AS (
        SELECT rc.cell AS ccell,
               list_transform(list_zip(qv, rc.centroid), z -> z[1] - z[2]) AS rv
        FROM rcoarse rc, q WHERE rc.cell IN (SELECT joint FROM rprobes)
    ),
    rlut AS (
        SELECT rq.ccell, f.codebook, f.cell,
               list_sum(list_transform(list_zip(f.centroid,
                   CASE f.codebook WHEN 0 THEN rq.rv[1:16] WHEN 1 THEN rq.rv[17:32]
                                   WHEN 2 THEN rq.rv[33:48] ELSE rq.rv[49:64] END),
                   z -> (z[1]-z[2])*(z[1]-z[2]))) AS d
        FROM rfine f, rq
    ),
    ridx AS (
        SELECT vec_id, CAST(__CODED_ID__ AS BIGINT) AS ccode,
               CAST(__PQ_CODE__ AS BIGINT) AS fcode
        FROM read_parquet('{ivfpq_residual_index_dir(sf_dir)}/*/*.parquet', hive_partitioning = true)
        WHERE CAST(__CODED_ID__ AS BIGINT) IN (SELECT joint FROM rprobes)
    ),
    radc AS (
        SELECT i.vec_id, round(sqrt(f0.d + f1.d + f2.d + f3.d), 6) + 0.0 AS dist
        FROM ridx i
        JOIN rlut f0 ON f0.ccell = i.ccode AND f0.codebook = 0 AND f0.cell = (i.fcode // 4096) % 16
        JOIN rlut f1 ON f1.ccell = i.ccode AND f1.codebook = 1 AND f1.cell = (i.fcode // 256) % 16
        JOIN rlut f2 ON f2.ccell = i.ccode AND f2.codebook = 2 AND f2.cell = (i.fcode // 16) % 16
        JOIN rlut f3 ON f3.ccell = i.ccode AND f3.codebook = 3 AND f3.cell = i.fcode % 16
    )
    SELECT 'adc' AS method, * FROM (SELECT * FROM adc ORDER BY dist, vec_id LIMIT 10)
    UNION ALL
    SELECT 'adc_rerank' AS method, * FROM (SELECT * FROM rr ORDER BY dist, vec_id LIMIT 10)
    UNION ALL
    SELECT 'residual' AS method, * FROM (SELECT * FROM radc ORDER BY dist, vec_id LIMIT 10)
    """


# --------------------------------------------------------------------------
# Multimodal features (multimodal/media.py): real BMP/WAV codecs +
# mapInPandas feature extraction, oracle-checked by DuckDB recomputing
# the same stats from the CONTAINER BYTES (hex + header/padding
# arithmetic) — an engine-independent check of the decode path.
# --------------------------------------------------------------------------


def _multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-level stats of every decoded media payload: BMP pixels
    (real stdlib codec, header + row padding stripped), WAV int16
    samples (stdlib wave), raw uint8 fakes. The decode runs in ONE
    Arrow-batched mapInPandas pass emitting exact integer (n, sum,
    sum-of-squares) per payload — payload bytes never leave the
    executor — and mean/std are derived natively so both engines do
    the identical float ops on identical integers."""
    import pandas as pd

    from fenix_spark.artifacts import ensure_media_artifact
    from fenix_spark.multimodal.media import _decode_bmp, _decode_wav

    media = ensure_media_artifact(spark, sf_dir)

    def gen(batches):
        import numpy as np

        for pdf in batches:
            out = []
            for mid, kind, data, meta in zip(
                pdf["media_id"], pdf["kind"], pdf["data"], pdf["meta"]
            ):
                raw, fmt = bytes(data), meta["format"]
                if fmt == "bmp":
                    vals = _decode_bmp(raw).astype(np.int64).ravel()
                elif fmt == "wav":
                    x, _sr = _decode_wav(raw)
                    vals = x.astype(np.int64)
                else:  # rawimg / rawpcm / rawvid: opaque uint8 payloads
                    vals = np.frombuffer(raw, np.uint8).astype(np.int64)
                out.append(
                    (
                        int(mid), str(kind), str(fmt), int(vals.size),
                        int(vals.sum()), int((vals * vals).sum()),
                    )
                )
            yield pd.DataFrame(
                out, columns=["media_id", "kind", "format", "n_values", "s", "ssq"]
            )

    stats = media.select("media_id", "kind", "data", "meta").mapInPandas(
        gen, "media_id bigint, kind string, format string, n_values bigint, s bigint, ssq bigint"
    )
    mean = F.col("s") / F.col("n_values")
    var = F.col("ssq") / F.col("n_values") - mean * mean
    # No orderBy: the driver's comparator sorts rows itself, and the
    # sort would be this plan's only exchange.
    return stats.select(
        "media_id", "kind", "format", "n_values",
        (F.round(mean, 6) + F.lit(0.0)).alias("mean_value"),
        (F.round(F.sqrt(var), 6) + F.lit(0.0)).alias("std_value"),
    )


def _multimodal_features_sql(sf_dir: str) -> str:
    from fenix_spark.artifacts import media_path

    return f"""
    WITH m AS (
        SELECT media_id, kind, meta.format AS format, meta.width AS w,
               octet_length(data) AS nbytes, hex(data) AS hx
        FROM read_parquet('{media_path(sf_dir)}/*.parquet')
    ),
    b AS (
        SELECT media_id, i, ('0x' || substr(hx, 2*i - 1, 2))::BIGINT AS byte
        FROM m, generate_series(1, 16384) s(i)
        WHERE i <= nbytes
    ),
    vals AS (
        SELECT m.media_id, b.byte AS v
        FROM b JOIN m USING (media_id)
        WHERE m.format IN ('rawimg', 'rawpcm', 'rawvid')
        UNION ALL
        -- BMP: 54-byte header, rows padded to 4 bytes; value bytes are
        -- the first w*3 of each ((w*3+3)//4)*4-byte stride
        SELECT m.media_id, b.byte AS v
        FROM b JOIN m USING (media_id)
        WHERE m.format = 'bmp' AND b.i > 54
          AND ((b.i - 55) % (((m.w * 3 + 3) // 4) * 4)) < m.w * 3
        UNION ALL
        -- WAV: int16 LE samples after the 44-byte canonical header
        SELECT m.media_id,
               CASE WHEN lo.byte + 256 * hi.byte >= 32768
                    THEN lo.byte + 256 * hi.byte - 65536
                    ELSE lo.byte + 256 * hi.byte END AS v
        FROM m
        JOIN b lo ON lo.media_id = m.media_id AND lo.i >= 45 AND (lo.i - 45) % 2 = 0
        JOIN b hi ON hi.media_id = m.media_id AND hi.i = lo.i + 1
        WHERE m.format = 'wav'
    )
    SELECT m.media_id, m.kind, m.format,
           count(*)::BIGINT AS n_values,
           round(sum(v)::BIGINT / count(*), 6) + 0.0 AS mean_value,
           round(sqrt(sum(v*v)::BIGINT / count(*)
                      - (sum(v)::BIGINT / count(*)) * (sum(v)::BIGINT / count(*))), 6) + 0.0
               AS std_value
    FROM vals JOIN m USING (media_id)
    GROUP BY m.media_id, m.kind, m.format
    ORDER BY m.media_id
    """


# --------------------------------------------------------------------------
# Text analysis (functions/textstats.py): token counts, quality score,
# language ID — all native Catalyst scalar expressions, scan-speed.
# --------------------------------------------------------------------------


def _repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition rules per document (Rae et al. 2021 Table A1;
    functions/scrub.py): fraction of duplicate non-blank lines and the
    token share of the modal word 2-gram — the standard
    boilerplate/degenerate-page cut. All scalar expressions in ONE
    scan (the modal count is a longest-equal-run fold over SORTED
    shingles — O(g log g) per row, no shuffle anywhere); the DuckDB
    mirror (scrub.duckdb_repetition_sql — one definition shared with
    tests/test_scrub.py) expresses the same modal count relationally.
    Both metrics are single divisions of small integers: the doubles
    are correctly-rounded identically on both engines."""
    from fenix_spark.functions.scrub import dup_line_frac, top_ngram_frac
    from fenix_spark.operators.dedup import spread

    docs = spread(table(spark, sf_dir, "documents"))
    c = F.col("text")
    return docs.select(
        "doc_id",
        (F.round(dup_line_frac(c), 6) + F.lit(0.0)).alias("dup_line_frac"),
        (F.round(top_ngram_frac(c, 2), 6) + F.lit(0.0)).alias("top_ngram_frac"),
    )


def _repetition_metrics_sql() -> str:
    from fenix_spark.functions.scrub import duckdb_repetition_sql

    return duckdb_repetition_sql("documents")


# --------------------------------------------------------------------------
# Registry
# --------------------------------------------------------------------------

SPARK_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # -- search / index family (reference flagship) --
    "knn_metrics": _knn_metrics,
    "knn_filtered": _knn_spark("l2", where="label = 3"),
    # (knn_select retired for bm25_search under the driver's 50-row
    #  cap, VERDICT r04 #8 — its projection+cosine pattern stays
    #  covered by knn_metrics' cosine row and knn_filtered's pruning.)
    "code_assign": _code_assign,
    "ivf_probe_search": _ivf_probe_search,
    "ivf_batch_search": _ivf_batch_search,
    "lsh_ann_search": _lsh_ann_search,
    "similarity_join_topk": _similarity_join_topk,
    # (quantize_roundtrip retired for hybrid_search under the 50-row
    #  cap, VERDICT r05 #3 — its qparams machinery stays end-to-end
    #  covered by quantized_knn, which dequantizes through the same
    #  column-metadata path.)
    "hybrid_search": _hybrid_search,
    "quantized_knn": _quantized_knn,
    "ivfpq_search": _ivfpq_search,
    # -- multimodal --
    "multimodal_features": _multimodal_features,
    # -- dedup family --
    "exact_dedup": _exact_dedup,
    "minhash_neardup": _minhash_neardup,
    "simhash_neardup": _simhash_neardup,
    # (fingerprints retired for triangle_counts, r13 — rotation #9,
    #  mirror staged row-identical at sf0.001+sf0.01 BEFORE promotion
    #  (tests/test_graph.py::test_triangle_counts_duckdb_mirror_staged).
    #  fingerprints' two expressions keep full checks: the simhash
    #  fingerprint is the SAME duck_simhash mirror simhash_neardup
    #  hash-verifies every round, and the whole retired row runs
    #  verbatim as a pytest mirror
    #  (tests/test_dedup.py::test_fingerprints_retired_row_still_mirrors);
    #  winnowing keeps its guarantee property test
    #  (test_properties.py::test_winnowing_guarantee). triangle_counts
    #  gives the GRAPH family its first oracle row — per-node triangle
    #  counts over the part co-occurrence graph, exact integer compare.)
    "triangle_counts": _triangle_counts,
    # (ngram_jaccard_topk retired for heavy_hitters under the 50-row
    #  cap, r9 — its exact-Jaccard-on-shingle-sets verify is the same
    #  expression minhash_neardup's verify stage hash-checks every
    #  round, and its broadcast-probe + window-top-k shape survives in
    #  group_topn and bm25_search; Misra-Gries is a whole sketch family
    #  whose completeness bound deserved an oracle row.)
    "embedding_neardup": _embedding_neardup,
    "dedup_keep_list": _dedup_keep_list,
    # -- text analysis / curation --
    # (text_stats retired for dedup_keep_list, VERDICT r05 #3 — its
    #  grouped count/avg shape stays hash-checked by tpch_q1 and
    #  curation_stats; text_metrics retired for repetition_metrics, r12 (rotation #8, done ahead of
    #  the r13 schedule since the staged mirror was already
    #  row-identical on the driver corpus) — its scan-local per-doc
    #  counting shape is EXACTLY what the repetition row exercises,
    #  harder: token/line counts plus a sorted-shingle modal fold vs
    #  plain ratio arithmetic, and the Gopher repetition family gains
    #  its first oracle row. text_metrics' quality/langid surfaces
    #  stay covered by tests/test_pipeline_e2e.py + test_recipe_e2e.py and the curation rows.)
    "repetition_metrics": _repetition_metrics,
    "tfidf_top_terms": _tfidf_top_terms,
    "bm25_search": _bm25_search,
    "curation_stats": _curation_stats,
    "label_centroids": _label_centroids,
    # -- relational corpus (TPC-H-style) --
    "scan_filter_project": _scan_filter_project,
    "tpch_q1": _tpch_q1,
    "tpch_q3": _tpch_q3,
    # (q4/q14 retired: the driver caps the suite at 50 rows, and their
    #  patterns — EXISTS semi-join, conditional agg over a join — stay
    #  covered by anti_join and q12; slots went to ivfpq_search and
    #  multimodal_features, VERDICT r03 #3/#7.)
    "tpch_q5": _tpch_q5,
    # (q6/q12 retired for dsir_scores + paragraph_dedup under the
    #  50-row cap, r7 — q6's single-table filter-aggregate arithmetic
    #  stays covered by q1, its pushdown proof by scan_filter_project;
    #  q12's conditional agg over a key join by curation_stats.)
    # (tpch_q10 retired for bootstrap_ci under the 50-row cap, r10 —
    #  its plan is a composite of shapes the suite hash-checks every
    #  round: fact-fact join + groupBy + TakeOrderedAndProject is
    #  exactly tpch_q3's plan, the customer/nation broadcast dims are
    #  tpch_q5's, and the discount-revenue arithmetic is q1/q3's; the
    #  Poisson bootstrap is a whole new estimation family — one-pass
    #  resampling-without-resampling — whose md5-deterministic weights
    #  make a full engine-portable mirror possible.)
    "tpch_q18": _tpch_q18,
    # (anti_join retired for quantile_normalize under the 50-row cap,
    #  r10 — the left-anti shape stays hash-checked every round twice:
    #  decontamination ends in the same broadcast left-anti keep-list
    #  join, and set_ops' EXCEPT arm compiles to the same aggregate-
    #  on-key anti semantics; sort-free rank normalization is a new
    #  family — distributed empirical-CDF scoring via mergeable
    #  sketches — with an exact cume_dist mirror at oracle SFs.)
    "set_ops": _set_ops,
    "rollup_agg": _rollup_agg,
    # (percentile_stats retired for cohort_retention under the 50-row
    #  cap, r8 session 3 — its exact-interpolated-percentile parity
    #  (Spark `percentile` == DuckDB `quantile_cont`) stays covered by
    #  the robust_anomalies and gapfill DuckDB-mirror tests, and its
    #  countDistinct shape by curation_stats; cohort retention is a
    #  new analytics family — first-touch cohorting with a
    #  self-referencing denominator join — over the events table.)
    # (pivot_status_priority retired for hist_quantiles under the
    #  50-row cap, r8 — pivot = groupBy + CASE arms, arithmetic
    #  covered by rollup_agg; the sketch family gains its first oracle
    #  row: the full hist_rollup → cum-sum → quantile pipeline.)
    "hist_quantiles": _hist_quantiles,
    "heavy_hitters": _heavy_hitters_q,
    "drift_psi": _drift_psi,
    # (argmax_per_group retired for priority_sample under the 50-row
    #  cap, r8 session 2; priority_sample retired for epoch_sample,
    #  r12 — both laws hinge on the SAME md5-threshold construction
    #  (texthash.hash60 → bucket/priority), but the epoch form
    #  exercises it more deeply: full-epoch replication via row-local
    #  explode PLUS the salted fractional pass, zero shuffles where
    #  priority_sample needed a per-group window. The DLT threshold-
    #  estimate law keeps its row-identical DuckDB mirror in
    #  tests/test_priority_sample.py::test_duckdb_mirror_state_and_take.)
    "epoch_sample": _epoch_sample_docs,
    # (moving_avg retired for gapfill_timeseries, r8 — its sliding
    #  ROWS frame stays covered by sessionize's running-sum frame and
    #  gapfill_timeseries' locf frame; gapfill is a whole operator family (dense-grid
    #  materialization + locf) that deserved an oracle row.)
    # (group_topn retired for markov_transitions, r13 — rotation #10,
    #  mirror staged row-identical at sf0.001+sf0.01 BEFORE promotion
    #  (tests/test_sequences.py::test_markov_transitions_duckdb_mirror_staged).
    #  group_topn's partitioned row_number top-n shape stays
    #  hash-checked every round by bm25_search and ivf_batch_search
    #  (per-query top-k windows) and tpch_q18's TakeOrderedAndProject;
    #  the whole retired row runs verbatim as a pytest mirror
    #  (tests/test_sequences.py::test_group_topn_retired_row_still_mirrors)
    #  and its 1-shuffle plan contract stays pinned in test_plans.py.
    #  markov_transitions gives the SEQUENCES family its first oracle
    #  row — the first-order transition matrix over per-user event
    #  streams, lead-window pairing + window-normalized conditional
    #  probabilities, summary-sized output at any corpus scale.)
    "markov_transitions": _markov_transitions,
    # (distinct_users retired for substring_dedup under the 50-row
    #  cap, r6 — its two-phase exact-distinct pattern stays covered by
    #  curation_stats' split counting and exact_dedup's hash groupBy;
    #  ExactSubstr is a whole new family and belongs under the oracle.)
    "substring_dedup": _substring_dedup,
    "paragraph_dedup": _paragraph_dedup,
    "dsir_scores": _dsir_scores,
    "bootstrap_ci": _bootstrap_ci_docs,
    "quantile_normalize": _quantile_normalize_docs,
    # (regex_extract_ids retired for readability_scores under the
    #  50-row cap, r11 — its scalar-regex/cast surface is exercised far
    #  more deeply by readability_scores' guarded sentence split +
    #  higher-order syllable aggregate; regexp_extract itself has no
    #  oracle row left.)
    "readability_scores": _readability_scores,
    "decontamination": _decontamination,
    "nested_access": _nested_access,
    # -- events / time-series --
    "events_json": _events_json,
    "sessionize": _sessionize,
    "asof_join_events": _asof_join_events,
    "range_join_events": _range_join_events,
    "funnel_conversion": _funnel_conversion,
    "cohort_retention": _cohort_retention_q,
    # (time_rollup retired for drift_psi under the 50-row cap, r9 —
    #  its multi-grain bucket explode + hash aggregate is the same
    #  bucket-agg shape gapfill_timeseries (grid buckets) and
    #  hist_quantiles (value buckets) hash-check every round, and the
    #  ohlc/twap arithmetic keeps its DuckDB+python mirrors in
    #  tests/test_events_ts.py; distribution drift is a whole
    #  monitoring family — PSI/JSD/TV with ε-floor semantics — whose
    #  deterministic math makes a full engine mirror possible.)
    "gapfill_timeseries": _gapfill_timeseries,
    "stream_window_counts": _stream_window_counts,
}

# The driver's oracle comparison always runs at sf0.01 (TESTDATA.md), so
# artifact-dependent oracle SQL is rendered against that SF's paths.
_ORACLE_SF_DIR = "/root/testdata/sf0.01"

ORACLE_SQL: dict[str, str] = {
    "knn_metrics": _knn_metrics_oracle(),
    "knn_filtered": _knn_oracle("l2", where="WHERE label = 3"),
    "code_assign": _code_assign_sql(_ORACLE_SF_DIR),
    "ivf_probe_search": _ivf_probe_search_sql(_ORACLE_SF_DIR),
    "ivf_batch_search": _ivf_batch_search_sql(_ORACLE_SF_DIR),
    "lsh_ann_search": _render_lsh_sql(_ORACLE_SF_DIR),
    "similarity_join_topk": _SIMILARITY_JOIN_SQL,
    "hybrid_search": _hybrid_search_sql(),
    "quantized_knn": _quantized_knn_sql(_ORACLE_SF_DIR),
    "ivfpq_search": _ivfpq_search_sql(_ORACLE_SF_DIR),
    "multimodal_features": _multimodal_features_sql(_ORACLE_SF_DIR),
    "exact_dedup": _EXACT_DEDUP_SQL,
    "minhash_neardup": _minhash_neardup_sql(),
    "simhash_neardup": _simhash_neardup_sql(),
    "triangle_counts": _TRIANGLE_COUNTS_SQL,
    "embedding_neardup": _EMBEDDING_NEARDUP_SQL,
    "dedup_keep_list": _dedup_keep_list_sql(),
    "repetition_metrics": _repetition_metrics_sql(),
    "tfidf_top_terms": _tfidf_top_terms_sql(),
    "bm25_search": _bm25_search_sql(),
    "curation_stats": _CURATION_STATS_SQL,
    "label_centroids": _LABEL_CENTROIDS_SQL,
    "scan_filter_project": _SCAN_FILTER_PROJECT_SQL,
    "tpch_q1": _TPCH_Q1_SQL,
    "tpch_q3": _TPCH_Q3_SQL,
    "tpch_q5": _TPCH_Q5_SQL,
    "tpch_q18": _TPCH_Q18_SQL,
    "set_ops": _SET_OPS_SQL,
    "rollup_agg": _ROLLUP_AGG_SQL,
    "hist_quantiles": _HIST_QUANTILES_SQL,
    "heavy_hitters": _heavy_hitters_sql(),
    "drift_psi": _DRIFT_PSI_SQL,
    "epoch_sample": _epoch_sample_sql(),
    "markov_transitions": _MARKOV_TRANSITIONS_SQL,
    "substring_dedup": _SUBSTRING_DEDUP_SQL,
    "paragraph_dedup": _PARAGRAPH_DEDUP_SQL,
    "dsir_scores": _dsir_scores_sql(),
    "bootstrap_ci": _bootstrap_ci_sql(),
    "quantile_normalize": _QUANTILE_NORMALIZE_SQL,
    "readability_scores": _readability_sql(),
    "decontamination": _decontamination_sql(),
    "nested_access": _NESTED_ACCESS_SQL,
    "events_json": _EVENTS_JSON_SQL,
    "sessionize": _SESSIONIZE_SQL,
    "asof_join_events": _ASOF_JOIN_SQL,
    "range_join_events": _RANGE_JOIN_SQL,
    "funnel_conversion": _FUNNEL_SQL,
    "cohort_retention": _COHORT_RETENTION_SQL,
    "gapfill_timeseries": _GAPFILL_SQL,
    "stream_window_counts": _STREAM_WINDOW_SQL,
}
