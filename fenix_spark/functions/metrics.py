"""Distance metrics over ``array<float>`` columns as NATIVE column
expressions (whole-stage-codegen eligible — no Python in the hot path).

Semantics mirror the reference exactly (fenix conventions, NOT textbook):

- ``l2`` / ``euclidean``: plain euclidean norm of the difference
  (reference: ``torch.cdist``, src/fenix/io/coder/coder.py:39-40).
- ``cosine``: ``0.5 - 0.5 * cos(u, v)`` — range [0, 1], 0 = identical.
  This is NOT ``1 - cos`` (reference: src/fenix/io/coder/coder.py:42-45).
- ``dot`` / ``inner_product``: NEGATED dot product ``-u·v`` so that
  smaller = closer, making every metric a uniform ascending top-k
  (reference: src/fenix/io/coder/coder.py:47-48).

All arithmetic is done in double precision regardless of the stored
element type: at 100 TB the storage stays float32 (half the scan bytes)
while the fold accumulates in float64 (stable, and bit-compatible with
the DuckDB oracle to well below the 1e-6 output rounding).
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

METRICS = ("l2", "euclidean", "cosine", "dot", "inner_product")


def vec_double(vec: Column | str) -> Column:
    """Cast an array<float> column to array<double> element-wise."""
    vec = F.col(vec) if isinstance(vec, str) else vec
    return vec.cast("array<double>")


def sql_double(v: float) -> str:
    """SQL double for ``v``: shortest-round-trip repr + D suffix, parsed
    by Java's correctly-rounded parser to the same IEEE bit pattern
    (pinned in test_metrics); NaN and ±infinity, which have no literal
    form, as casts of their names. ONE definition for every
    SQL-rendering fast path."""
    v = float(v)
    if math.isfinite(v):
        return repr(v) + "D"
    name = "NaN" if math.isnan(v) else ("Infinity" if v > 0 else "-Infinity")
    return f"CAST('{name}' AS DOUBLE)"


def lit_double_array(values: Sequence[float]) -> Column:
    """array<double> literal built in ONE py4j call.

    ``F.lit(list)`` / ``F.array(*[F.lit(v) ...])`` cost one JVM round
    trip PER ELEMENT (~0.5 ms each): the residual-IVFPQ LUTs alone are
    4×1024 doubles, ~2.5 s of driver time per query invocation. One
    ``F.expr("array(<v>D, ...)")`` parses JVM-side to the identical
    CreateArray-of-Literal tree: Python ``repr`` is shortest-round-trip
    and Java's parser is correctly rounded, so every element is the
    same IEEE double bit pattern. Non-finite values (no SQL literal
    form) fall back to the per-element path."""
    vals = [float(v) for v in values]
    if vals and all(math.isfinite(v) for v in vals):
        return F.expr("array(" + ",".join(sql_double(v) for v in vals) + ")")
    return F.array(*[F.lit(v) for v in vals])


def lit_long_array(values: Sequence[int]) -> Column:
    """array<bigint> literal as ONE Literal NODE, built in O(1) py4j
    round trips.

    Three costs matter for big literal LUTs and all three bite at a
    few thousand elements (r14, measured on a 32k-word Bloom filter):
    ``F.lit(list)`` pays one JVM round trip PER ELEMENT (~10 s);
    rendering ``array(1L,2L,…)`` into ``F.expr`` parses fast but
    leaves a 32k-node CreateArray tree that every optimizer rule
    re-traverses (~5 s of analysis per query); and both leave plan
    text proportional to the array. This helper ships the values as
    one packed byte payload (py4j transfers ``bytes`` natively),
    converts to ``long[]`` JVM-side via a ByteBuffer view, and calls
    Scala ``functions.lit`` on the array — Catalyst sees a single
    ``Literal`` of array<bigint> (32k-word filter: 0.05 s to build,
    milliseconds to analyze). Falls back to the rendered form if the
    gateway internals drift."""
    import struct

    from pyspark import SparkContext

    vals = [int(v) for v in values]
    try:
        sc = SparkContext._active_spark_context
        gw = sc._gateway
        data = struct.pack(f">{len(vals)}q", *vals)
        bb = gw.jvm.java.nio.ByteBuffer.wrap(data)
        arr = gw.new_array(gw.jvm.long, len(vals))
        bb.asLongBuffer().get(arr)
        return Column(gw.jvm.org.apache.spark.sql.functions.lit(arr))
    except Exception:  # pragma: no cover - py4j/internal-API drift
        return F.expr(
            "cast(array(" + ",".join(f"{v}L" for v in vals) + ") as array<bigint>)"
        )


def query_literal(target: Sequence[float]) -> Column:
    """Embed a driver-side query vector into the plan as a foldable
    array<double> literal (Catalyst constant — shipped once per task,
    not per row)."""
    return lit_double_array(target)


def dot(u: Column, v: Column) -> Column:
    """Σ u_i * v_i via zip_with + aggregate (codegen'd, no UDF)."""
    return F.aggregate(
        F.zip_with(u, v, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(u: Column) -> Column:
    return F.sqrt(dot(u, u))


def l2_distance(u: Column, v: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.zip_with(u, v, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_distance(u: Column, v: Column) -> Column:
    """fenix cosine: 0.5 - 0.5 * cos(u, v)."""
    return F.lit(0.5) - F.lit(0.5) * dot(u, v) / (norm(u) * norm(v))


def neg_dot(u: Column, v: Column) -> Column:
    """fenix dot/inner_product: negated so smaller = closer."""
    return -dot(u, v)


def distance(metric: str, u: Column, v: Column) -> Column:
    """Dispatch on the reference's 5 metric names
    (src/fenix/flight.py:254-256)."""
    if metric in ("l2", "euclidean"):
        return l2_distance(u, v)
    if metric == "cosine":
        return cosine_distance(u, v)
    if metric in ("dot", "inner_product"):
        return neg_dot(u, v)
    raise ValueError(f"unknown metric {metric!r}; expected one of {METRICS}")


def fold_distance(metric: str, cols, target: Sequence[float]):
    """``distance(metric, row, target)`` for every row of a float64
    matrix given column-major as ``cols`` (dim × rows), BIT-IDENTICAL
    to the Spark expression: the same operator tree, and every dot
    product the same left fold from 0.0 over the dimension, taken one
    vectorised column step at a time. BLAS, ``np.sum`` and
    ``np.linalg.norm`` reorder the sum and change the bits. Returns
    None where Spark divides by zero (cosine with a zero-norm vector),
    whose semantics only Spark can give."""
    import numpy as np

    q = [float(x) for x in target]

    def fold(term):
        acc = np.zeros(cols.shape[1])
        for j in range(len(q)):
            acc += term(j)
        return acc

    if metric in ("l2", "euclidean"):
        return np.sqrt(fold(lambda j: (cols[j] - q[j]) * (cols[j] - q[j])))
    if metric == "cosine":
        qq = 0.0
        for x in q:
            qq += x * x
        denom = np.sqrt(fold(lambda j: cols[j] * cols[j])) * math.sqrt(qq)
        if not denom.all():
            return None
        return 0.5 - (0.5 * fold(lambda j: cols[j] * q[j])) / denom
    if metric in ("dot", "inner_product"):
        return -fold(lambda j: cols[j] * q[j])
    raise ValueError(f"unknown metric {metric!r}; expected one of {METRICS}")
