"""The reference's five distance metrics, defined once, in the four
forms the package computes them in.

Semantics mirror the reference exactly (fenix conventions, NOT textbook):

- ``l2`` / ``euclidean``: plain euclidean norm of the difference
  (reference: ``torch.cdist``, src/fenix/io/coder/coder.py:39-40).
- ``cosine``: ``0.5 - 0.5 * cos(u, v)`` — range [0, 1], 0 = identical.
  This is NOT ``1 - cos`` (reference: src/fenix/io/coder/coder.py:42-45).
- ``dot`` / ``inner_product``: NEGATED dot product ``-u·v`` so that
  smaller = closer, making every metric a uniform ascending top-k
  (reference: src/fenix/io/coder/coder.py:47-48).

The forms, one line each:

- Column (``distance``): a Catalyst tree of zip_with + left-fold aggregate.
- SQL text (``_sql_distance``): the same tree as one parsed string.
- Driver fold (``fold_distance``): numpy, bit-identical to the Column form.
- GEMM (``_gemm_distance``): one BLAS product per batch; fast, not bit-exact.

All arithmetic is done in double precision regardless of the stored
element type: at 100 TB the storage stays float32 (half the scan bytes)
while the fold accumulates in float64 (stable, and bit-compatible with
the DuckDB oracle to well below the 1e-6 output rounding).
"""

from __future__ import annotations

import math
from collections.abc import Sequence

import numpy as np
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


def _col_fold(u: Column, v: Column, term) -> Column:
    """Σ_i term(u_i, v_i) via zip_with + left-fold aggregate from 0.0
    (codegen'd, no UDF): the fold every other form reproduces."""
    return F.aggregate(F.zip_with(u, v, term), F.lit(0.0), lambda acc, x: acc + x)


def dot(u: Column, v: Column) -> Column:
    return _col_fold(u, v, lambda a, b: a * b)


def norm(u: Column) -> Column:
    return F.sqrt(dot(u, u))


def l2_distance(u: Column, v: Column) -> Column:
    return F.sqrt(_col_fold(u, v, lambda a, b: (a - b) * (a - b)))


def cosine_distance(u: Column, v: Column) -> Column:
    """fenix cosine: 0.5 - 0.5 * cos(u, v)."""
    return F.lit(0.5) - F.lit(0.5) * dot(u, v) / (norm(u) * norm(v))


def neg_dot(u: Column, v: Column) -> Column:
    """fenix dot/inner_product: negated so smaller = closer."""
    return -dot(u, v)


def _kind(metric: str) -> str:
    """``l2``, ``cosine`` or ``dot``: what one of the reference's five
    names (src/fenix/flight.py:254-256) computes. Every form dispatches
    through it, so every form rejects an unknown name the same way."""
    kind = {"euclidean": "l2", "inner_product": "dot"}.get(metric, metric)
    if kind not in ("l2", "cosine", "dot"):
        raise ValueError(f"unknown metric {metric!r}; expected one of {METRICS}")
    return kind


def distance(metric: str, u: Column, v: Column) -> Column:
    """The Column form."""
    return {"l2": l2_distance, "cosine": cosine_distance, "dot": neg_dot}[_kind(metric)](u, v)


def _sql_distance(metric: str, u: str, v: str) -> str:
    """The SQL-text form over array<double> operands: ``distance``'s
    fold shapes (zip_with + left-fold aggregate) and operator trees, so
    values are bit-identical to the Column-built form."""

    def fold(p: str, q: str, term: str = "a * b") -> str:
        return f"aggregate(zip_with({p}, {q}, (a, b) -> {term}), 0.0D, (acc, x) -> acc + x)"

    kind = _kind(metric)
    if kind == "l2":
        return f"sqrt({fold(u, v, '(a - b) * (a - b)')})"
    if kind == "cosine":
        return f"(0.5D - ((0.5D * {fold(u, v)}) / (sqrt({fold(u, u)}) * sqrt({fold(v, v)}))))"
    return f"-({fold(u, v)})"


def _fold(u, v, term) -> np.ndarray:
    """Σ_i term(u[i], v[i]) over the leading (dimension) axis of two
    float64 arrays, computed as Spark's ``aggregate`` computes it: a
    left fold from 0.0, one vectorised step per dimension. BLAS,
    ``np.sum`` and ``np.linalg.norm`` reorder the sum and change the
    bits. The trailing axes broadcast (a target is one vector)."""
    acc = np.zeros(np.broadcast_shapes(np.shape(u)[1:], np.shape(v)[1:]))
    for a, b in zip(u, v):
        acc += term(a, b)
    return acc


def _fold_sum(metric: str, u, v) -> np.ndarray:
    """The part of ``distance`` that adds across sub-vectors, as the
    fold: l2's sum of squares before its sqrt, dot's negated dot. ADC
    tables are made of it. Cosine's norms do not split, so it raises."""
    kind = _kind(metric)
    if kind == "l2":
        return _fold(u, v, lambda a, b: np.square(a - b))
    if kind == "dot":
        return -_fold(u, v, np.multiply)
    raise ValueError(
        f"ADC does not decompose for metric {metric!r}; use l2 (or dot), "
        "or normalize vectors and use l2 as a cosine surrogate."
    )


def fold_distance(metric: str, cols, target):
    """The driver fold form: ``distance(metric, row, target)`` for every
    row of a float64 matrix given column-major as ``cols`` (dim ×
    rows), BIT-IDENTICAL to the Spark expression: the same operator
    tree, and every dot product the same left fold from 0.0 over the
    dimension (``_fold``). ``target`` is one vector, or a dim × rows
    matrix of one target per row. Cosine with a zero-norm vector, where
    Spark divides by zero (null, or an error under ANSI), is NaN: it
    ranks last, and a caller that must match Spark's answer refuses it."""
    v = np.asarray(target, dtype="float64")
    kind = _kind(metric)
    if kind != "cosine":
        d = _fold_sum(metric, cols, v)
        return np.sqrt(d) if kind == "l2" else d
    denom = np.sqrt(_fold(cols, cols, np.multiply)) * np.sqrt(_fold(v, v, np.multiply))
    with np.errstate(divide="ignore", invalid="ignore"):
        d = 0.5 - (0.5 * _fold(cols, v, np.multiply)) / denom
    return np.where(denom == 0, np.nan, d)


def _gemm_distance(metric: str, round_to: int | None = None):
    """The GEMM form: a kernel ``(a, b) →`` the len(a) × len(b) matrix
    of ``distance`` between the rows of two float64 matrices from one
    ``a @ b.T`` (l2 through |a|² + |b|² − 2·a·b, clamped at 0), rounded
    to ``round_to`` with -0.0 canonicalized to +0.0 (oracle hashers
    tell the signs apart). Built on the driver, so an unknown metric
    raises before any Spark job."""
    kind = _kind(metric)

    def kernel(a: np.ndarray, b: np.ndarray) -> np.ndarray:
        gram = a @ b.T
        if kind == "l2":
            a_sq, b_sq = (a * a).sum(axis=1), (b * b).sum(axis=1)
            d = np.sqrt(np.maximum(a_sq[:, None] + b_sq[None, :] - 2.0 * gram, 0.0))
        elif kind == "cosine":
            norms = np.linalg.norm(a, axis=1)[:, None] * np.linalg.norm(b, axis=1)[None, :]
            d = 0.5 - 0.5 * gram / norms
        else:
            d = -gram
        return d if round_to is None else d.round(round_to) + 0.0

    return kernel
