"""Idempotent per-SF index artifacts for the oracle-checked suite.

The coding (centroid table) and the indexed embeddings table are
materialized once per scale factor under ``<repo>/_artifacts/<sf>/``
using the catalog layout (catalog.py). Both are plain parquet so the
DuckDB oracle reads the exact same bytes Spark does — that makes code
assignment and probe search independently checkable queries instead of
trust-me internals.

Artifacts are committed for sf0.01 so correctness runs don't depend on
KMeans retraining determinism across environments; any missing SF is
(re)built on first use with fixed seeds.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from fenix_spark import catalog
from fenix_spark.operators.coder import CodingConfig, read_coding, train_coding
from fenix_spark.operators.index import build_index

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CODING_NAME = "pq_l2_k8_n2"
DEFAULT_CONFIG = CodingConfig(metric="l2", codebook_size=8, num_codebooks=2, seed=42)


def artifact_root(sf_dir: str) -> str:
    return os.path.join(REPO_ROOT, "_artifacts", os.path.basename(os.path.normpath(sf_dir)))


def coding_path(sf_dir: str) -> str:
    return catalog.coding_path(artifact_root(sf_dir), CODING_NAME)


def index_dir(sf_dir: str) -> str:
    return catalog.index_path(artifact_root(sf_dir), "embeddings", "embedding", CODING_NAME)


def _complete(path: str) -> bool:
    return os.path.isfile(os.path.join(path, "_SUCCESS"))


def _source_stamp(sf_dir: str) -> str:
    """Content-correlated fingerprint of the embeddings source: file
    size + row count + min/max stats of EVERY leaf column in row
    group 0. The vector leaf's float stats bind the stamp to the
    actual embedding values (column 0 alone is vec_id, whose 0..N−1
    stats never change between regenerations). Stable across
    checkouts and identical regenerations — no mtime."""
    import pyarrow.parquet as pq

    path = f"{sf_dir}/embeddings.parquet"
    md = pq.read_metadata(path)
    rg0 = md.row_group(0)
    parts = [str(os.path.getsize(path)), str(md.num_rows)]
    for i in range(rg0.num_columns):
        st = rg0.column(i).statistics
        parts.append(f"{st.min!r}:{st.max!r}" if st is not None else "-")
    return ":".join(parts)


def _check_source_stamp(sf_dir: str) -> None:
    """Embeddings-derived artifacts are committed per SF so oracle runs
    don't depend on KMeans retraining determinism — but if the DRIVER
    regenerates the testdata with different content (the r03 drift
    class, for data instead of schema), a stale index would silently
    serve vectors that no longer exist. Stamp mismatch wipes the
    embeddings-derived artifact dirs so they rebuild from the new data;
    first build writes the stamp."""
    root = artifact_root(sf_dir)
    stamp_file = os.path.join(root, "_EMBEDDINGS_STAMP")
    stamp = _source_stamp(sf_dir)
    if os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return
        import shutil

        for sub in ("codings", "indexes"):
            shutil.rmtree(os.path.join(root, sub), ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


# ensure_* results memoized per (session, sf_dir): artifacts are
# immutable once built, and re-reading footers + _SUCCESS probes on
# every query call cost ~1.3 s in the 3-arm ivfpq row. Weak-keyed on
# the session so a stopped session's frames don't leak.
_ENSURE_MEMO: "weakref.WeakKeyDictionary" = None  # type: ignore[assignment]


def _memo(spark: SparkSession, key: str, build):
    global _ENSURE_MEMO
    import weakref

    if _ENSURE_MEMO is None:
        _ENSURE_MEMO = weakref.WeakKeyDictionary()
    per_session = _ENSURE_MEMO.setdefault(spark, {})
    if key not in per_session:
        per_session[key] = build()
    return per_session[key]


def ensure_artifacts(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Return (coding, indexed_embeddings), building them if absent."""
    return _memo(spark, f"base:{sf_dir}", lambda: _ensure_artifacts(spark, sf_dir))


def _ensure_artifacts(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    _check_source_stamp(sf_dir)
    cpath, ipath = coding_path(sf_dir), index_dir(sf_dir)
    if not _complete(cpath):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        coding = train_coding(emb, "embedding", DEFAULT_CONFIG)
        coding.coalesce(1).write.mode("overwrite").parquet(cpath)
    coding = read_coding(spark, cpath)
    if not _complete(ipath):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        build_index(emb, "embedding", coding, ipath)
    return coding, spark.read.parquet(ipath)


# -- IVF-PQ artifacts (VERDICT r03 #3: put ivfpq_search under the oracle) --
#
# Plain variant: the existing k8n2 coding doubles as the COARSE level
# (64 joint cells = the partition key) and a finer k16n4 coding
# (65 536 codes over 16-dim subvectors) is the ADC DATA column.
# Residual variant: classic IVFPQ (Jégou 2011 §III) — single-codebook
# k64 coarse, fine coding trained on (vector − coarse centroid).

FINE_CODING_NAME = "pq_fine_l2_k16_n4"
FINE_CONFIG = CodingConfig(metric="l2", codebook_size=16, num_codebooks=4, seed=43)
RCOARSE_CODING_NAME = "ivf_coarse_l2_k64_n1"
RCOARSE_CONFIG = CodingConfig(metric="l2", codebook_size=64, num_codebooks=1, seed=44)
RFINE_CODING_NAME = "pq_resid_l2_k16_n4"
RFINE_CONFIG = CodingConfig(metric="l2", codebook_size=16, num_codebooks=4, seed=45)


def fine_coding_path(sf_dir: str) -> str:
    return catalog.coding_path(artifact_root(sf_dir), FINE_CODING_NAME)


def ivfpq_index_dir(sf_dir: str) -> str:
    return catalog.index_path(artifact_root(sf_dir), "embeddings", "embedding", "ivfpq")


def rcoarse_coding_path(sf_dir: str) -> str:
    return catalog.coding_path(artifact_root(sf_dir), RCOARSE_CODING_NAME)


def rfine_coding_path(sf_dir: str) -> str:
    return catalog.coding_path(artifact_root(sf_dir), RFINE_CODING_NAME)


def ivfpq_residual_index_dir(sf_dir: str) -> str:
    return catalog.index_path(
        artifact_root(sf_dir), "embeddings", "embedding", "ivfpq_residual"
    )


def ensure_ivfpq_artifacts(spark: SparkSession, sf_dir: str):
    """Return (coarse, fine, indexed) for the plain IVF-PQ layout,
    building any missing piece with fixed seeds."""
    return _memo(spark, f"ivfpq:{sf_dir}", lambda: _ensure_ivfpq(spark, sf_dir))


def _ensure_ivfpq(spark: SparkSession, sf_dir: str):
    _check_source_stamp(sf_dir)
    from fenix_spark.operators.index import build_ivfpq_index

    coarse, _ = ensure_artifacts(spark, sf_dir)
    fpath, ipath = fine_coding_path(sf_dir), ivfpq_index_dir(sf_dir)
    if not _complete(fpath):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        fine = train_coding(emb, "embedding", FINE_CONFIG)
        fine.coalesce(1).write.mode("overwrite").parquet(fpath)
    fine = read_coding(spark, fpath)
    if not _complete(ipath):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        build_ivfpq_index(emb, "embedding", coarse, fine, ipath)
    return coarse, fine, spark.read.parquet(ipath)


def large_flat_index_dir(sf_dir: str) -> str:
    """The 65,536-cell coding used FLAT (code as a data column, no
    hive partitioning — 65k partition dirs would be pathological at
    any SF; the batch search equi-joins on the column)."""
    return catalog.index_path(
        artifact_root(sf_dir), "embeddings", "embedding", "pq_fine_flat"
    )


def ensure_large_flat_index(spark: SparkSession, sf_dir: str):
    """Return (fine_coding, indexed_flat) for the large-codebook batch
    search arm: embeddings + ``__CODED_ID__`` assigned through the
    O(n·k) beam path (``probe_cells_join``, probes=1 — the only exact
    assignment that never enumerates the 65,536 joint cells). Stored
    as plain parquet so the DuckDB oracle can independently RE-DERIVE
    every code by separable per-codebook argmin — a wrong beam
    assignment would candidate-mismatch the oracle row."""
    return _memo(spark, f"large_flat:{sf_dir}", lambda: _ensure_large_flat(spark, sf_dir))


def _ensure_large_flat(spark: SparkSession, sf_dir: str):
    from pyspark.sql import functions as F

    from fenix_spark.operators.index import CODE_COL, PROBE_COL, probe_cells_join

    _, fine, _ = ensure_ivfpq_artifacts(spark, sf_dir)
    ipath = large_flat_index_dir(sf_dir)
    if not _complete(ipath):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        assigned = probe_cells_join(emb, fine, "embedding", probes=1, metric="l2")
        assigned.select(
            F.col("query_id").alias("vec_id"),
            F.col("__qvec").alias("embedding"),
            F.element_at(F.col(PROBE_COL), 1).alias(CODE_COL),
        ).write.mode("overwrite").parquet(ipath)
    return fine, spark.read.parquet(ipath)


def ensure_ivfpq_residual_artifacts(spark: SparkSession, sf_dir: str):
    """Return (coarse, fine, indexed) for the RESIDUAL IVF-PQ layout."""
    return _memo(spark, f"ivfpq_r:{sf_dir}", lambda: _ensure_ivfpq_residual(spark, sf_dir))


def _ensure_ivfpq_residual(spark: SparkSession, sf_dir: str):
    _check_source_stamp(sf_dir)
    from fenix_spark.operators.index import (
        build_ivfpq_residual_index,
        train_residual_coding,
    )

    cpath = rcoarse_coding_path(sf_dir)
    fpath = rfine_coding_path(sf_dir)
    ipath = ivfpq_residual_index_dir(sf_dir)
    if not _complete(cpath):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        coarse = train_coding(emb, "embedding", RCOARSE_CONFIG)
        coarse.coalesce(1).write.mode("overwrite").parquet(cpath)
    coarse = read_coding(spark, cpath)
    if not _complete(fpath):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        fine = train_residual_coding(emb, "embedding", coarse, RFINE_CONFIG)
        fine.coalesce(1).write.mode("overwrite").parquet(fpath)
    fine = read_coding(spark, fpath)
    if not _complete(ipath):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        build_ivfpq_residual_index(emb, "embedding", coarse, fine, ipath)
    return coarse, fine, spark.read.parquet(ipath)


# -- media artifact (VERDICT r03 #7: a multimodal oracle row) --
#
# The synthesized media table (fixed seed) is materialized as plain
# parquet so BOTH engines read the same payload bytes: Spark decodes
# them through the real BMP/WAV codecs, the DuckDB oracle recomputes
# the same stats straight from the container bytes (hex + header/
# padding arithmetic) — an independent check of the decode path.

MEDIA_N, MEDIA_SEED = 48, 42


def media_path(sf_dir: str) -> str:
    return os.path.join(artifact_root(sf_dir), "sources", "media")


def ensure_media_artifact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _memo(spark, f"media:{sf_dir}", lambda: _ensure_media(spark, sf_dir))


def _ensure_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fenix_spark.multimodal.media import synthesize_media

    mpath = media_path(sf_dir)
    if not _complete(mpath):
        synthesize_media(spark, n=MEDIA_N, seed=MEDIA_SEED).coalesce(1).write.mode(
            "overwrite"
        ).parquet(mpath)
    return spark.read.parquet(mpath)
