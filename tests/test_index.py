"""Index build + probe search invariants, mirroring the reference's
test families (/root/reference/tests/test_flight.py:52-149) plus the
quality and physical-plan checks the reference lacks (SURVEY.md §5)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from fenix_spark.operators.coder import CodingConfig, coding_to_numpy, rank_cells, train_coding
from fenix_spark.operators.index import (
    CODE_COL,
    assign_code_expr,
    batch_probe_search,
    build_index,
    probe_cells_expr,
    probe_search,
)
from fenix_spark.operators.search import knn

K, N = 8, 2


@pytest.fixture(scope="module")
def coding(embeddings):
    return train_coding(
        embeddings, "embedding", CodingConfig(metric="l2", codebook_size=K, num_codebooks=N)
    )


@pytest.fixture(scope="module")
def indexed(spark, embeddings, coding, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("index") / "emb_idx")
    build_index(embeddings, "embedding", coding, path)
    return spark.read.parquet(path)


def test_coding_shape(coding):
    cents, metric, k, n = coding_to_numpy(coding)
    assert (k, n, metric) == (K, N, "l2")
    assert cents.shape == (N, K, 64 // N)
    assert np.isfinite(cents).all()


def test_indexed_equals_source_plus_code(embeddings, indexed):
    """Reference invariant (test_flight.py:80-86): indexed read == source
    + __CODED_ID__, data otherwise unchanged (keyed by vec_id, since
    Spark has no row order)."""
    assert set(indexed.columns) == set(embeddings.columns) | {CODE_COL}
    assert indexed.count() == embeddings.count()
    src = {r["vec_id"]: (r["label"], tuple(r["embedding"])) for r in embeddings.collect()}
    for r in indexed.collect():
        assert src[r["vec_id"]] == (r["label"], tuple(r["embedding"]))
        assert 0 <= r[CODE_COL] < K**N


def test_assignment_is_argmin(embeddings, coding):
    """Each row's joint code must be the per-codebook argmin centroid
    (reference coder.call k=1 semantics, coder.py:143-194)."""
    cents, _, k, n = coding_to_numpy(coding)
    sub_dim = cents.shape[2]
    got = {
        r["vec_id"]: r["code"]
        for r in embeddings.select(
            "vec_id", assign_code_expr("embedding", coding).alias("code")
        ).collect()
    }
    for r in embeddings.collect():
        v = np.asarray(r["embedding"], dtype="float64")
        expect = 0
        for j in range(n):
            d = np.linalg.norm(cents[j] - v[j * sub_dim : (j + 1) * sub_dim], axis=1)
            expect += int(np.argmin(d)) * k ** (n - 1 - j)
        assert got[r["vec_id"]] == expect


def test_rank_cells_full_order(coding):
    order = rank_cells(coding, np.zeros(64), "l2")
    assert sorted(order) == list(range(K**N))


def test_probe_all_cells_equals_brute_force(embeddings, indexed, coding):
    target = embeddings.where(F.col("vec_id") == 1).head()["embedding"]
    exact = [
        r["vec_id"]
        for r in knn(embeddings, "embedding", target, "l2", k=10, id_col="vec_id").collect()
    ]
    probed = [
        r["vec_id"]
        for r in probe_search(
            indexed, coding, "embedding", target, k=10, probes=K**N, id_col="vec_id"
        ).collect()
    ]
    assert probed == exact


def test_probe_recall(embeddings, indexed, coding):
    """Recall@10 with probes=16/64 — the quality guardrail the reference
    never asserts (BASELINE.md). Averaged over 20 query vectors."""
    rows = embeddings.orderBy("vec_id").limit(20).collect()
    hits = total = 0
    for r in rows:
        target = r["embedding"]
        exact = {
            x["vec_id"]
            for x in knn(embeddings, "embedding", target, "l2", k=10, id_col="vec_id").collect()
        }
        probed = {
            x["vec_id"]
            for x in probe_search(
                indexed, coding, "embedding", target, k=10, probes=16, id_col="vec_id"
            ).collect()
        }
        hits += len(exact & probed)
        total += len(exact)
    recall = hits / total
    assert recall >= 0.6, f"recall@10 probes=16/64 too low: {recall:.3f}"


def _assert_permuted_coding_ranks_alike(spark, metric):
    """On a coding whose centroids are permutations of one vector,
    every cell is the same distance from the all-ones query in exact
    arithmetic, so the ranking rests on the last bits of each fold and
    on the id tie-break: ``rank_cells``, full or with ``limit``, must
    still equal ``probe_cells_expr``."""
    from fenix_spark.operators.coder import coding_from_numpy

    rng = np.random.default_rng(0)
    base = rng.normal(size=64 // N)
    perm = coding_from_numpy(
        spark, np.stack([[rng.permutation(base) for _ in range(K)] for _ in range(N)]), metric
    )
    ones = [1.0] * 64
    got = (
        spark.createDataFrame([(ones,)], "embedding array<float>")
        .select(probe_cells_expr("embedding", perm, probes=16).alias("cells"))
        .head()["cells"]
    )
    assert list(got) == rank_cells(perm, ones, metric)[:16]
    assert list(got) == rank_cells(perm, ones, metric, limit=16)


def test_probe_cells_expr_matches_rank_cells(spark, embeddings, coding):
    """The native per-row probe derivation must agree with the
    driver-side numpy ranking for every vector, and on a
    permuted-centroid coding."""
    got = {
        r["vec_id"]: list(r["cells"])
        for r in embeddings.select(
            "vec_id", probe_cells_expr("embedding", coding, probes=16).alias("cells")
        ).collect()
    }
    for r in embeddings.limit(25).collect():
        assert got[r["vec_id"]] == rank_cells(coding, r["embedding"], "l2")[:16]
    _assert_permuted_coding_ranks_alike(spark, "l2")


@pytest.mark.parametrize("metric", ["cosine", "dot"])
def test_probe_cells_expr_matches_rank_cells_per_metric(spark, embeddings, coding, metric):
    """The one rendered cell scorer agrees with the numpy ranking row
    for row for cosine and dot codings too, not only l2, and on a
    permuted-centroid coding."""
    from fenix_spark.operators.coder import coding_from_numpy

    typed = coding_from_numpy(spark, coding_to_numpy(coding)[0], metric)
    rows = embeddings.orderBy("vec_id").limit(200)
    got = rows.select(
        "embedding", probe_cells_expr("embedding", typed, probes=16).alias("cells")
    ).collect()
    assert len(got) == 200
    for r in got:
        assert list(r["cells"]) == rank_cells(typed, r["embedding"], metric)[:16]
    _assert_permuted_coding_ranks_alike(spark, metric)


def test_probe_cells_expr_quotes_backtick_column(embeddings, coding):
    """A column name containing a backtick is quoted, not spliced."""
    rows = embeddings.orderBy("vec_id").limit(20).withColumnRenamed("embedding", "emb`x")
    got = rows.select(
        F.col("`emb``x`").alias("v"), probe_cells_expr("emb`x", coding, probes=16).alias("cells")
    ).collect()
    assert len(got) == 20
    for r in got:
        assert list(r["cells"]) == rank_cells(coding, r["v"], "l2")[:16]


def test_probe_cells_expr_renders_non_finite_centroids(spark, embeddings, coding):
    """NaN and ±inf centroid values have no SQL literal; they render as
    casts, so such a coding still plans and ranks like rank_cells."""
    from fenix_spark.operators.coder import coding_from_numpy

    cents = coding_to_numpy(coding)[0].copy()
    cents[0, 3, 0], cents[1, 2, 1], cents[1, 5, 0] = np.inf, np.nan, -np.inf
    odd = coding_from_numpy(spark, cents, "l2")
    got = embeddings.orderBy("vec_id").limit(20).select(
        "embedding", probe_cells_expr("embedding", odd, probes=16).alias("cells")
    ).collect()
    for r in got:
        assert list(r["cells"]) == rank_cells(odd, r["embedding"], "l2")[:16]


def test_batch_probe_search_matches_per_query(embeddings, indexed, coding):
    """The set-at-a-time cell-equi-join must return exactly what N
    independent probe_search calls return."""
    queries = embeddings.where(F.col("vec_id") < 5)
    batch = batch_probe_search(
        queries, indexed, coding, "embedding", k=7, probes=16, round_to=6
    )
    got = {
        (r["query_id"], r["rank"]): r["right_id"] for r in batch.collect()
    }
    for q in queries.collect():
        singles = probe_search(
            indexed, coding, "embedding", q["embedding"], k=7, probes=16, id_col="vec_id"
        ).collect()
        for rank, s in enumerate(singles, start=1):
            assert got[(q["vec_id"], rank)] == s["vec_id"]


def test_batch_probe_search_is_equi_join(embeddings, indexed, coding):
    """The probe join must be a key join on the cell id — never a
    cartesian/nested-loop product (SURVEY.md §2.3)."""
    queries = embeddings.where(F.col("vec_id") < 5)
    plan = (
        batch_probe_search(queries, indexed, coding, "embedding", k=5, probes=16)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    # the probe equi-join must drive DYNAMIC partition pruning of the
    # __CODED_ID__-partitioned index — only probed cells are read
    assert "dynamicpruning" in plan


def test_probe_prunes_partitions(indexed, coding, embeddings):
    """The probe predicate must reach the scan as a PartitionFilter
    (physical pruning — the 100 TB design point, SURVEY.md §4)."""
    target = embeddings.where(F.col("vec_id") == 0).head()["embedding"]
    plan = (
        probe_search(indexed, coding, "embedding", target, k=10, probes=16)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [" in plan
    assert CODE_COL in plan.split("PartitionFilters:")[1].split("]")[0]


def test_probe_cells_join_matches_expr(embeddings, coding):
    """The broadcast-join scorer must return BIT-IDENTICAL probe lists
    to the enumerated-expression scorer at the reference config."""
    from fenix_spark.operators.index import PROBE_COL, probe_cells_join

    want = {
        r["vec_id"]: list(r["cells"])
        for r in embeddings.select(
            "vec_id", probe_cells_expr("embedding", coding, probes=16).alias("cells")
        ).collect()
    }
    got = {
        r["query_id"]: list(r[PROBE_COL])
        for r in probe_cells_join(
            embeddings, coding, "embedding", probes=16, query_id="vec_id"
        ).collect()
    }
    assert got == want


def test_probe_cells_join_large_codebook(spark):
    """Above the enumeration bound (k^n > 4096) the join scorer is the
    only path — verify its beam pruning is exact against the numpy
    full ranking on a synthetic 32^3 = 32768-cell codebook."""
    import numpy as np
    from pyspark.sql import Row

    from fenix_spark.operators.index import (
        PROBE_COL,
        _MAX_ENUMERATED_CELLS,
        probe_cells_join,
    )

    k, n, sub_dim, probes = 32, 3, 4, 20
    assert k**n > _MAX_ENUMERATED_CELLS
    rng = np.random.default_rng(7)
    cents = rng.normal(size=(n, k, sub_dim)).round(3)
    coding = spark.createDataFrame(
        [
            Row(
                codebook=j,
                cell=c,
                centroid=[float(x) for x in cents[j, c]],
                metric="l2",
                codebook_size=k,
                num_codebooks=n,
            )
            for j in range(n)
            for c in range(k)
        ],
        "codebook int, cell int, centroid array<double>, "
        "metric string, codebook_size int, num_codebooks int",
    )
    qvecs = rng.normal(size=(8, n * sub_dim)).round(3)
    queries = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in enumerate(qvecs)],
        "vec_id bigint, embedding array<double>",
    )
    got = {
        r["query_id"]: list(r[PROBE_COL])
        for r in probe_cells_join(
            queries, coding, "embedding", probes=probes, query_id="vec_id"
        ).collect()
    }
    for i, v in enumerate(qvecs):
        assert got[i] == rank_cells(coding, v, "l2")[:probes]


def test_adc_matches_numpy_lut(embeddings, indexed, coding):
    """ADC distance from the code column must equal the numpy LUT sum
    for every row (Jégou et al. 2011 asymmetric distance)."""
    from fenix_spark.operators.index import adc_dist_expr, adc_lut

    cents, _, k, n = coding_to_numpy(coding)
    sub_dim = cents.shape[2]
    target = embeddings.where(F.col("vec_id") == 3).head()["embedding"]
    luts = adc_lut(coding, target, "l2")
    got = {
        r["vec_id"]: r["d"]
        for r in indexed.select(
            "vec_id", adc_dist_expr(luts, k, "l2").alias("d")
        ).collect()
    }
    q = np.asarray(target, dtype="float64")
    for r in indexed.select("vec_id", CODE_COL).collect():
        code = r[CODE_COL]
        acc = 0.0
        for j in range(n):
            digit = (code // k ** (n - 1 - j)) % k
            acc += float(
                np.sum((q[j * sub_dim : (j + 1) * sub_dim] - cents[j, digit]) ** 2)
            )
        assert got[r["vec_id"]] == pytest.approx(float(np.sqrt(acc)), rel=1e-9)


def test_adc_full_rerank_equals_exact_knn(embeddings, indexed, coding):
    """rerank = |table| makes ADC search exactly the brute-force KNN —
    the shortlist covers everything, so exact re-scoring wins."""
    from fenix_spark.operators.index import adc_search

    total = embeddings.count()
    target = embeddings.where(F.col("vec_id") == 1).head()["embedding"]
    exact = [
        (r["vec_id"], round(r["__DISTANCE__"], 9))
        for r in knn(embeddings, "embedding", target, "l2", k=10, id_col="vec_id").collect()
    ]
    got = [
        (r["vec_id"], round(r["__DISTANCE__"], 9))
        for r in adc_search(
            indexed, coding, "embedding", target, metric="l2", k=10, rerank=total
        ).collect()
    ]
    assert got == exact


def test_adc_recall_with_rerank(embeddings, indexed, coding):
    """ADC + modest rerank must recover most of the exact top-10 —
    the quality guardrail for the compressed-scan path."""
    from fenix_spark.operators.index import adc_search

    rows = embeddings.orderBy("vec_id").limit(10).collect()
    hits = total = 0
    for r in rows:
        target = r["embedding"]
        exact = {
            x["vec_id"]
            for x in knn(embeddings, "embedding", target, "l2", k=10, id_col="vec_id").collect()
        }
        got = {
            x["vec_id"]
            for x in adc_search(
                indexed, coding, "embedding", target, metric="l2", k=10, rerank=50
            ).collect()
        }
        hits += len(exact & got)
        total += len(exact)
    assert hits / total >= 0.5, f"ADC rerank@50 recall too low: {hits / total:.3f}"


def test_adc_candidate_scan_reads_no_vector(indexed, coding, embeddings):
    """The ADC candidate pass must not materialize the raw vector
    column: its scan ReadSchema carries only the id (the code is the
    partition column, free from directory names). This IS the 100 TB
    win — ~16 B/row instead of ~1 KB."""
    from fenix_spark.operators.index import adc_search

    target = embeddings.where(F.col("vec_id") == 0).head()["embedding"]
    plan = (
        adc_search(indexed, coding, "embedding", target, metric="l2", k=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    scan = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "embedding" not in scan, scan


def test_adc_cosine_raises(indexed, coding):
    """ADC refuses cosine, and a target shorter than the coding's
    n·sub_dim: its tables would be the answer, so no row is scored."""
    from fenix_spark.operators.index import adc_lut, adc_search

    with pytest.raises(ValueError, match="cosine"):
        adc_lut(coding, [0.0] * 64, "cosine")
    with pytest.raises(ValueError, match="63 elements"):
        adc_search(indexed, coding, "embedding", [1.0] * 63, metric="l2", k=10)


def test_cosine_ranking_scores_a_zero_sub_vector_last(spark):
    """Under cosine a zero-norm centroid or sub-query scores NaN (Spark
    divides by zero there) and ranks last, ties by id, instead of
    failing the whole single-target search."""
    from fenix_spark.operators.coder import coding_from_numpy

    cents = np.random.default_rng(5).normal(size=(2, 4, 2))
    cents[1, 0] = 0.0
    zero_cell = coding_from_numpy(spark, cents, "cosine")
    ranked = rank_cells(zero_cell, [0.3, -1.0, 0.5, 2.0])
    assert sorted(ranked) == list(range(16)) and ranked[-4:] == [0, 4, 8, 12]
    assert rank_cells(zero_cell, [0.0, 0.0, 0.5, 2.0], limit=5) == [0, 1, 2, 3, 4]


def test_append_to_index_equals_full_rebuild(spark, embeddings, coding, tmp_path_factory):
    """Half-build + incremental append must be indistinguishable from a
    full rebuild: same rows per cell, same probe-search results, and
    the probe plan still partition-prunes."""
    from fenix_spark.operators.index import append_to_index, read_index

    base = str(tmp_path_factory.mktemp("idx_incr"))
    old = embeddings.where(F.col("vec_id") % 2 == 0)
    new = embeddings.where(F.col("vec_id") % 2 == 1)
    build_index(old, "embedding", coding, base)
    append_to_index(new, "embedding", coding, base)
    merged = read_index(spark, base)

    full = str(tmp_path_factory.mktemp("idx_full"))
    build_index(embeddings, "embedding", coding, full)
    rebuilt = read_index(spark, full)

    got = {(r["vec_id"], r[CODE_COL]) for r in merged.select("vec_id", CODE_COL).collect()}
    want = {(r["vec_id"], r[CODE_COL]) for r in rebuilt.select("vec_id", CODE_COL).collect()}
    assert got == want

    target = embeddings.where(F.col("vec_id") == 1).head()["embedding"]
    res_m = probe_search(merged, coding, "embedding", target, k=10, probes=16, id_col="vec_id")
    res_r = probe_search(rebuilt, coding, "embedding", target, k=10, probes=16, id_col="vec_id")
    assert [r["vec_id"] for r in res_m.collect()] == [r["vec_id"] for r in res_r.collect()]
    plan = res_m._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan


def test_rank_cells_beam_matches_dense(spark, monkeypatch):
    """The large-codebook beam path must return exactly the dense
    ranking's prefix — forced onto a small codebook by lowering the
    dense bound."""
    import numpy as np
    from pyspark.sql import Row

    from fenix_spark.operators import coder as coder_mod

    k, n, sub_dim = 32, 3, 4
    rng = np.random.default_rng(11)
    cents = rng.normal(size=(n, k, sub_dim)).round(3)
    coding2 = spark.createDataFrame(
        [
            Row(
                codebook=j, cell=c, centroid=[float(x) for x in cents[j, c]],
                metric="l2", codebook_size=k, num_codebooks=n,
            )
            for j in range(n)
            for c in range(k)
        ],
        "codebook int, cell int, centroid array<double>, "
        "metric string, codebook_size int, num_codebooks int",
    )
    target = rng.normal(size=n * sub_dim).round(3)
    dense = rank_cells(coding2, target, "l2")[:25]
    monkeypatch.setattr(coder_mod, "_MAX_DENSE_CELLS", 100)
    with pytest.raises(ValueError, match="beam"):
        rank_cells(coding2, target, "l2")
    beam = rank_cells(coding2, target, "l2", limit=25)
    assert beam == dense


def test_ivfpq_layout_and_search(spark, embeddings, tmp_path_factory):
    """Two-level IVF-PQ: coarse cells are partition directories (probe
    → PartitionFilters), fine codes are a data column; full-probe
    search with exact rerank equals brute-force KNN; pruned probes
    still return k rows from a strict data subset."""
    from fenix_spark.operators.coder import CodingConfig, train_coding
    from fenix_spark.operators.index import (
        FINE_CODE_COL,
        build_ivfpq_index,
        ivfpq_search,
        read_index,
    )
    from fenix_spark.operators.search import knn

    coarse = train_coding(
        embeddings, "embedding", CodingConfig(metric="l2", codebook_size=8, num_codebooks=1)
    )
    fine = train_coding(
        embeddings, "embedding", CodingConfig(metric="l2", codebook_size=16, num_codebooks=4)
    )
    path = str(tmp_path_factory.mktemp("ivfpq"))
    build_ivfpq_index(embeddings, "embedding", coarse, fine, path)
    idx = read_index(spark, path)
    assert FINE_CODE_COL in idx.columns and CODE_COL in idx.columns
    assert idx.count() == embeddings.count()

    target = embeddings.where(F.col("vec_id") == 3).head()["embedding"]
    # full probes + deep exact rerank == brute force
    got = ivfpq_search(
        idx, coarse, fine, "embedding", target, k=10, probes=None,
        rerank=embeddings.count(), id_col="vec_id",
    )
    want = knn(embeddings, "embedding", target, "l2", k=10, id_col="vec_id")
    assert [r["vec_id"] for r in got.collect()] == [r["vec_id"] for r in want.collect()]

    # pruned probes: partition filter in plan, k rows out
    pruned = ivfpq_search(
        idx, coarse, fine, "embedding", target, k=10, probes=2, rerank=40, id_col="vec_id"
    )
    rows = pruned.collect()
    assert len(rows) == 10
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # two scans: the ADC candidate pass must carry the coarse-cell
    # partition filter (the rerank scan is unpruned by design)
    assert any(
        CODE_COL in seg.split("]")[0] for seg in plan.split("PartitionFilters:")[1:]
    )


def test_residual_ivfpq_exactness_and_quantization_gain(spark, embeddings, tmp_path_factory):
    """Residual IVF-PQ: (a) full-probe + deep exact rerank == brute
    force, (b) pruned search partition-prunes and returns k, (c) the
    point of residuals — reconstruction error strictly below the
    raw-vector fine coding at identical code bits."""
    import numpy as np

    from fenix_spark.operators.coder import CodingConfig, coding_to_numpy, train_coding
    from fenix_spark.operators.index import (
        FINE_CODE_COL,
        build_ivfpq_index,
        build_ivfpq_residual_index,
        ivfpq_residual_search,
        read_index,
        train_residual_coding,
    )
    from fenix_spark.operators.search import knn

    coarse = train_coding(
        embeddings, "embedding", CodingConfig(metric="l2", codebook_size=8, num_codebooks=1)
    )
    fine_cfg = CodingConfig(metric="l2", codebook_size=16, num_codebooks=4)
    fine_res = train_residual_coding(embeddings, "embedding", coarse, fine_cfg)
    fine_raw = train_coding(embeddings, "embedding", fine_cfg)

    path = str(tmp_path_factory.mktemp("ivfpq_res"))
    build_ivfpq_residual_index(embeddings, "embedding", coarse, fine_res, path)
    idx = read_index(spark, path)
    n_vec = embeddings.count()
    assert idx.count() == n_vec

    target = embeddings.where(F.col("vec_id") == 5).head()["embedding"]
    got = ivfpq_residual_search(
        idx, coarse, fine_res, "embedding", target, k=10, probes=None,
        rerank=n_vec, id_col="vec_id",
    )
    want = knn(embeddings, "embedding", target, "l2", k=10, id_col="vec_id")
    assert [r["vec_id"] for r in got.collect()] == [r["vec_id"] for r in want.collect()]

    pruned = ivfpq_residual_search(
        idx, coarse, fine_res, "embedding", target, k=10, probes=2, rerank=40, id_col="vec_id"
    )
    rows = pruned.collect()
    assert len(rows) == 10
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert any(
        CODE_COL in seg.split("]")[0] for seg in plan.split("PartitionFilters:")[1:]
    )

    # (c) reconstruction MSE: residual coding must beat raw coding
    raw_path = str(tmp_path_factory.mktemp("ivfpq_raw"))
    build_ivfpq_index(embeddings, "embedding", coarse, fine_raw, raw_path)
    raw_idx = read_index(spark, raw_path)

    c_cents, _, _ck, _ = coding_to_numpy(coarse)
    fr_cents, _, fk, fn = coding_to_numpy(fine_res)
    fw_cents, _, _, _ = coding_to_numpy(fine_raw)
    sub = fr_cents.shape[2]

    def digits(code, k, n):
        return [(code // k ** (n - 1 - j)) % k for j in range(n)]

    def mse(index_df, fine_cents, add_coarse):
        err = 0.0
        rows = index_df.select("vec_id", "embedding", CODE_COL, FINE_CODE_COL).collect()
        for r in rows:
            v = np.asarray(r["embedding"], dtype=float)
            rec = np.concatenate(
                [fine_cents[j, d] for j, d in enumerate(digits(r[FINE_CODE_COL], fk, fn))]
            )
            if add_coarse:
                rec = rec + c_cents[0, r[CODE_COL]]
            err += float(((v - rec) ** 2).sum())
        return err / len(rows)

    assert mse(idx, fr_cents, True) < mse(raw_idx, fw_cents, False)


def test_residual_probes_zero_means_zero_candidates(spark, embeddings, tmp_path_factory):
    """probes=0 = empty candidate set, matching ivfpq_search (it used
    to fall through to probe-ALL via `if probes`)."""
    from fenix_spark.operators.coder import CodingConfig, train_coding
    from fenix_spark.operators.index import (
        build_ivfpq_residual_index,
        ivfpq_residual_search,
        train_residual_coding,
    )

    coarse = train_coding(
        embeddings, "embedding", CodingConfig(metric="l2", codebook_size=8, num_codebooks=1, seed=3)
    )
    fine = train_residual_coding(
        embeddings, "embedding", coarse, CodingConfig(metric="l2", codebook_size=8, num_codebooks=2, seed=4)
    )
    path = str(tmp_path_factory.mktemp("respz"))
    build_ivfpq_residual_index(embeddings, "embedding", coarse, fine, path)
    idx = spark.read.parquet(path)
    t = embeddings.where("vec_id = 1").head()["embedding"]
    assert ivfpq_residual_search(idx, coarse, fine, "embedding", t, k=5, probes=0).count() == 0
    assert ivfpq_residual_search(idx, coarse, fine, "embedding", t, k=5, probes=2).count() == 5


def test_residual_search_decodes_each_coding_once(spark, embeddings, tmp_path_factory, monkeypatch):
    """One residual search builds all 64 coarse cells' lookup tables
    from ONE decoded fine coding: three decodes in total (coarse, fine,
    and the coarse cell ranking), not one per coarse cell."""
    from fenix_spark.operators import coder, index
    from fenix_spark.operators.coder import coding_from_numpy

    rng = np.random.default_rng(5)
    coarse = coding_from_numpy(spark, rng.standard_normal((1, 64, 64)), "l2")
    fine = coding_from_numpy(spark, rng.standard_normal((4, 16, 16)), "l2")
    path = str(tmp_path_factory.mktemp("rescount"))
    index.build_ivfpq_residual_index(embeddings, "embedding", coarse, fine, path)
    idx = spark.read.parquet(path)
    t = embeddings.where("vec_id = 1").head()["embedding"]

    calls = []
    real = coder.coding_to_numpy

    def counting(c):
        calls.append(c)
        return real(c)

    monkeypatch.setattr(coder, "coding_to_numpy", counting)
    monkeypatch.setattr(index, "coding_to_numpy", counting)
    out = index.ivfpq_residual_search(idx, coarse, fine, "embedding", t, k=5, probes=16)
    assert len(calls) <= 3
    monkeypatch.undo()
    assert out.count() == 5


# ------------------------------------------------------- filtered ANN


class TestFilteredProbeSearch:
    def test_small_filter_takes_exact_path(self, spark, indexed, coding):
        """A selective filter (few surviving rows) must return the
        EXACT filtered top-k — identical to brute force."""
        from fenix_spark.operators.index import filtered_probe_search
        from fenix_spark.operators.search import knn

        q = indexed.orderBy("vec_id").first()["embedding"]
        filt = F.col("vec_id") % 50 == 0  # ~2% of rows
        got = [
            r.vec_id
            for r in filtered_probe_search(
                indexed, coding, "embedding", q, filt, k=5,
                brute_threshold=10_000, id_col="vec_id",
            ).collect()
        ]
        want = [
            r.vec_id
            for r in knn(
                indexed, "embedding", q, metric="l2", k=5, filter=filt,
                id_col="vec_id",
            ).collect()
        ]
        assert got == want

    def test_over_probe_beats_naive_postfilter(self, spark, indexed, coding):
        """With a 25%-selective filter and the brute path disabled,
        over-probing must recall at least as much of the true filtered
        top-k as naive probe_search at base probes."""
        from fenix_spark.operators.index import filtered_probe_search, probe_search
        from fenix_spark.operators.search import knn

        q = indexed.orderBy("vec_id").first()["embedding"]
        filt = F.col("vec_id") % 4 == 0
        want = {
            r.vec_id
            for r in knn(
                indexed, "embedding", q, metric="l2", k=10, filter=filt,
                id_col="vec_id",
            ).collect()
        }
        naive = {
            r.vec_id
            for r in probe_search(
                indexed, coding, "embedding", q, k=10, probes=4,
                filter=filt, id_col="vec_id",
            ).collect()
        }
        boosted = {
            r.vec_id
            for r in filtered_probe_search(
                indexed, coding, "embedding", q, filt, k=10, probes=4,
                brute_threshold=0, selectivity=0.25, id_col="vec_id",
            ).collect()
        }
        assert len(boosted & want) >= len(naive & want)
        # 4/0.25 = 16 probed cells of 64 — strictly more than naive's 4
        assert len(boosted) == 10


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_read_coding_rows_equal_spark_scan(spark, embeddings, tmp_path):
    """The driver-local coding reader returns exactly the rows a Spark
    parquet scan of the same directory collects, as a
    ``LocalTableScan`` frame, for three writers: ``Store.make_coder``,
    ``import_reference_coding`` and the committed sf0.01 artifact."""
    from fenix_spark import artifacts, catalog
    from fenix_spark.operators.coder import read_coding
    from fenix_spark.sources.torchpickle import (
        export_reference_coding,
        import_reference_coding,
    )
    from fenix_spark.store import Store

    store = Store(spark, str(tmp_path / "store"))
    store.make_table("emb", embeddings)
    store.make_coder("pq", "emb", "embedding", CodingConfig(codebook_size=4, num_codebooks=2))
    export_reference_coding(store.read_coder("pq"), str(tmp_path / "pq.torch"))
    imported = import_reference_coding(spark, str(tmp_path / "pq.torch"), str(tmp_path / "imp"))
    assert "LocalTableScan" in _plan(imported)
    paths = [
        catalog.coding_path(store.root, "pq"),
        str(tmp_path / "imp"),
        artifacts.coding_path("sf0.01"),
    ]
    for path in paths:
        local = read_coding(spark, path)
        assert "LocalTableScan" in _plan(local)
        want = spark.read.parquet(path).collect()
        assert len(want) in (8, 16)
        assert sorted(local.collect()) == sorted(want)


def test_codings_are_driver_local(coding):
    """``train_coding`` returns an Arrow-built local frame."""
    assert "LocalTableScan" in _plan(coding)


def test_artifact_codings_are_driver_local(spark):
    from conftest import SF01_DIR

    from fenix_spark import artifacts

    codings = [
        artifacts.ensure_artifacts(spark, SF01_DIR)[0],
        *artifacts.ensure_ivfpq_artifacts(spark, SF01_DIR)[:2],
        *artifacts.ensure_ivfpq_residual_artifacts(spark, SF01_DIR)[:2],
        artifacts.ensure_large_flat_index(spark, SF01_DIR)[0],
    ]
    for c in codings:
        assert "LocalTableScan" in _plan(c)


def test_index_build_writes_one_file_per_cell(spark, tmp_path):
    """build_index rebalances by the cell before its partitioned
    write: each populated cell (all far below the advisory partition
    size) holds exactly one parquet file. A cell above the advisory
    size is split by AQE across several tasks and files, so one hot
    cell is not one straggler task; every row lands in its cell once."""
    import os

    import pyarrow.parquet as pq

    from fenix_spark.operators.coder import coding_from_numpy

    rng = np.random.default_rng(15)
    cents = rng.normal(size=(2, 8, 4))
    hot = np.concatenate([cents[0][0], cents[1][0]])
    vecs = np.concatenate([hot + rng.normal(scale=1e-3, size=(2000, 8)), rng.normal(size=(1000, 8))])
    df = spark.createDataFrame(
        [(i, list(map(float, v))) for i, v in enumerate(vecs)],
        "vec_id bigint, emb array<double>",
    ).repartition(4)
    coding = coding_from_numpy(spark, cents, "l2")

    def cell_rows(path):
        rows = {}
        for c in os.listdir(path):
            if c.startswith(CODE_COL + "="):
                files = [f for f in os.listdir(os.path.join(path, c)) if f.endswith(".parquet")]
                rows[c] = [pq.read_metadata(os.path.join(path, c, f)).num_rows for f in files]
        return rows

    build_index(df, "emb", coding, str(tmp_path / "idx"))
    rows = cell_rows(str(tmp_path / "idx"))
    assert len(rows) > 8
    assert all(len(r) == 1 for r in rows.values()), rows
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "16k")
    try:
        build_index(df, "emb", coding, str(tmp_path / "split"))
    finally:
        spark.conf.set(key, old)
    rows = cell_rows(str(tmp_path / "split"))
    big = max(rows, key=lambda c: sum(rows[c]))
    assert sum(rows[big]) >= 2000
    assert len(rows[big]) > 1, rows[big]
    assert sum(map(sum, rows.values())) == 3000
