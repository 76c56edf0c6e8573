"""Store façade tests: the reference client's verb set end-to-end on
one store — tables, coder, index, probe search vs brute parity, and
listing/dropping."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from fenix_spark.operators.coder import CodingConfig
from fenix_spark.store import Store


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("store"))
    s = Store(spark, root)
    rng = np.random.default_rng(5)
    rows = [
        (i, rng.normal(size=16).tolist(), int(i % 3)) for i in range(400)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>, label int")
    s.make_table("emb", df)
    return s


def test_table_verbs(store, spark):
    assert store.list_tables() == ["emb"]
    got = store.read_table("emb", filter=F.col("label") == 1, select=("vec_id",))
    assert got.columns == ["vec_id"]
    assert got.count() == sum(1 for i in range(400) if i % 3 == 1)
    # multi-name union-all, like the reference's list ticket
    store.make_table("emb2", store.read_table("emb"))
    assert store.read_table(["emb", "emb2"]).count() == 800
    store.drop_table("emb2")
    assert store.list_tables() == ["emb"]


def test_coder_index_search_lifecycle(store):
    store.make_coder(
        "pq", "emb", "embedding",
        CodingConfig(metric="l2", codebook_size=4, num_codebooks=2, seed=7),
    )
    assert store.list_coders() == ["pq"]
    store.make_index("emb", "embedding", "pq")
    assert store.list_indexes() == [("emb", "embedding", "pq")]

    indexed = store.read_table("emb", coding="pq", column="embedding")
    assert "__CODED_ID__" in indexed.columns
    assert indexed.count() == 400

    target = [0.1] * 16
    brute = [
        r.vec_id
        for r in store.search(
            "emb", "embedding", target, maxval=5, id_col="vec_id"
        ).collect()
    ]
    probed = [
        r.vec_id
        for r in store.search(
            "emb", "embedding", target, maxval=5,
            coding="pq", probes=16, id_col="vec_id",  # all 16 cells = exact
        ).collect()
    ]
    assert brute == probed  # probing every cell degenerates to brute

    store.drop_index("emb", "embedding", "pq")
    assert store.list_indexes() == []
    store.drop_coder("pq")
    assert store.list_coders() == []


def test_read_table_coding_needs_column(store):
    with pytest.raises(ValueError, match="column"):
        store.read_table("emb", coding="pq")


def test_remove(spark, tmp_path):
    import os

    s = Store(spark, str(tmp_path / "victim"))
    s.make_table("t", spark.range(5))
    assert s.list_tables() == ["t"]
    s.remove()
    assert not os.path.isdir(s.root)


@pytest.fixture(scope="module")
def ivf_store(spark, tmp_path_factory):
    """A store with one IVF coding ("ivf", 4×4 = 16 joint cells) and
    its index over 400 labelled vectors."""
    s = Store(spark, str(tmp_path_factory.mktemp("ivfstore")))
    rng = np.random.default_rng(11)
    rows = [(i, rng.normal(size=16).tolist(), int(i % 3)) for i in range(400)]
    s.make_table(
        "emb", spark.createDataFrame(rows, "vec_id bigint, embedding array<double>, label int")
    )
    s.make_coder(
        "ivf", "emb", "embedding",
        CodingConfig(metric="l2", codebook_size=4, num_codebooks=2, seed=3),
    )
    s.make_index("emb", "embedding", "ivf")
    return s


def _jobs_in_group(spark, group: str, work) -> list[int]:
    """Spark job ids that ``work()`` ran, counted by the status
    tracker under a job group set on this thread. A control job in a
    second group is awaited afterwards: listener events arrive in
    order, so once the control job is visible every job ``work`` ran
    is too."""
    import time

    sc = spark.sparkContext
    try:
        sc.setJobGroup(group, group)
        work()
        sc.setJobGroup(group + "-control", group)
        spark.range(1).collect()
        deadline = time.time() + 30
        while not sc.statusTracker().getJobIdsForGroup(group + "-control"):
            assert time.time() < deadline, "status tracker never saw the control job"
            time.sleep(0.05)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_read_coder_to_rank_cells_launches_no_spark_job(spark, ivf_store):
    """A stored coding is read, collected and ranked on the driver:
    ``read_coder`` → ``coding_to_numpy`` → ``rank_cells`` run zero
    Spark jobs, and the frame plans as a ``LocalTableScan``. The Spark
    parquet scan of the same directory (the control) does run
    jobs, so the counter is live."""
    from fenix_spark import catalog
    from fenix_spark.operators.coder import coding_to_numpy, rank_cells

    out = {}

    def read_and_rank():
        coding = ivf_store.read_coder("ivf")
        out["plan"] = coding._jdf.queryExecution().executedPlan().toString()
        out["cents"] = coding_to_numpy(coding)[0]
        out["cells"] = rank_cells(coding, [0.1] * 16, limit=4)

    assert _jobs_in_group(spark, "read-coder", read_and_rank) == []
    assert "LocalTableScan" in out["plan"]
    assert out["cents"].shape == (2, 4, 8)
    assert len(out["cells"]) == 4
    path = catalog.coding_path(ivf_store.root, "ivf")
    assert _jobs_in_group(spark, "read-coder-scan", lambda: spark.read.parquet(path).collect())


def test_concurrent_searches_equal_serial(ivf_store):
    """Two threads searching one IVF coding at once, with and without
    a filter, return the serial run's rows: ids and distances."""
    from concurrent.futures import ThreadPoolExecutor

    rng = np.random.default_rng(4)
    calls = [
        (rng.normal(size=16).tolist(), flt)
        for flt in (None, F.col("label") == 1)
        for _ in range(3)
    ]

    def search(call):
        target, flt = call
        return [
            tuple(r)
            for r in ivf_store.search(
                "emb", "embedding", target, filter=flt, maxval=5,
                coding="ivf", probes=4, id_col="vec_id",
            ).collect()
        ]

    serial = [search(c) for c in calls]
    assert all(len(rows) == 5 for rows in serial)
    with ThreadPoolExecutor(max_workers=2) as pool:
        threaded = list(pool.map(search, calls + calls))
    assert threaded == serial + serial
