"""Connected components / keep-list (operators/components.py) vs a
plain union-find model, plus the dedup-pipeline integration."""

from __future__ import annotations

import contextlib

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

import fenix_spark.operators.components as components_mod
from fenix_spark.operators.components import connected_components, dedup_keep_list


def _union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical min-label per node
    roots = {}
    for x in list(parent):
        roots[x] = find(x)
    # path-compress fully: min id in each set
    comp_min = {}
    for x, r in roots.items():
        comp_min[r] = min(comp_min.get(r, x), x)
    return {x: comp_min[r] for x, r in roots.items()}


def test_chain_and_clique(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 10), (20, 21), (21, 22), (20, 22)],
        "id_a bigint, id_b bigint",
    )
    got = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)), min_size=1, max_size=60
    )
)
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
def test_components_match_union_find(spark, edges):
    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    pairs = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    got = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == _union_find(edges)


def test_nonconvergence_raises(spark):
    pairs = spark.createDataFrame([(i, i + 1) for i in range(12)], "id_a bigint, id_b bigint")
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(pairs, max_iter=1)


def test_dedup_keep_list_end_to_end(spark, documents):
    """Integration: minhash near-dup pairs → one survivor (min doc_id)
    per duplicate cluster, all unpaired docs untouched."""
    from fenix_spark.operators.dedup import minhash_neardup_pairs

    pairs = minhash_neardup_pairs(documents, "text", "doc_id", threshold=0.7)
    kept = dedup_keep_list(documents, pairs, "doc_id", left="id_l", right="id_r")
    comp = {
        r["node"]: r["component"]
        for r in connected_components(pairs, left="id_l", right="id_r").collect()
    }
    paired = set(comp)
    survivors = {min(n for n, c2 in comp.items() if c2 == c) for c in set(comp.values())}
    all_ids = {r["doc_id"] for r in documents.select("doc_id").collect()}
    want = (all_ids - paired) | survivors
    assert {r["doc_id"] for r in kept.select("doc_id").collect()} == want


def test_keep_list_prefer_col_keeps_best_copy(spark):
    rows = [
        (1, 0.2), (2, 0.9), (3, 0.9), (4, 0.5),   # component {1,2,3}: 2 wins (max q, min id on tie)
        (10, None), (11, 0.1),                    # {10,11}: null loses → 11
        (20, 0.7),                                # unpaired: survives
        (30, None), (31, None),                   # all-null component → min id 30
    ]
    df = spark.createDataFrame(rows, "id bigint, q double")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (30, 31)], "id_a bigint, id_b bigint"
    )
    kept = sorted(
        r.id for r in dedup_keep_list(df, pairs, "id", prefer_col="q").collect()
    )
    assert kept == [2, 4, 11, 20, 30]
    # default policy unchanged: min id per component
    kept_min = sorted(r.id for r in dedup_keep_list(df, pairs, "id").collect())
    assert kept_min == [1, 4, 10, 20, 30]


_PAIR_GRAPHS = st.lists(
    st.tuples(st.integers(0, 40), st.integers(0, 40)), min_size=1, max_size=60
)


@contextlib.contextmanager
def _driver_cap(cap):
    """Run with ``_MAX_DRIVER_PAIRS`` set to ``cap``: 0 forces
    distributed propagation for any non-empty pair list."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(components_mod, "_MAX_DRIVER_PAIRS", cap)
        yield


_PATHS = (components_mod._MAX_DRIVER_PAIRS, 0)  # driver, propagation


@given(edges=_PAIR_GRAPHS, as_str=st.booleans())
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_driver_and_propagation_paths_agree(spark, edges, as_str):
    """Both paths give the same node→component map and the same keep
    list, with and without ``prefer_col``. String ids (``str(i)``, so
    "10" < "9") check that both order ids the way Spark does, the
    ``prefer_col`` tie-break on the minimum id included."""
    key = str if as_str else int
    ddl = "string" if as_str else "bigint"
    edges = [(key(a), key(b)) for a, b in edges]
    pairs = spark.createDataFrame(edges, f"id_a {ddl}, id_b {ddl}")
    df = spark.createDataFrame(
        [(key(i), None if i % 6 == 0 else float(i * 7 % 5)) for i in range(45)],
        f"id {ddl}, q double",
    )

    def comp_map():
        return {r["node"]: r["component"] for r in connected_components(pairs).collect()}

    def kept(prefer):
        out = dedup_keep_list(df, pairs, "id", prefer_col=prefer)
        return sorted(r.id for r in out.collect())

    prefers = (None, "q")
    got = []
    for cap in _PATHS:
        with _driver_cap(cap):
            got.append((comp_map(), [kept(p) for p in prefers]))
    assert got[0] == got[1]
    assert got[0][0] == _union_find([(a, b) for a, b in edges if a != b])
    # prefer_col keeps each component's max q (nulls last), min id on ties
    q = {r["id"]: r["q"] for r in df.collect()}
    members: dict = {}
    for node, comp in got[0][0].items():
        members.setdefault(comp, []).append(node)
    best = [min(m, key=lambda x: (q[x] is None, -(q[x] or 0.0), x)) for m in members.values()]
    assert got[0][1][1] == sorted([x for x in q if x not in got[0][0]] + best)


def test_nonconvergence_raises_on_both_paths(spark):
    """``max_iter`` bounds propagation rounds on both paths: a 13-node
    chain has hop distance 12 to its min id, so it needs 13 rounds."""
    pairs = spark.createDataFrame([(i, i + 1) for i in range(12)], "id_a bigint, id_b bigint")
    for cap in _PATHS:
        with _driver_cap(cap):
            with pytest.raises(RuntimeError, match="converge"):
                connected_components(pairs, max_iter=12)
            got = connected_components(pairs, max_iter=13)
            assert {r["component"] for r in got.collect()} == {0}


def test_driver_path_is_local_table_scan(spark):
    """The driver path returns an Arrow-built local relation: it plans
    as ``LocalTableScan`` — not an RDD scan, which would start Python
    workers to serialize the rows."""
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "id_a bigint, id_b bigint")
    plan = connected_components(pairs)._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


@pytest.mark.parametrize(
    "ddl, edges, want",
    [
        ("bigint", [(2**40 + 1, 2**40), (5, 2**40 + 1)], {2**40: 5, 2**40 + 1: 5, 5: 5}),
        ("string", [("b", "a"), ("c", "b"), ("y", "x")], {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}),
    ],
)
def test_driver_path_keeps_id_type(spark, ddl, edges, want):
    pairs = spark.createDataFrame(edges, f"id_a {ddl}, id_b {ddl}")
    comp = connected_components(pairs)
    assert [f.dataType.simpleString() for f in comp.schema.fields] == [ddl, ddl]
    assert {r["node"]: r["component"] for r in comp.collect()} == want
