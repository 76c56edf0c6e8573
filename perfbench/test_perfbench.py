"""Self-tests of the benchmark: ``python -m pytest perfbench -q``."""

from __future__ import annotations

import os
import random
import shutil
import subprocess
import sys

import numpy as np
import pytest

import inputs
import measure
from tracing import Span, Tracer, self_times

HERE = os.path.dirname(os.path.abspath(__file__))


def _arrow_bytes(table) -> bytes:
    import pyarrow as pa

    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return sink.getvalue().to_pybytes()


def test_generators_are_deterministic():
    for seed in (0, 7):
        a, b = inputs.make_vectors(seed, 3000, 16), inputs.make_vectors(seed, 3000, 16)
        assert _arrow_bytes(a.arrow()) == _arrow_bytes(b.arrow())
        assert inputs.make_queries(seed, a, 50).tobytes() == inputs.make_queries(seed, b, 50).tobytes()
        assert inputs.query_labels(seed, 50).tobytes() == inputs.query_labels(seed, 50).tobytes()
        da, db = inputs.make_docs(seed, 500), inputs.make_docs(seed, 500)
        assert _arrow_bytes(da.arrow()) == _arrow_bytes(db.arrow())
        assert (da.originals, da.far, da.exact_dups, da.swap_dups, da.edit_dups, da.pii) == (
            db.originals, db.far, db.exact_dups, db.swap_dups, db.edit_dups, db.pii,
        )
    assert inputs.make_vectors(1, 100, 4).x.tobytes() != inputs.make_vectors(2, 100, 4).x.tobytes()


def test_planted_documents_partition_the_corpus():
    d = inputs.make_docs(3, 1000)
    families = [d.originals, d.far, d.exact_dups, d.swap_dups, d.edit_dups]
    assert sum(len(f) for f in families) == len(d.ids) == 1000
    assert set().union(*families) == set(d.ids)
    assert d.pii and all(any(p in t for t in d.texts) for p in d.pii)
    # every duplicate copies a lower-id original
    assert max(d.originals) < min(d.exact_dups | d.swap_dups | d.edit_dups | d.far)


def test_exact_topk_breaks_ties_by_id():
    v = inputs.Vectors(
        np.arange(6, dtype=np.int64),
        np.array([[0.0], [1.0], [1.0], [-1.0], [2.0], [0.0]], dtype=np.float32),
        np.array([0, 1, 1, 1, 0, 1], dtype=np.int32),
    )
    assert inputs.exact_topk(v, np.zeros(1, np.float32), 4).tolist() == [0, 5, 1, 2]
    assert inputs.exact_topk(v, np.zeros(1, np.float32), 2, label=1).tolist() == [5, 1]


def test_percentile_refuses_a_thin_tail():
    xs = list(range(1, 101))
    assert measure.percentile(xs, 90) == 90  # 10 samples beyond
    with pytest.raises(measure.TooFewSamples):
        measure.percentile(xs, 95)  # 5 beyond
    with pytest.raises(measure.TooFewSamples):
        measure.percentile(list(range(500)), 99)
    assert measure.percentile(list(range(1010)), 99) == 999
    assert measure.tail(xs, (99.0, 90.0)) == (90.0, 90)
    assert measure.tail(list(range(5)), (99.0,)) is None
    assert measure.median([3, 1, 2, 10]) == 2.5


def test_self_time_never_exceeds_duration():
    rnd = random.Random(11)
    for _ in range(200):
        spans = [Span(1, "op.x", 0.0, 10.0)]
        for sid in range(2, rnd.randint(2, 12)):
            parent = rnd.randint(1, sid - 1)
            lo = rnd.uniform(-2.0, 11.0)
            spans.append(Span(sid, "l.y", lo, lo + rnd.uniform(0.0, 6.0), parent=parent))
        st = self_times(spans)
        for s in spans:
            assert -1e-12 <= st[s.sid] <= s.duration + 1e-12


def test_self_time_subtracts_merged_children():
    spans = [
        Span(1, "op.a", 0.0, 10.0),
        Span(2, "b.c", 1.0, 4.0, parent=1),
        Span(3, "b.d", 3.0, 5.0, parent=1),  # overlaps 2
        Span(4, "b.e", 9.0, 12.0, parent=1),  # runs past the parent
    ]
    assert self_times(spans)[1] == pytest.approx(10.0 - 4.0 - 1.0)


def test_tracer_nests_spans_and_restores_wrapped_functions():
    tr = Tracer()

    class Box:
        def f(self, x):
            return x + 1

    tr.wrap(Box, "f", "box.f")
    with tr.span("op.t", rid=7) as root:
        assert Box().f(1) == 2
    (inner,) = [s for s in tr.spans if s.name == "box.f"]
    assert inner.parent == root.sid and inner.rid == 7
    tr.unwrap_all()
    assert Box.f.__name__ == "f" and not hasattr(Box.f, "__wrapped__")


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "curate", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_exact_search_has_full_recall():
    """Probing every cell of a small index is exact search: recall@10
    against the numpy answer must be 1.0, with and without a filter."""
    root = os.path.dirname(HERE)
    sys.path.insert(0, root)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    import tempfile

    from fenix_spark.flight import Client, Server
    from fenix_spark.session import get_session

    v = inputs.make_vectors(5, 3000, 8)
    qs = inputs.make_queries(5, v, 6)
    spark = get_session("perfbench_selftest")
    with tempfile.TemporaryDirectory() as store, Server(spark, store) as srv, Client(port=srv.port) as c:
        c.make_table("v", v.arrow())
        c.make_index("ix", "v", "embedding", config={"codebook_size": 4, "num_codebooks": 2})
        for i, q in enumerate(qs):
            label = i % 3 - 1  # -1 = no filter
            out = c.search(q.tolist(), "v", "embedding", coding="ix", probes=16, maxval=10,
                           id_col="vec_id", filter=f"label = {label}" if label >= 0 else None)
            got = out.column("vec_id").to_pylist()
            assert len(got) == 10 == len(set(got))
            assert inputs.recall(got, inputs.exact_topk(v, q, 10, label)) == 1.0
