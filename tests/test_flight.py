"""Arrow Flight serving surface (fenix_spark/flight.py): the wire
round-trip of every reference verb — put/get/exchange/actions — against
an in-process server on an ephemeral port, with the JSON protocol
(never pickle) and per-peer session state. Search results are checked
against the SAME operators called directly; the one search the server
answers itself (single-target coded, on the driver) is pinned to the
Spark path by a differential test."""

from __future__ import annotations

import json

import pyarrow as pa
import pytest

import pyarrow.flight as fl
from pyspark.sql import functions as F

from fenix_spark.flight import Client, Server
from fenix_spark.store import Store


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("flightstore") / "store")
    server = Server(spark, root, port=0)
    client = Client(port=server.port)
    yield server, client, root
    client.close()
    server.shutdown()


def _people(n=20):
    return pa.table(
        {
            "id": list(range(n)),
            "val": [i * 3 % 7 for i in range(n)],
            "name": [f"p{i}" for i in range(n)],
        }
    )


def test_put_read_roundtrip_and_listing(served):
    _, client, _ = served
    t = _people()
    client.make_table("people", t)
    assert "people" in client.list_tables()
    back = client.read_table("people").read_all()
    assert back.sort_by("id").equals(
        t.cast(back.schema.remove_metadata())
        if back.schema != t.schema
        else t
    ) or sorted(back.column("id").to_pylist()) == list(range(20))
    got = {r["id"]: r for r in back.to_pylist()}
    assert got[7] == {"id": 7, "val": 0, "name": "p7"}


def test_read_with_sql_filter_and_select(served):
    _, client, _ = served
    back = client.read_table(
        "people", select=["id", "val"], filter="val > 4 AND id < 15"
    ).read_all()
    rows = back.to_pylist()
    assert rows and all(set(r) == {"id", "val"} for r in rows)
    assert all(r["val"] > 4 and r["id"] < 15 for r in rows)
    # matches the same predicate evaluated locally
    want = [i for i in range(15) if i * 3 % 7 > 4]
    assert sorted(r["id"] for r in rows) == want


def test_flight_info_and_listing_surface(served):
    """get_flight_info serves the table schema (the reference raises
    NotImplementedError there); list_flights enumerates tables."""
    server, client, _ = served
    info = client.conn.get_flight_info(fl.FlightDescriptor.for_path("people"))
    assert set(info.schema.names) == {"id", "val", "name"}
    listed = {
        f.descriptor.path[0].decode() for f in client.conn.list_flights()
    }
    assert "people" in listed


def test_multi_source_union(served):
    _, client, _ = served
    client.make_table("a1", pa.table({"k": [1, 2], "s": ["x", "y"]}))
    client.make_table("a2", pa.table({"k": [3], "s": ["z"]}))
    back = client.read_table(["a1", "a2"]).read_all()
    assert sorted(back.column("k").to_pylist()) == [1, 2, 3]


def test_session_state_is_per_peer(served):
    server, client, _ = served
    # set a filter through the wire-parity actions, then read with a
    # BARE ticket (reference style) — the filter applies
    client._action("set-filter", filter="id >= 18")
    bare = client.conn.do_get(fl.Ticket(b"people")).read_all()
    assert sorted(bare.column("id").to_pylist()) == [18, 19]
    # a different client (= different gRPC peer) is unaffected
    other = Client(port=server.port)
    try:
        full = other.conn.do_get(fl.Ticket(b"people")).read_all()
        assert full.num_rows == 20
    finally:
        other.close()
    client._action("del-filter")
    assert client.conn.do_get(fl.Ticket(b"people")).read_all().num_rows == 20


@pytest.fixture(scope="module")
def vectors(spark, served):
    _, client, _ = served
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = [(r["vec_id"], list(r["embedding"])) for r in emb.limit(300).collect()]
    t = pa.table(
        {"vec_id": [r[0] for r in rows], "embedding": [r[1] for r in rows]}
    )
    client.make_table("vecs", t)
    return {vid: v for vid, v in rows}


def test_brute_search_matches_local_knn(spark, served, vectors):
    _, client, root = served
    vid, target = next(iter(vectors.items()))
    got = client.search(target, "vecs", "embedding", metric="l2", maxval=5, id_col="vec_id")
    assert got.num_rows == 5
    ids = got.column("vec_id").to_pylist()
    # same call through the Store directly — the wire adds nothing
    local = Store(spark, root).search(
        "vecs", "embedding", target, metric="l2", maxval=5, id_col="vec_id"
    )
    assert ids == [r["vec_id"] for r in local.collect()]
    assert ids[0] == vid  # querying an existing vector finds itself


def test_indexed_batch_search_over_the_wire(spark, served, vectors):
    _, client, root = served
    client.make_index(
        "code8", "vecs", "embedding",
        config={"metric": "l2", "codebook_size": 4, "num_codebooks": 2, "seed": 7},
    )
    items = list(vectors.items())[:3]
    got = client.search(
        [v for _, v in items], "vecs", "embedding",
        coding="code8", maxval=4, probes=16,  # all 16 cells = exact
    )
    by_q = {}
    for r in got.to_pylist():
        # one wire schema across branches: the id column keeps its
        # real name ('vec_id'), never the internal 'right_id'
        by_q.setdefault(r["query_index"], []).append(r["vec_id"])
    assert set(by_q) == {0, 1, 2}
    for qi, (vid, _v) in enumerate(items):
        assert len(by_q[qi]) == 4
        assert by_q[qi][0] == vid  # self is the nearest at full probes


def test_brute_multi_target_matches_per_target_knn(spark, served, vectors):
    """Brute search with MANY targets runs as ONE corpus scan
    (batch_knn_brute) and must equal the per-target knn loop."""
    _, client, root = served
    items = list(vectors.items())[:20]
    got = client.search(
        [v for _, v in items], "vecs", "embedding", maxval=3, id_col="vec_id"
    )
    by_q = {}
    for r in got.to_pylist():
        by_q.setdefault(r["query_index"], []).append(r["vec_id"])
    st = Store(spark, root)
    for qi, (vid, v) in enumerate(items):
        want = [
            r["vec_id"]
            for r in st.search(
                "vecs", "embedding", v, maxval=3, id_col="vec_id"
            ).collect()
        ]
        assert by_q[qi] == want, qi
        assert by_q[qi][0] == vid


def test_brute_target_flood_is_loud(served, vectors):
    """The query-matrix broadcast keeps a loud bound: absurd target
    counts are refused with routing guidance, not silently looped."""
    _, client, _ = served
    one = next(iter(vectors.values()))
    with pytest.raises(
        (fl.FlightServerError, pa.lib.ArrowInvalid), match="max_targets"
    ):
        client.search([one] * 1100, "vecs", "embedding", maxval=2)


def test_drop_index_drops_coder_and_indexes(spark, served, vectors):
    server, client, root = served
    st = Store(spark, root)
    assert ("vecs", "embedding", "code8") in st.list_indexes()
    assert "code8" in st.list_coders()
    client.drop_index("code8")
    assert ("vecs", "embedding", "code8") not in st.list_indexes()
    assert "code8" not in st.list_coders()


def test_streamed_put_with_bounded_buffer(served, monkeypatch):
    """A put larger than the flush threshold lands through multiple
    overwrite-then-append flushes — driver memory stays bounded by one
    buffer — and the table is byte-complete afterwards."""
    server, client, _ = served
    monkeypatch.setattr(server, "put_flush_bytes", 1 << 10)  # 1 KB
    n = 5000
    t = pa.table({"id": list(range(n)), "payload": [f"row-{i:06d}" for i in range(n)]})
    reader = pa.RecordBatchReader.from_batches(
        t.schema, t.to_batches(max_chunksize=250)  # 20 batches, many flushes
    )
    client.make_table("bigput", reader)
    back = client.read_table("bigput").read_all()
    assert back.num_rows == n
    assert sorted(back.column("id").to_pylist()) == list(range(n))
    got = dict(zip(back.column("id").to_pylist(), back.column("payload").to_pylist()))
    assert got[4321] == "row-004321"


def test_failed_put_leaves_previous_table_intact(spark, served, monkeypatch):
    """do_put is ATOMIC: flushes land in a hidden manifest generation
    and the pointer flips only at end-of-stream — a connection dropped
    mid-upload (simulated at the commit boundary) leaves the previous
    table contents untouched; the retry supersedes the orphan."""
    from fenix_spark import manifest

    server, client, root = served
    base = pa.table({"id": [1, 2, 3], "s": ["a", "b", "c"]})
    client.make_table("atomic", base)
    real_commit = manifest.commit

    def boom(p, g):
        raise OSError("injected put crash before commit")

    monkeypatch.setattr(manifest, "commit", boom)
    bad = pa.table({"id": [9], "s": ["zz"]})
    with pytest.raises(Exception, match="injected"):
        client.make_table("atomic", bad)
    back = client.read_table("atomic").read_all()
    assert sorted(back.column("id").to_pylist()) == [1, 2, 3]  # old data

    monkeypatch.setattr(manifest, "commit", real_commit)
    client.make_table("atomic", bad)
    back = client.read_table("atomic").read_all()
    assert back.column("id").to_pylist() == [9]  # replaced atomically


def test_empty_put_creates_empty_table_with_schema(served):
    _, client, _ = served
    t = pa.table({"id": pa.array([], pa.int64()), "s": pa.array([], pa.string())})
    client.make_table("emptyput", t)
    back = client.read_table("emptyput").read_all()
    assert back.num_rows == 0
    assert set(back.schema.names) == {"id", "s"}


def test_launch_builds_server_and_serves(tmp_path, monkeypatch):
    """The launcher (ref launch.py:12-17): builds a session + server
    over the root and blocks in serve(). serve() is stubbed so the
    test proves the wiring without a hung thread."""
    from fenix_spark import flight as flight_mod
    from fenix_spark.flight import launch

    called = {}
    monkeypatch.setattr(
        flight_mod.Server, "serve", lambda self: called.setdefault("grpc", self.grpc)
    )
    launch(str(tmp_path / "store"), host="127.0.0.1", port=0)
    assert called["grpc"].startswith("grpc://127.0.0.1:")


def test_pickle_free_wire_contract(served):
    """Every body this client sends is JSON — a server that tried to
    unpickle it would fail; and the server rejects unknown actions
    loudly instead of unpickling arbitrary verbs."""
    _, client, _ = served
    with pytest.raises((fl.FlightServerError, pa.lib.ArrowInvalid), match="unknown action"):
        client._action("make-anything", payload="x")
    # tickets are JSON or bare names; JSON bodies parse as JSON
    assert json.loads(json.dumps({"source": "people"})) == {"source": "people"}


def test_migrated_reference_store_served_over_the_wire(spark, tmp_path):
    """The complete switching story through the NETWORK entry point: a
    reference-layout store (arrow IPC + real torch-format coding +
    positional index sidecar) migrates torch-free, a Flight server
    mounts the migrated root, and a client searches it over gRPC —
    indexed probe-all search equals the brute result, byte-for-byte
    with the driver-API Store."""
    import importlib.util
    import os

    import numpy as np

    spec = importlib.util.spec_from_file_location(
        "ttp_fixture", os.path.join(os.path.dirname(__file__), "test_torchpickle.py")
    )
    ttp = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ttp)

    from fenix_spark.sources.migrate import migrate_reference_store

    rng = np.random.default_rng(29)
    n_rows, dim, k, nb = 120, 8, 4, 2
    vecs = rng.normal(size=(n_rows, dim)).astype(np.float32)
    cents = rng.normal(size=(nb, k, dim // nb)).astype(np.float32)

    def joint_codes(v):
        subs = v.reshape(len(v), nb, dim // nb)
        codes = np.zeros(len(v), dtype=np.int64)
        for j in range(nb):
            d = ((subs[:, j, None, :] - cents[j][None, :, :]) ** 2).sum(-1)
            codes = codes * k + d.argmin(1)
        return codes

    ref = str(tmp_path / "ref")
    os.makedirs(os.path.join(ref, "sources"))
    os.makedirs(os.path.join(ref, "codings"))
    os.makedirs(os.path.join(ref, "indexes", "emb", "embedding"))
    t = pa.table(
        {
            "vec_id": pa.array(range(n_rows), pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.reshape(-1), pa.float32()), dim
            ),
        }
    )
    with pa.OSFile(os.path.join(ref, "sources", "emb.arrow"), "wb") as f:
        with pa.ipc.new_stream(f, t.schema) as w:
            w.write_table(t)
    ttp.torch_save(
        os.path.join(ref, "codings", "pq.torch"),
        ttp._coding_obj(cents, metric="l2", column=pa.list_(pa.float32(), dim)),
    )
    side = pa.table({"__CODED_ID__": pa.array(joint_codes(vecs), pa.int64())})
    with pa.OSFile(os.path.join(ref, "indexes", "emb", "embedding", "pq.arrow"), "wb") as f:
        with pa.ipc.new_stream(f, side.schema) as w:
            w.write_table(side)

    out = str(tmp_path / "migrated")
    migrate_reference_store(spark, ref, out)

    server = Server(spark, out, port=0)
    client = Client(port=server.port)
    try:
        assert client.list_tables() == ["emb"]
        back = client.read_table("emb").read_all()
        assert back.num_rows == n_rows

        target = vecs[7].astype(float).tolist()
        wire_brute = client.search(
            target, "emb", "embedding", maxval=5, id_col="vec_id"
        )
        wire_probed = client.search(
            target, "emb", "embedding", maxval=5, coding="pq",
            probes=k**nb, id_col="vec_id",
        )
        ids_brute = wire_brute.column("vec_id").to_pylist()
        ids_probe = wire_probed.column("vec_id").to_pylist()
        assert ids_brute == ids_probe
        assert ids_brute[0] == 7  # self first
        # wire == driver-API Store, exactly
        local = Store(spark, out).search(
            "emb", "embedding", target, maxval=5, id_col="vec_id"
        )
        assert ids_brute == [r["vec_id"] for r in local.collect()]
    finally:
        client.close()
        server.shutdown()


# ---------------------------------------------------------------- r11:
# streaming do_get (the S8 scale contract), wire-name validation, and
# filter hardening


def test_do_get_streams_batchwise_under_budget(served, monkeypatch):
    """do_get accepts ANY table name, so it must stream: with a small
    budget a large table is served across MANY batches, no single
    materialized batch exceeds the budget on the driver, and the
    stream is row-complete. A plain read streams straight from the
    table's parquet files (no spool)."""
    server, client, _ = served
    n = 20_000
    t = pa.table(
        {"id": list(range(n)), "payload": [f"x{i:05d}" * 4 for i in range(n)]}
    )
    client.make_table("bigget", t)
    monkeypatch.setattr(server, "get_budget_bytes", 64 << 10)  # 64 KB
    back = client.read_table("bigget").read_all()
    assert back.num_rows == n
    assert sorted(back.column("id").to_pylist()) == list(range(n))
    stats = server.last_get_stats
    assert stats["spooled"] is False  # zero-copy direct path
    assert stats["batches"] > 5
    assert 0 < stats["max_batch_bytes"] <= 64 << 10


def test_do_get_computed_read_spools_and_cleans_up(served, monkeypatch):
    """A filtered/projected read is computed by a distributed spark
    write into a hidden spool, streamed under the same budget, and the
    spool dir is removed once the stream drains."""
    import os

    server, client, root = served
    monkeypatch.setattr(server, "get_budget_bytes", 64 << 10)
    back = client.read_table(
        "bigget", select=["id"], filter="id % 2 = 0"
    ).read_all()
    assert sorted(back.column("id").to_pylist()) == list(range(0, 20_000, 2))
    stats = server.last_get_stats
    assert stats["spooled"] is True
    assert stats["batches"] >= 1
    assert stats["max_batch_bytes"] <= 64 << 10
    assert not [e for e in os.listdir(root) if e.startswith(".get-spool-")]


def test_do_get_budget_overrun_is_loud(served, monkeypatch):
    """A budget smaller than a single row cannot be met even at
    batch_size=1: the server raises with the knob's name instead of
    OOMing silently."""
    server, client, _ = served
    monkeypatch.setattr(server, "get_budget_bytes", 8)  # < one row
    with pytest.raises(
        (fl.FlightServerError, pa.lib.ArrowInvalid), match="get_budget_bytes"
    ):
        client.read_table("bigget").read_all()


def test_do_get_wire_schema_matches_toarrow_on_both_paths(spark, served):
    """The wire schema contract is toArrow()-exact whichever path
    served the bytes (direct files vs spark spool) — including
    timestamp columns, where parquet's physical type differs from
    Arrow's."""
    import datetime

    _, client, root = served
    t = pa.table(
        {
            "id": [1, 2, 3],
            "ts": pa.array(
                [datetime.datetime(2026, 1, 1, h) for h in (1, 2, 3)],
                pa.timestamp("us"),
            ),
        }
    )
    client.make_table("tstable", t)
    want = Store(spark, root).read_table("tstable").toArrow().schema
    direct = client.read_table("tstable").read_all()
    spooled = client.read_table("tstable", filter="id >= 1").read_all()
    assert direct.schema == want
    assert spooled.schema == want
    assert sorted(direct.column("id").to_pylist()) == [1, 2, 3]
    assert sorted(spooled.column("id").to_pylist()) == [1, 2, 3]
    assert sorted(direct.column("ts").to_pylist()) == sorted(
        spooled.column("ts").to_pylist()
    )


def test_wire_table_names_cannot_escape_the_store_root(served):
    """Table names from descriptors/tickets/actions become path
    segments under the store root; traversal attempts are rejected at
    the catalog chokepoint before any filesystem access."""
    import os

    _, client, root = served
    evil = pa.table({"x": [1]})
    for name in ("../escape", "/etc/passwd", "a/b", "..", ".hidden"):
        with pytest.raises(
            (fl.FlightServerError, pa.lib.ArrowInvalid), match="invalid catalog name"
        ):
            client.make_table(name, evil)
        with pytest.raises(
            (fl.FlightServerError, pa.lib.ArrowInvalid), match="invalid catalog name"
        ):
            client.read_table(name).read_all()
    with pytest.raises(
        (fl.FlightServerError, pa.lib.ArrowInvalid), match="invalid catalog name"
    ):
        client.drop_table("../../x")
    parent = os.path.dirname(root)
    assert not os.path.exists(os.path.join(parent, "escape"))


def test_wire_filters_cannot_reach_jvm_reflection(served):
    """F.expr exposes reflect()/java_method() (arbitrary JVM static
    calls); wire filters naming them — any case, backtick-quoted or
    not — are rejected before parsing. Ordinary SQL keeps working."""
    _, client, _ = served
    for flt in (
        "reflect('java.lang.System', 'getProperty', 'user.dir') IS NOT NULL",
        "REFLECT('a','b') = 'c'",
        "`java_method`('java.lang.Runtime','getRuntime') IS NOT NULL",
        # the r11 bypass: Spark's lexer sends /**/ and -- comments to a
        # hidden channel, so these PARSE as reflect() calls while a
        # call-position-anchored regex never sees "reflect(" (ADVICE r11)
        "reflect/**/('java.lang.System','getProperty','user.dir') IS NOT NULL",
        "reflect -- c\n('java.lang.System','getProperty','user.dir') IS NOT NULL",
        # the 3.5+ error-tolerant alias; \breflect\b does not match in it
        "try_reflect('java.lang.System','getProperty','user.dir') IS NOT NULL",
    ):
        with pytest.raises(
            (fl.FlightServerError, pa.lib.ArrowInvalid), match="not allowed"
        ):
            client.read_table("people", filter=flt).read_all()
    ok = client.read_table("people", filter="val > 4").read_all()
    assert ok.num_rows > 0


def test_drop_coder_verb_drops_only_the_coder(spark, served):
    """Extension verb: unlike the reference's drop-index (which sweeps
    coder + every index built from it), drop-coder removes ONLY the
    coder — indexes keep serving from their co-written codes."""
    server, client, root = served
    st = Store(spark, root)
    import numpy as np

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(64, 8)).astype(float)
    t = pa.table(
        {
            "vec_id": pa.array(range(64), pa.int64()),
            "emb": pa.array([list(map(float, v)) for v in vecs]),
        }
    )
    client.make_table("dc_vecs", t)
    client.make_index(
        "dc_code", source="dc_vecs", column="emb",
        config={"codebook_size": 4, "num_codebooks": 2, "seed": 7, "max_iter": 4},
    )
    assert "dc_code" in st.list_coders()
    assert ("dc_vecs", "emb", "dc_code") in st.list_indexes()
    client.drop_coder("dc_code")
    assert "dc_code" not in st.list_coders()
    assert ("dc_vecs", "emb", "dc_code") in st.list_indexes()


@pytest.fixture()
def sharded(spark, served):
    """A 6-file table in the served store (idempotent per module)."""
    from fenix_spark import catalog

    _, _, root = served
    import os

    if not os.path.isdir(catalog.source_path(root, "sharded")):
        df = spark.range(3000).select(
            F.col("id").alias("k"), (F.col("id") % 9).alias("v")
        )
        df.repartition(6).write.mode("overwrite").parquet(
            catalog.source_path(root, "sharded")
        )
    return "sharded"


def test_flight_info_serves_per_file_endpoints_with_totals(spark, served, sharded):
    """get_flight_info returns one endpoint per parquet file with
    exact row/byte totals from the same footer reads — the parallel
    fetch plan."""
    _, client, root = served
    info = client.conn.get_flight_info(fl.FlightDescriptor.for_path("sharded"))
    assert len(info.endpoints) == 6
    assert info.total_records == 3000
    assert info.total_bytes > 0
    specs = [json.loads(ep.ticket.ticket.decode()) for ep in info.endpoints]
    assert all(s["source"] == "sharded" and len(s["files"]) == 1 for s in specs)


def test_parallel_shard_read_equals_single_stream(spark, served, sharded):
    _, client, _ = served
    whole = client.read_table("sharded").read_all()
    par = client.read_table_parallel("sharded", max_workers=4)
    assert par.num_rows == whole.num_rows == 3000
    assert sorted(par.column("k").to_pylist()) == sorted(
        whole.column("k").to_pylist()
    )


def test_pinned_tickets_survive_one_compact_then_fail_loud(spark, served, sharded):
    """Generation pinning + the retention window: shard tickets minted
    before a compact still serve afterwards (consistent snapshot); a
    ticket older than the window fails with a re-plan message instead
    of silently mixing generations."""
    from fenix_spark import catalog

    _, client, root = served
    info = client.conn.get_flight_info(fl.FlightDescriptor.for_path("sharded"))
    tickets = [ep.ticket for ep in info.endpoints]
    catalog.compact(spark, root, "sharded", target_file_bytes=1 << 30)
    got = sum(client.conn.do_get(t).read_all().num_rows for t in tickets)
    assert got == 3000  # old plan completes against the retained layout
    catalog.compact(spark, root, "sharded", target_file_bytes=1 << 30)
    with pytest.raises(
        (fl.FlightServerError, pa.lib.ArrowInvalid), match="re-plan"
    ):
        client.conn.do_get(tickets[0]).read_all()


def test_shard_plan_reads_the_manifest_pointer_once(served, monkeypatch):
    """A commit landing while get_flight_info plans the shards must not
    pair the new generation's id with the old generation's file names
    (every such ticket would fail as a stale plan): the plan comes
    from one pointer read, so its tickets serve the generation read."""
    import os

    import pyarrow.parquet as pq

    from fenix_spark import catalog, manifest

    server, client, root = served
    path = catalog.source_path(root, "racegen")

    def publish(tag: str, n: int) -> None:
        gen, d = manifest.begin(path)
        os.makedirs(d)
        pq.write_table(pa.table({"k": list(range(n))}), os.path.join(d, f"part-{tag}.parquet"))
        manifest.commit(path, gen)

    publish("old", 10)
    real_read = manifest._read_pointer
    raced: list[str] = []

    def racing_read(p):
        out = real_read(p)
        if p == path and not raced:
            raced.append(p)
            publish("new", 20)  # commits between this read and any next one
        return out

    monkeypatch.setattr(manifest, "_read_pointer", racing_read)
    endpoints, rows, _ = server._flight_info_endpoints("racegen")
    monkeypatch.undo()
    assert raced and rows == 10
    got = sum(client.conn.do_get(ep.ticket).read_all().num_rows for ep in endpoints)
    assert got == 10


def test_pinned_tickets_reject_foreign_files_and_filters(served, sharded):
    _, client, _ = served
    evil = json.dumps(
        {"source": "sharded", "gen": None, "files": ["../../etc/passwd"]}
    )
    with pytest.raises(
        (fl.FlightServerError, pa.lib.ArrowInvalid), match="re-plan|not in"
    ):
        client.conn.do_get(fl.Ticket(evil.encode())).read_all()
    # r13: a PUSHABLE filter on a shard ticket serves (row-local, so
    # per-shard evaluation equals the whole-table filter) …
    info = client.conn.get_flight_info(fl.FlightDescriptor.for_path("sharded"))
    spec = json.loads(info.endpoints[0].ticket.ticket.decode())
    spec["filter"] = "k > 5"
    shard = client.conn.do_get(fl.Ticket(json.dumps(spec).encode())).read_all()
    assert all(k > 5 for k in shard.column("k").to_pylist())
    # … but one OUTSIDE the pushdown subset fails loud: a shard read
    # has no spool fallback, so silent degradation is not an option
    spec["filter"] = "abs(k) > 5"
    with pytest.raises(
        (fl.FlightServerError, pa.lib.ArrowInvalid), match="pushdown subset"
    ):
        client.conn.do_get(fl.Ticket(json.dumps(spec).encode())).read_all()


def test_pinned_ticket_with_malformed_files_is_rejected(served, sharded):
    """A ticket whose ``files`` is not a non-empty list of path strings
    is refused, never served as an unpinned whole-table read."""
    _, client, _ = served
    for files in (None, [], "part-00000.parquet", [0]):
        for extra in ({}, {"filter": "k > 5"}):
            ticket = json.dumps({"source": "sharded", "files": files, **extra})
            with pytest.raises(
                (fl.FlightServerError, pa.lib.ArrowInvalid), match="'files' must be"
            ):
                client.conn.do_get(fl.Ticket(ticket.encode())).read_all()


def test_validate_verb_serves_the_fsck_report(served):
    """Extension verb: remote store fsck — the validate_store report
    over the wire, zero Spark jobs server-side."""
    _, client, root = served
    client.make_table("fscked", pa.table({"id": [1, 2, 3]}))
    report = client.validate()
    assert report["root"] == root
    assert report["errors"] == 0
    assert report["tables"]["fscked"] == 3


# ---------------------------------------------------------------- r12:
# hive-partitioned layouts served DIRECT over the wire (the r11 weak:
# every wire read of a __CODED_ID__-partitioned index table used to
# rewrite the WHOLE table into a spool — write amplification
# proportional to table size), plus pinned tickets vs session state


@pytest.fixture()
def coded(spark, served):
    """A __CODED_ID__-partitioned table in the served store — the
    engine's flagship index-layout shape (operators/index.py:67)."""
    import os

    from fenix_spark import catalog

    _, _, root = served
    if not os.path.isdir(catalog.source_path(root, "coded")):
        df = spark.range(2000).select(
            F.col("id").alias("k"),
            (F.col("id") * 2).alias("v"),
            (F.col("id") % 5).alias("__CODED_ID__"),
        )
        df.write.partitionBy("__CODED_ID__").mode("overwrite").parquet(
            catalog.source_path(root, "coded")
        )
    return "coded"


def test_do_get_serves_partitioned_layout_direct(served, coded, monkeypatch):
    """A plain read of a hive-partitioned table streams straight from
    the leaf parquet files — spooled is False, the partition column
    comes back typed, and the stream is batch-bounded like the flat
    path."""
    server, client, _ = served
    monkeypatch.setattr(server, "get_budget_bytes", 32 << 10)
    back = client.read_table("coded").read_all()
    assert back.num_rows == 2000
    stats = server.last_get_stats
    assert stats["spooled"] is False
    assert stats["batches"] > 1
    assert stats["max_batch_bytes"] <= 32 << 10
    rows = {r["k"]: r for r in back.to_pylist()}
    assert all(rows[k]["v"] == 2 * k and rows[k]["__CODED_ID__"] == k % 5
               for k in range(2000))


def test_partitioned_wire_read_equals_store_read(spark, served, coded):
    """Wire result == Store read, column for column — the direct hive
    path changes the transport, never the contract."""
    _, client, root = served
    st = Store(spark, root)
    wire = client.read_table("coded").read_all().sort_by("k")
    local = st.read_table("coded").orderBy("k").toArrow()
    assert wire.schema == local.schema
    assert wire.equals(local)


def test_flight_info_endpoints_span_partition_tree(spark, served, coded):
    """get_flight_info mints one endpoint per LEAF file across the
    partition dirs (relative paths), with exact totals; the parallel
    fetch reassembles the whole table including the partition column."""
    import os

    from fenix_spark import catalog

    _, client, root = served
    d = catalog.source_path(root, "coded")
    leaves = [
        os.path.join(rel, f)
        for rel, _, fs in os.walk(d)
        for f in fs
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]
    info = client.conn.get_flight_info(fl.FlightDescriptor.for_path("coded"))
    assert len(info.endpoints) == len(leaves) >= 5  # ≥ one per partition
    assert info.total_records == 2000
    specs = [json.loads(ep.ticket.ticket.decode()) for ep in info.endpoints]
    assert all("/" in s["files"][0] for s in specs)  # paths span subdirs
    par = client.read_table_parallel("coded", max_workers=4)
    assert par.num_rows == 2000
    got = {r["k"]: r["__CODED_ID__"] for r in par.to_pylist()}
    assert all(got[k] == k % 5 for k in range(2000))


def test_indexed_wire_read_streams_direct(spark, served):
    """The reference's indexed read (read_table with coding+column,
    ref flight.py:46-60) over the wire: the co-written index table is
    plain partitioned parquet, so it streams DIRECT — no spool, no
    Spark job — and matches the Store-side read exactly."""
    import numpy as np

    server, client, root = served
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(96, 8))
    t = pa.table(
        {
            "vec_id": pa.array(range(96), pa.int64()),
            "emb": pa.array([list(map(float, v)) for v in vecs]),
        }
    )
    client.make_table("idx_vecs", t)
    client.make_index(
        "idx_code", source="idx_vecs", column="emb",
        config={"metric": "l2", "codebook_size": 4, "num_codebooks": 2, "seed": 0},
    )
    wire = client.read_table(
        "idx_vecs", coding="idx_code", column="emb"
    ).read_all()
    assert server.last_get_stats["spooled"] is False
    st = Store(spark, root)
    local = st.read_table("idx_vecs", coding="idx_code", column="emb").toArrow()
    assert wire.num_rows == local.num_rows == 96
    assert set(wire.schema.names) == set(local.schema.names)
    w = {r["vec_id"]: r["__CODED_ID__"] for r in wire.to_pylist()}
    l = {r["vec_id"]: r["__CODED_ID__"] for r in local.to_pylist()}
    assert w == l


def test_stateful_peer_plans_whole_table_and_pinned_tickets_raise(
    spark, served, sharded
):
    """Per-peer set-* state vs pinned shard tickets (ADVICE r11): a
    stateful peer's get_flight_info plans ONE whole-table ticket that
    honors the state; a pinned ticket minted BEFORE the state was set
    fails loud instead of silently serving unfiltered rows; clearing
    the state re-enables shard fetches."""
    server, _, root = served
    client = Client(port=server.port)  # fresh connection = fresh peer
    try:
        info = client.conn.get_flight_info(fl.FlightDescriptor.for_path("sharded"))
        pinned = [ep.ticket for ep in info.endpoints]
        assert "files" in json.loads(pinned[0].ticket.decode())
        client._action("set-filter", filter="v = 3")
        info2 = client.conn.get_flight_info(
            fl.FlightDescriptor.for_path("sharded")
        )
        # whole-table plan, state honored: ONE bare-name ticket, no pin
        assert len(info2.endpoints) == 1
        assert info2.endpoints[0].ticket.ticket == b"sharded"
        back = client.conn.do_get(info2.endpoints[0].ticket).read_all()
        assert back.num_rows > 0
        assert set(back.column("v").to_pylist()) == {3}
        with pytest.raises(
            (fl.FlightServerError, pa.lib.ArrowInvalid), match="session state"
        ):
            client.conn.do_get(pinned[0]).read_all()
        client._action("del-filter", filter=None)
        again = client.conn.do_get(pinned[0]).read_all()
        assert again.num_rows > 0
    finally:
        client.close()


def test_spool_write_restores_session_timestamp_conf(spark, served):
    """The spool's TIMESTAMP_MICROS requirement is scoped to the spool
    write (ADVICE r11): a computed wire read must not leave the shared
    session's parquet timestamp encoding changed for user jobs."""
    key = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(key, None)
    _, client, _ = served
    client.make_table("tsconf", pa.table({"id": [1, 2, 3, 4]}))
    out = client.read_table("tsconf", filter="id > 1").read_all()
    assert out.num_rows == 3
    assert spark.conf.get(key, None) == prev


def test_token_gate_rejects_and_admits(spark, tmp_path_factory):
    """Shared-secret auth (extension over the reference's naked
    protocol): with token set, a tokenless or wrong-token client is
    UNAUTHENTICATED on every verb — get, action, put — before any
    handler runs; the right token works end-to-end."""
    root = str(tmp_path_factory.mktemp("authstore") / "store")
    server = Server(spark, root, port=0, token="s3cret")
    try:
        naked = Client(port=server.port)
        try:
            with pytest.raises(fl.FlightUnauthenticatedError, match="token"):
                naked.list_tables()
            with pytest.raises(fl.FlightUnauthenticatedError, match="token"):
                naked.read_table("people").read_all()
            with pytest.raises(fl.FlightUnauthenticatedError, match="token"):
                naked.make_table("x", pa.table({"id": [1]}))
        finally:
            naked.close()
        wrong = Client(port=server.port, token="guess")
        try:
            with pytest.raises(fl.FlightUnauthenticatedError, match="token"):
                wrong.list_tables()
        finally:
            wrong.close()
        ok = Client(port=server.port, token="s3cret")
        try:
            ok.make_table("authed", pa.table({"id": [1, 2, 3]}))
            assert ok.list_tables() == ["authed"]
            back = ok.read_table("authed").read_all()
            assert sorted(back.column("id").to_pylist()) == [1, 2, 3]
        finally:
            ok.close()
    finally:
        server.shutdown()


def test_tokenless_server_stays_open(spark, served):
    """No token configured = the reference-parity open protocol (the
    module-scope served fixture would fail everywhere otherwise —
    asserted here explicitly so the default is pinned)."""
    _, client, _ = served
    assert isinstance(client.list_tables(), list)


def test_indexed_parallel_read_spans_partition_tree(spark, served):
    """S9-over-wire, parallel: get_flight_info with the (name, column,
    coding) triple mints one endpoint per leaf file of the
    __CODED_ID__ partition tree; read_table_parallel reassembles the
    indexed layout equal to the Store read; a ticket from BEFORE an
    index re-make fails loud on file membership instead of mixing
    file sets."""
    import numpy as np

    server, client, root = served
    rng = np.random.default_rng(13)
    t = pa.table(
        {
            "vec_id": pa.array(range(80), pa.int64()),
            "emb": pa.array(
                [list(map(float, v)) for v in rng.normal(size=(80, 8))]
            ),
        }
    )
    client.make_table("pvecs", t)
    client.make_index(
        "pcode", source="pvecs", column="emb",
        config={"metric": "l2", "codebook_size": 4, "num_codebooks": 2, "seed": 3},
    )
    info = client.conn.get_flight_info(
        fl.FlightDescriptor.for_path("pvecs", "emb", "pcode")
    )
    assert info.total_records == 80
    specs = [json.loads(ep.ticket.ticket.decode()) for ep in info.endpoints]
    assert all(s["coding"] == "pcode" and "/" in s["files"][0] for s in specs)
    par = client.read_table_parallel("pvecs", coding="pcode", column="emb")
    st = Store(spark, root)
    local = st.read_table("pvecs", coding="pcode", column="emb").toArrow()
    assert par.num_rows == local.num_rows == 80
    w = {r["vec_id"]: r["__CODED_ID__"] for r in par.to_pylist()}
    l = {r["vec_id"]: r["__CODED_ID__"] for r in local.to_pylist()}
    assert w == l
    # stale ticket across an index re-make: part names change, fail loud
    stale = info.endpoints[0].ticket
    client.sync_index("pcode", "pvecs", "emb")  # rewrite in place
    with pytest.raises(
        (fl.FlightServerError, pa.lib.ArrowInvalid), match="not in|re-plan"
    ):
        client.conn.do_get(stale).read_all()


def test_hive_walk_edge_layouts():
    """_hive_walk's servability contract: hive trees (incl.
    _-prefixed partition names) walk; unknown subdirs or mixed
    file+partition levels return None (spool fallback); dot-dirs and
    Spark markers are invisible."""
    import os
    import tempfile

    from fenix_spark.flight import _hive_walk

    d = tempfile.mkdtemp()

    def mk(*parts):
        p = os.path.join(d, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        open(p, "w").write("x")

    mk("__CODED_ID__=0", "a.parquet")
    mk("__CODED_ID__=1", "b.parquet")
    mk("__CODED_ID__=1", "_SUCCESS")
    mk("_SUCCESS")
    os.makedirs(os.path.join(d, ".hidden", "x=1"), exist_ok=True)
    files, partitioned = _hive_walk(d)
    assert partitioned and files == [
        os.path.join("__CODED_ID__=0", "a.parquet"),
        os.path.join("__CODED_ID__=1", "b.parquet"),
    ]
    # nested two-level hive
    mk("__CODED_ID__=0", "lang=en", "c.parquet")
    assert _hive_walk(d) is None  # mixed file+dir at one level -> spool
    os.remove(os.path.join(d, "__CODED_ID__=0", "a.parquet"))
    files, partitioned = _hive_walk(d)
    assert partitioned and len(files) == 2
    # an unknown (non-hive, non-marker) subdir anywhere -> None
    os.makedirs(os.path.join(d, "__CODED_ID__=1", "rogue"), exist_ok=True)
    assert _hive_walk(d) is None


def test_heterogeneous_file_widths_size_batches_per_fragment(
    spark, served, monkeypatch
):
    """Batch sizing is PER FRAGMENT from that fragment's own footer
    (r12 review finding): a layout whose later files carry much wider
    rows must not blow the budget because the first files' narrow
    average set a huge batch size."""
    import os

    import pyarrow.parquet as pq

    from fenix_spark import catalog

    server, client, root = served
    d = catalog.source_path(root, "hetero")
    os.makedirs(d, exist_ok=True)
    narrow = pa.table({"id": list(range(4000)), "payload": [""] * 4000})
    wide = pa.table(
        {
            "id": list(range(4000, 4200)),
            # distinct values: dictionary encoding must not collapse
            # the footer byte size the width estimate reads
            "payload": [f"{i:08d}" * 512 for i in range(200)],
        }
    )
    pq.write_table(narrow, os.path.join(d, "part-0-aaa.parquet"))
    pq.write_table(wide, os.path.join(d, "part-1-bbb.parquet"))
    monkeypatch.setattr(server, "get_budget_bytes", 128 << 10)  # 128 KB
    back = client.read_table("hetero").read_all()
    assert back.num_rows == 4200
    stats = server.last_get_stats
    assert stats["spooled"] is False
    assert stats["max_batch_bytes"] <= 128 << 10


def test_spool_stats_report_rewrite_bytes(served, monkeypatch):
    """A spooled computed read reports its write amplification
    (spool_bytes) — the number the SCALE.md ledger records. The filter
    uses a function call so it stays OUTSIDE the r13 pushdown subset
    (a plain comparison like ``id >= 0`` now streams direct and never
    spools)."""
    server, client, _ = served
    out = client.read_table("people", filter="abs(id) >= 0").read_all()
    assert out.num_rows == 20
    stats = server.last_get_stats
    assert stats["spooled"] is True and stats["spool_bytes"] > 0


def test_stateful_flight_info_schema_matches_stream(spark, served):
    """FlightInfo.schema for a stateful peer is the schema of the
    stream its ticket will actually produce (set-select narrows it),
    not the bare table schema (r12 review finding)."""
    server, _, _ = served
    client = Client(port=server.port)
    try:
        client._action("set-select", select=["id"])
        info = client.conn.get_flight_info(
            fl.FlightDescriptor.for_path("people")
        )
        assert info.schema.names == ["id"]
        back = client.conn.do_get(info.endpoints[0].ticket).read_all()
        assert back.schema.names == ["id"] and back.num_rows == 20
    finally:
        client.close()


def test_parallel_read_coding_without_column_is_loud(served):
    _, client, _ = served
    with pytest.raises(ValueError, match="come together"):
        client.read_table_parallel("people", coding="c")


def test_put_timestamp_table_info_schema_matches_stream(spark, served):
    """FlightInfo schema (footer-derived) == actual stream schema for a
    do_put-ingested TIMESTAMP table: flight-owned writes are scoped to
    TIMESTAMP_MICROS, so the footer says timestamp[us] like the wire
    cast does — regardless of the session's own outputTimestampType
    (INT96 default would advertise ns-naive, r12 review finding)."""
    import datetime

    _, client, _ = served
    t = pa.table(
        {
            "id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(
                [
                    datetime.datetime(2021, 3, 4, 5, 6, 7, 123456),
                    datetime.datetime(2022, 8, 9, 10, 11, 12, 654321),
                ],
                pa.timestamp("us"),
            ),
        }
    )
    client.make_table("tstab", t)
    info = client.conn.get_flight_info(fl.FlightDescriptor.for_path("tstab"))
    back = client.read_table("tstab").read_all()
    assert info.schema.field("ts").type == back.schema.field("ts").type
    assert back.schema.field("ts").type == pa.timestamp("us", tz="UTC")
    got = sorted(v.as_py().replace(tzinfo=None) for v in back.column("ts"))
    assert got[0] == datetime.datetime(2021, 3, 4, 5, 6, 7, 123456)


def test_hive_walk_and_pinned_shard_agree(tmp_path):
    """_hive_walk (layout walk) and _pinned_shard_ok (per-file check)
    are two implementations of ONE contract — every path the walk
    returns must validate, and paths it rejects/omits must not. Drift
    between them would let a ticket name a file the planner would
    never mint (or vice versa). Exercised over generated layouts."""
    import os

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from fenix_spark.flight import _hive_walk, _pinned_shard_ok

    seg = st.sampled_from(
        ["__CODED_ID__=0", "lang=en", "k=", "_tmp", ".hid", "plain", "a=b"]
    )
    leaf = st.sampled_from(
        ["a.parquet", "b.parquet", "_SUCCESS", ".crc", "x.txt", "c.parquet"]
    )
    entry = st.tuples(st.lists(seg, max_size=2), leaf)

    @settings(max_examples=60, deadline=None)
    @given(st.lists(entry, min_size=1, max_size=6), st.integers(0, 5))
    def check(entries, probe_idx):
        import shutil
        import tempfile

        d = tempfile.mkdtemp(dir=str(tmp_path))
        try:
            made = []
            for dirs, name in entries:
                p = os.path.join(d, *dirs)
                os.makedirs(p, exist_ok=True)
                fp = os.path.join(p, name)
                open(fp, "w").write("x")
                made.append(os.path.join(*dirs, name) if dirs else name)
            walk = _hive_walk(d)
            if walk is None:
                return  # non-servable layout: planner never mints tickets
            files, _ = walk
            for f in files:
                assert _pinned_shard_ok(d, f), f
            for m in made:
                if m not in files:
                    assert not _pinned_shard_ok(d, m), m
            # traversal probes never validate
            for evil in ("../x.parquet", "a=b/../c.parquet", "/etc/passwd"):
                assert not _pinned_shard_ok(d, evil)
        finally:
            shutil.rmtree(d, ignore_errors=True)

    check()


# ---------------------------------------------------------------- r13:
# ADVICE fixes (micros-conf refcount, pinned-schema staleness + loud
# re-plan ordering) and the get_flight_info footer-totals cache


def test_flight_info_replan_of_unchanged_gen_reads_zero_footers(spark, served):
    """Planning cost contract (VERDICT r12 watch item #1): the first
    get_flight_info of a layout reads one footer per file for exact
    totals; a RE-PLAN of the unchanged layout reads ZERO footers (stat
    calls only) and serves identical totals. An in-place rewrite
    changes (mtime, size) and misses, so totals track the new data."""
    from fenix_spark import catalog

    server, client, root = served
    spark.range(600).select(F.col("id").alias("k")).repartition(3).write.mode(
        "overwrite"
    ).parquet(catalog.source_path(root, "totcache"))
    before = server.footer_reads
    d = fl.FlightDescriptor.for_path("totcache")
    info1 = client.conn.get_flight_info(d)
    cold = server.footer_reads - before
    assert cold == len(info1.endpoints) == 3
    assert info1.total_records == 600
    info2 = client.conn.get_flight_info(d)
    assert server.footer_reads - before == cold  # warm re-plan: zero footer I/O
    assert info2.total_records == info1.total_records
    assert info2.total_bytes == info1.total_bytes
    spark.range(200).select(F.col("id").alias("k")).repartition(3).write.mode(
        "overwrite"
    ).parquet(catalog.source_path(root, "totcache"))
    info3 = client.conn.get_flight_info(d)
    assert server.footer_reads - before > cold  # rewrite missed the cache
    assert info3.total_records == 200


def test_pinned_ticket_after_table_drop_says_replan(spark, served):
    """A pinned shard ticket whose layout is GONE (dropped table) must
    surface the documented loud re-plan message, not a raw Spark
    path-not-found from the schema derivation (ADVICE r12 —
    _direct_dataset now runs before _pinned_schema)."""
    from fenix_spark import catalog

    server, client, root = served
    spark.range(50).select(F.col("id").alias("k")).write.mode(
        "overwrite"
    ).parquet(catalog.source_path(root, "dropme"))
    info = client.conn.get_flight_info(fl.FlightDescriptor.for_path("dropme"))
    ticket = info.endpoints[0].ticket
    client.drop_table("dropme")
    with pytest.raises(
        (fl.FlightServerError, pa.lib.ArrowInvalid), match="re-plan"
    ):
        client.conn.do_get(ticket).read_all()


def test_pinned_schema_key_tracks_partition_subdir_rewrites(served, coded):
    """A partition-scoped in-place rewrite (dynamic-partition
    overwrite) bumps only the col=value SUBDIR's mtime, not the
    parent's; the pinned-schema cache key must fold the subdir stamps
    in so a schema-changing rewrite can never serve a stale cached
    wire schema (ADVICE r12)."""
    import os
    import time

    from fenix_spark import catalog

    server, _, root = served
    spec = {"source": "coded", "gen": None}
    server._schema_cache.clear()
    server._wire_schema(spec, server._layout(spec))
    assert len(server._schema_cache) == 1
    server._wire_schema(spec, server._layout(spec))
    assert len(server._schema_cache) == 1  # unchanged layout: cache hit
    d = catalog.source_path(root, "coded")
    sub = next(e for e in os.listdir(d) if e.startswith("__CODED_ID__="))
    parent = os.stat(d)
    future = time.time() + 10
    os.utime(os.path.join(d, sub), (future, future))
    os.utime(d, (parent.st_atime, parent.st_mtime))  # parent mtime unchanged
    server._wire_schema(spec, server._layout(spec))
    assert len(server._schema_cache) == 2  # subdir rewrite missed the cache


# ---------------------------------------------------------------- r13:
# wire filter/select pushdown — filtered/projected do_get streams
# DIRECT from the table's parquet files (VERDICT r12 #1: the last
# structural spool). translate()'s semantics are proven in
# test_flight_pushdown.py; these tests pin the SERVER contract: when
# the filter is pushable the stream is spool-free and partition-pruned,
# when it is not the spool path still serves it with full Spark
# semantics, and both return byte-identical results to the Store.


def test_pushed_filter_streams_flat_layout_spool_free(spark, served):
    """The verdict's done-criterion, flat layout: a filtered wire read
    streams with spooled=False, no spool_bytes, and equals the Store
    result."""
    server, client, root = served
    st = Store(spark, root)
    back = client.read_table("people", filter="val > 2 AND id < 18").read_all()
    stats = server.last_get_stats
    assert stats["spooled"] is False and stats["pushed_filter"] is True
    assert "spool_bytes" not in stats
    local = st.read_table(
        "people", filter=F.expr("val > 2 AND id < 18")
    ).orderBy("id").toArrow()
    assert back.sort_by("id").equals(local)


def test_pushed_filter_prunes_partitions_over_the_wire(spark, served, coded):
    """Partitioned layout: a pushed filter on the partition column
    opens ONLY that partition's fragments — wire-side partition
    pruning, the property that makes a selective read of a 100 TB
    __CODED_ID__ layout touch one cell's files."""
    server, client, root = served
    st = Store(spark, root)
    back = client.read_table("coded", filter="__CODED_ID__ = 2").read_all()
    stats = server.last_get_stats
    assert stats["spooled"] is False and stats["pushed_filter"] is True
    total_leaves = len(
        client.conn.get_flight_info(
            fl.FlightDescriptor.for_path("coded")
        ).endpoints
    )
    assert 0 < stats["fragments"] < total_leaves  # pruned, not scanned
    local = st.read_table(
        "coded", filter=F.expr("__CODED_ID__ = 2")
    ).orderBy("k").toArrow()
    assert back.sort_by("k").equals(local)
    assert back.num_rows == 400


def test_select_only_read_streams_direct_with_projection(spark, served, coded):
    """A select-only read is pure column projection — served direct
    unconditionally, with the projection reaching the scanner (the
    r12 spool rewrote the whole table for this)."""
    server, client, root = served
    st = Store(spark, root)
    back = client.read_table("coded", select=["v", "k"]).read_all()
    stats = server.last_get_stats
    assert stats["spooled"] is False
    assert stats["pushed_columns"] == ["v", "k"]
    assert back.schema.names == ["v", "k"]  # requested order, like Spark
    local = st.read_table("coded", select=["v", "k"]).orderBy("k").toArrow()
    assert back.sort_by("k").equals(local)


def test_filter_may_reference_columns_outside_select(spark, served):
    """Store semantics: filter applies BEFORE select, so a pushed read
    must honor a predicate on a column the projection drops."""
    server, client, root = served
    back = client.read_table(
        "people", select=["id"], filter="val > 4"
    ).read_all()
    assert server.last_get_stats["spooled"] is False
    assert back.schema.names == ["id"]
    st = Store(spark, root)
    want = sorted(
        r["id"]
        for r in st.read_table(
            "people", filter=F.expr("val > 4"), select=["id"]
        ).collect()
    )
    assert sorted(back.column("id").to_pylist()) == want


def test_unsupported_predicate_still_spools_correctly(spark, served):
    """A filter outside the pushed subset (a function call) falls back
    to the spool path — full Spark semantics, spool_bytes instrumented,
    result identical to the Store."""
    server, client, root = served
    back = client.read_table("people", filter="length(name) = 2").read_all()
    stats = server.last_get_stats
    assert stats["spooled"] is True and stats["pushed_filter"] is False
    assert stats["spool_bytes"] > 0
    st = Store(spark, root)
    want = sorted(
        r["id"]
        for r in st.read_table(
            "people", filter=F.expr("length(name) = 2")
        ).collect()
    )
    assert sorted(back.column("id").to_pylist()) == want


def test_stateful_peer_filter_is_pushed_too(served):
    """Per-peer set-filter state merges into the spec before planning,
    so a stateful peer's bare-ticket read ALSO rides the direct path
    when its filter is pushable."""
    server, client, _ = served
    client._action("set-filter", filter="id >= 18")
    try:
        back = client.conn.do_get(fl.Ticket(b"people")).read_all()
        assert sorted(back.column("id").to_pylist()) == [18, 19]
        assert server.last_get_stats["spooled"] is False
        assert server.last_get_stats["pushed_filter"] is True
    finally:
        client._action("del-filter")


def test_indexed_read_with_pushed_cell_filter(spark, served):
    """The reference's indexed read (coding+column) combined with a
    partition-column filter: streams direct AND prunes to the named
    cells — the wire-side equivalent of probe search's physical
    partition pruning."""
    import numpy as np

    _, client, root = served
    st = Store(spark, root)
    if "vecs" not in st.list_tables():
        pytest.skip("vecs fixture table not present")
    if not any(c == "wirecoder" for c in st.list_coders()):
        from fenix_spark.operators.coder import CodingConfig

        st.make_coder(
            "wirecoder", "vecs", "embedding",
            CodingConfig(num_codebooks=1, codebook_size=4, seed=7),
        )
        st.make_index("vecs", "embedding", "wirecoder")
    server = served[0]
    back = client.read_table(
        "vecs", coding="wirecoder", column="embedding",
        filter="__CODED_ID__ IN (0, 2)",
    ).read_all()
    stats = server.last_get_stats
    assert stats["spooled"] is False and stats["pushed_filter"] is True
    local = st.read_table(
        "vecs", coding="wirecoder", column="embedding",
        filter=F.expr("__CODED_ID__ IN (0, 2)"),
    )
    assert back.num_rows == local.count() > 0
    assert set(back.column("__CODED_ID__").to_pylist()) <= {0, 2}


def test_concurrent_peers_isolated_under_compaction(spark, served):
    """VERDICT r12 #5 — true concurrency, not pairwise cases: two
    stateful peers with DIFFERENT set-filters (one rides the pushed
    direct path, one the spool path, so both transports race) and a
    pinned parallel reader, all fetching in real threads over real
    gRPC connections WHILE a compact commits. Proves (a) per-peer
    state isolation — each peer only ever sees rows its own filter
    admits, with the exact expected count every iteration, (b) the
    pinned reader reassembles a consistent snapshot across the
    concurrent generation flip, and (c) no thread ever observes a
    half-rewritten layout (the reference's server-global state race,
    SURVEY §2.12, is exactly what this guards against)."""
    import threading

    from fenix_spark import catalog

    server, client, root = served
    name = "race"
    n = 3000
    client.make_table(
        name,
        pa.table(
            {"k": list(range(n)), "v": [i % 7 for i in range(n)]}
        ),
    )
    errors: list[BaseException] = []
    start = threading.Barrier(4)

    def peer(filter_sql, check, want):
        try:
            c = Client(port=server.port)
            try:
                c._action("set-filter", filter=filter_sql)
                start.wait(timeout=30)
                for _ in range(5):
                    rows = c.conn.do_get(fl.Ticket(name.encode())).read_all()
                    ks = rows.column("k").to_pylist()
                    assert len(ks) == want, (filter_sql, len(ks))
                    assert all(check(k) for k in ks), filter_sql
            finally:
                c.close()
        except BaseException as e:  # collected and re-raised on main
            errors.append(e)

    def pinned_reader():
        try:
            c = Client(port=server.port)
            try:
                start.wait(timeout=30)
                for _ in range(3):
                    t = c.read_table_parallel(name, max_workers=4)
                    ks = sorted(t.column("k").to_pylist())
                    assert ks == list(range(n)), (len(ks), ks[:3])
            finally:
                c.close()
        except BaseException as e:
            errors.append(e)

    threads = [
        # pushed direct path (comparison is in the pushdown subset)
        threading.Thread(
            target=peer, args=("k < 1500", lambda k: k < 1500, 1500)
        ),
        # spool path (function call is outside the subset)
        threading.Thread(
            target=peer, args=("abs(k) >= 1500", lambda k: k >= 1500, 1500)
        ),
        threading.Thread(target=pinned_reader),
    ]
    for t in threads:
        t.start()
    start.wait(timeout=30)
    catalog.compact(spark, root, name, target_file_bytes=1 << 30)
    for t in threads:
        t.join(timeout=300)
    assert not errors, errors
    # post-race: the compacted table still serves every row, and the
    # racing peers' session state never leaked onto NEW connections
    fresh = Client(port=server.port)
    try:
        assert fresh.read_table(name).read_all().num_rows == n
    finally:
        fresh.close()


def test_parallel_filtered_fetch_equals_store_filter(spark, served, coded):
    """r13 parallel filtered fetch: read_table_parallel(filter=,
    select=) rides the filter on EVERY shard ticket — per-shard
    scanner evaluation unions to exactly the whole-table filter, with
    generation consistency and zero spools. Partition-column filters
    prune shards server-side."""
    server, client, root = served
    st = Store(spark, root)
    par = client.read_table_parallel(
        "coded", max_workers=4,
        filter="__CODED_ID__ IN (1, 3) AND k < 1200", select=["k", "v"],
    )
    assert par.schema.names == ["k", "v"]
    local = st.read_table(
        "coded",
        filter=F.expr("__CODED_ID__ IN (1, 3) AND k < 1200"),
        select=["k", "v"],
    ).orderBy("k").toArrow()
    assert par.sort_by("k").equals(local)
    assert par.num_rows == local.num_rows > 0
    # every shard stream was scanner-evaluated, never spooled
    assert server.last_get_stats["spooled"] is False
    assert server.last_get_stats["pushed_filter"] is True
    # a filter outside the subset fails loud through the parallel path
    with pytest.raises(
        (fl.FlightServerError, pa.lib.ArrowInvalid), match="pushdown subset"
    ):
        client.read_table_parallel("coded", filter="abs(k) > 5")


def test_concurrent_planning_shares_the_totals_cache(spark, served):
    """Four threads plan the same fresh table simultaneously: every
    plan returns identical exact totals, and the footer-totals cache
    (r13, lock-guarded) bounds total footer I/O — at worst each file
    is read once per racing thread before the entry lands, never more
    (no unbounded re-reads, no torn cache entries)."""
    import concurrent.futures

    from fenix_spark import catalog

    server, client, root = served
    spark.range(900).select(F.col("id").alias("k")).repartition(3).write.mode(
        "overwrite"
    ).parquet(catalog.source_path(root, "planrace"))
    before = server.footer_reads
    d = fl.FlightDescriptor.for_path("planrace")

    def plan():
        c = Client(port=server.port)
        try:
            info = c.conn.get_flight_info(d)
            return info.total_records, info.total_bytes, len(info.endpoints)
        finally:
            c.close()

    with concurrent.futures.ThreadPoolExecutor(max_workers=4) as pool:
        results = list(pool.map(lambda _: plan(), range(4)))
    assert len(set(results)) == 1  # identical exact totals across racers
    assert results[0][0] == 900 and results[0][2] == 3
    reads = server.footer_reads - before
    assert 3 <= reads <= 12  # ≥ once per file, ≤ once per file per racer
    # a fifth, post-race plan is fully warm: zero new footer reads
    plan()
    assert server.footer_reads - before == reads


# ---------------------------------------------------------------- one
# read path: layout resolver, INT96-at-µs dataset, cached wire schema


def test_spark_written_timestamps_stream_on_every_path(spark, served):
    """A Spark-written table (INT96, Spark's default parquet timestamp
    encoding) holding values outside the nanosecond range streams on
    the plain, parallel, pushed-filter and spooled paths; each stream's
    schema is the one get_flight_info advertises, and each value is the
    one Spark itself reads back."""
    import datetime

    import pyarrow.compute as pc

    from fenix_spark import catalog

    server, client, root = served
    catalog.make(
        root,
        "int96ts",
        spark.sql(
            "SELECT 1 AS id, TIMESTAMP'1600-05-05 01:02:03.000004' AS ts "
            "UNION ALL SELECT 2, TIMESTAMP'2300-01-01 00:00:00' "
            "UNION ALL SELECT 3, TIMESTAMP'2021-03-04 05:06:07.123456'"
        ),
    )

    def local(us):  # PySpark's TimestampType.fromInternal
        return datetime.datetime.fromtimestamp(us // 1_000_000).replace(
            microsecond=us % 1_000_000
        )

    want = sorted(
        (r["id"], r["ts"])
        for r in spark.read.parquet(catalog.source_path(root, "int96ts")).collect()
    )
    assert len(want) == 3
    advertised = client.conn.get_flight_info(
        fl.FlightDescriptor.for_path("int96ts")
    ).schema
    assert advertised.field("ts").type == pa.timestamp("us", tz="UTC")
    reads = {
        "plain": (lambda: client.read_table("int96ts").read_all(), False),
        "parallel": (lambda: client.read_table_parallel("int96ts"), False),
        "pushed": (
            lambda: client.read_table("int96ts", filter="id >= 1").read_all(),
            False,
        ),
        "spooled": (
            lambda: client.read_table("int96ts", filter="abs(id) >= 1").read_all(),
            True,
        ),
    }
    for path, (read, spooled) in reads.items():
        t = read()
        assert server.last_get_stats["spooled"] is spooled, path
        assert t.schema == advertised, path
        micros = pc.cast(t.column("ts"), pa.int64()).to_pylist()
        got = sorted(zip(t.column("id").to_pylist(), map(local, micros)))
        assert got == want, path


def test_warm_direct_reads_run_no_spark_job(spark, served, handler_jobs):
    """The wire schema is derived once per layout state: a repeated
    plain, pushed-filter or indexed read, and a repeated indexed
    get_flight_info, stream from the files with zero Spark jobs. The
    cold reads derive it (a Spark analysis), so the counter is live."""
    import numpy as np

    server, client, _ = served
    rng = np.random.default_rng(5)
    n = 400
    client.make_table(
        "jobless",
        pa.table(
            {
                "id": pa.array(range(n), pa.int64()),
                "label": pa.array(rng.integers(0, 4, n), pa.int64()),
                "emb": [list(map(float, v)) for v in rng.normal(size=(n, 8))],
            }
        ),
    )
    client.make_index(
        "jobless_ivf", "jobless", "emb",
        config={
            "metric": "l2", "codebook_size": 4, "num_codebooks": 2,
            "seed": 1, "max_iter": 4,
        },
    )
    jobs = handler_jobs(server)
    calls = {
        "plain": lambda: client.read_table("jobless").read_all(),
        "pushed": lambda: client.read_table("jobless", filter="label = 1").read_all(),
        "indexed": lambda: client.read_table(
            "jobless", coding="jobless_ivf", column="emb"
        ).read_all(),
        "indexed info": lambda: client.conn.get_flight_info(
            fl.FlightDescriptor.for_path("jobless", "emb", "jobless_ivf")
        ),
    }
    cold = {name: jobs(call) for name, call in calls.items()}
    assert cold["plain"] > 0  # control: a cold read derives the schema
    for name, call in calls.items():
        assert jobs(call) == 0, name
        if name != "indexed info":
            assert server.last_get_stats["spooled"] is False, name


def test_batched_exchange_probes_match_single_target(spark, served):
    """A batched do_exchange reads ``probes`` as a single-target call
    does: None probes every cell, 0 returns no rows, and a count probes
    that many cells — so each query of a 3-target call returns what its
    own single-target call returns, also on a permuted-centroid coding
    where the cell ranking is all near-ties."""
    import numpy as np

    from fenix_spark.catalog import coding_path
    from fenix_spark.operators.coder import coding_from_numpy

    _, client, root = served
    rng = np.random.default_rng(17)
    vecs = rng.normal(size=(400, 8))
    client.make_table(
        "probe_vecs",
        pa.table(
            {
                "vec_id": pa.array(range(400), pa.int64()),
                "emb": [list(map(float, v)) for v in vecs],
            }
        ),
    )
    client.make_index(
        "probe_ivf", "probe_vecs", "emb",
        config={
            "metric": "l2", "codebook_size": 8, "num_codebooks": 2,
            "seed": 3, "max_iter": 4,
        },
    )
    targets = [list(map(float, v)) for v in rng.normal(size=(3, 8))]
    # 64 centroids that are permutations of one vector: every cell is
    # the same distance from the all-ones and zero targets in exact
    # arithmetic, so the probed cells rest on the last bits of each
    # fold and on the id tie-break
    base = rng.normal(size=8)
    cents = np.stack([[rng.permutation(base) for _ in range(64)]])
    coding_from_numpy(spark, cents, "l2").write.parquet(coding_path(root, "probe_perm"))
    client.sync_index("probe_perm", "probe_vecs", "emb")
    for coding, queries in (
        ("probe_ivf", targets),
        ("probe_perm", [[1.0] * 8, [0.0] * 8, targets[0]]),
    ):
        for probes in (None, 0, 16):
            kw = dict(coding=coding, maxval=10, probes=probes, id_col="vec_id")
            batched = client.search(queries, "probe_vecs", "emb", **kw).to_pylist()
            for qi, target in enumerate(queries):
                single = client.search(target, "probe_vecs", "emb", **kw)
                want = single.column("vec_id").to_pylist()
                got = [r["vec_id"] for r in batched if r["query_index"] == qi]
                assert got == want, (coding, probes, qi)
                assert len(want) == (0 if probes == 0 else 10)


def test_empty_select_reads_alike_cold_and_warm(served):
    """A ``select: []`` ticket streams what Spark's ``select()`` gives
    — no columns, every row — whether or not a plain read of the table
    has cached its wire schema first, and caches nothing a plain read
    then takes for its own."""
    _, client, _ = served
    client.make_table("emptysel", pa.table({"id": [1, 2, 3], "v": [0.5, 1.5, 2.5]}))
    ticket = fl.Ticket(json.dumps({"source": "emptysel", "select": []}).encode())
    cold = client.conn.do_get(ticket).read_all()
    plain = client.read_table("emptysel").read_all()
    warm = client.conn.do_get(ticket).read_all()
    assert (cold.schema.names, cold.num_rows) == ([], 3)
    assert (plain.schema.names, plain.num_rows) == (["id", "v"], 3)
    assert warm.equals(cold)


def test_coder_trains_past_null_vectors_and_index_serves(spark, served):
    """make-coder over a table holding a null vector and a null element
    fits on the other rows (null vectors match nothing, like knn), and
    make-index over it then serves a search. A column with no row free
    of nulls raises a ValueError that names it."""
    import numpy as np

    from fenix_spark.operators.coder import CodingConfig, train_coding

    _, client, _ = served
    base = _vector_table(np.random.default_rng(23), n=200)
    emb = base.column("emb").to_pylist()
    emb[0] = None
    emb[1] = [None] + emb[1][1:]
    client.make_table("nullvecs", base.set_column(2, "emb", pa.array(emb, pa.list_(pa.float32()))))
    client.make_index("nullvecs_ivf", "nullvecs", "emb", config=_VEC_CODING)
    got = client.search(
        list(map(float, emb[5])), "nullvecs", "emb",
        coding="nullvecs_ivf", maxval=5, probes=8, id_col="vec_id",
    ).column("vec_id").to_pylist()
    assert len(got) == 5 and got[0] == 5 and not {0, 1} & set(got)
    nulls = spark.createDataFrame([(None,), ([1.0, None],)], "emb array<double>")
    with pytest.raises(ValueError, match="'emb'"):
        train_coding(nulls, "emb", CodingConfig())


def test_state_updates_are_safe_under_concurrent_peers(served, monkeypatch):
    """Four peers set and clear their filters concurrently while the
    state LRU holds one peer, so every set-* evicts another peer's
    entry: no call fails, and each peer's next read honours its own
    filter."""
    import sys
    import threading

    server, client, _ = served
    client.make_table("lockpeople", pa.table({"id": list(range(40))}))
    monkeypatch.setattr(server, "_state_cap", 1)
    errors: list[BaseException] = []
    start = threading.Barrier(4)

    def peer(i: int) -> None:
        own = f"id >= {10 * i} AND id < {10 * i + 10}"
        try:
            with Client(port=server.port) as c:
                start.wait(timeout=30)
                for _ in range(200):
                    c._action("set-filter", filter=own)
                    c._action("del-filter")
                c._action("set-filter", filter=own)
                back = c.read_table("lockpeople", filter=own).read_all()
                assert sorted(back.column("id").to_pylist()) == list(
                    range(10 * i, 10 * i + 10)
                ), i
        except BaseException as e:  # collected and re-raised on main
            errors.append(e)

    threads = [threading.Thread(target=peer, args=(i,)) for i in range(4)]
    # switch threads as often as the interpreter allows, so the
    # handlers' compound updates interleave far more than by default
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(server._state) <= 1


# ------------------------------------------- driver-local point search


_VEC_CODING = {
    "metric": "l2", "codebook_size": 8, "num_codebooks": 2, "seed": 3, "max_iter": 4,
}


def _vector_table(rng, n=600, dim=8):
    """n rows: vec_id, label 0-2, float32 emb — the last 40 rows
    repeat earlier vectors under new ids, so top-k sets hold exact
    distance ties that only the id tie-break orders."""
    import numpy as np

    vecs = rng.normal(size=(n - 40, dim)).astype("float32")
    vecs = np.concatenate([vecs, vecs[:40]])
    return pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "label": pa.array([i % 3 for i in range(n)], pa.int64()),
            "emb": pa.array(list(vecs), pa.list_(pa.float32())),
        }
    )


def _same_answer(got, want, cell):
    import numpy as np

    assert got.schema.equals(want.schema, check_metadata=True), (cell, got.schema, want.schema)
    assert got.column("query_index").to_pylist() == [0] * got.num_rows, cell
    assert got.drop_columns("__DISTANCE__").equals(want.drop_columns("__DISTANCE__")), cell
    bits = [np.asarray(t.column("__DISTANCE__"), "float64").view("int64") for t in (got, want)]
    assert bits[0].tolist() == bits[1].tolist(), cell


def test_local_point_search_equals_spark_path(spark, served, handler_jobs, monkeypatch):
    """A single-target coded search answered on the driver (no Spark
    job) returns what the Spark path returns — forced by a budget
    below zero — for all 5 metrics, with and without a pushed filter,
    probes None/0/16 and select None/[vec_id, label]: the same ids, the
    same __DISTANCE__ bits and the same Arrow schema, nullability
    included. Duplicated vectors under distinct ids pin the tie order.
    An untranslatable filter takes the Spark path unforced. (The first
    search of a layout state derives its wire schema, a Spark analysis
    — warmed before counting.)"""
    import concurrent.futures
    import itertools

    import numpy as np

    server, client, _ = served
    rng = np.random.default_rng(11)
    client.make_table("diffvecs", _vector_table(rng))
    client.make_index("diff_ivf", "diffvecs", "emb", config=_VEC_CODING)
    vecs = client.read_table("diffvecs").read_all().sort_by("vec_id")
    # two targets, alternating over the grid: a random point, and a
    # stored vector that has a twin
    targets = [list(map(float, rng.normal(size=8))), vecs.column("emb")[3].as_py()]
    for sel in (None, ["vec_id", "label"]):  # derive each wire schema once
        client.search(targets[0], "diffvecs", "emb", coding="diff_ivf", select=sel)
    conns = [Client(port=server.port) for _ in range(4)]
    jobs = handler_jobs(server)
    grid = list(
        itertools.product(
            ("l2", "euclidean", "cosine", "dot", "inner_product"),
            (None, "label = 1", "abs(label) = 1"),
            (None, 0, 16),
            (None, ["vec_id", "label"]),
        )
    )

    def run(cells, out):
        """The searches of ``cells`` from 4 concurrent clients."""

        def one(c, i, metric, flt, probes, sel):
            out[i] = c.search(
                targets[i % 2], "diffvecs", "emb", coding="diff_ivf", metric=metric,
                filter=flt, probes=probes, select=sel, maxval=10, id_col="vec_id",
            )

        with concurrent.futures.ThreadPoolExecutor(4) as pool:
            list(pool.map(lambda j: [one(conns[j], i, *cell) for i, cell in cells[j::4]], range(4)))

    # one job count per group of calls: a total of 0 means every call
    # in the group ran none
    cells = list(enumerate(grid))
    pushed = [c for c in cells if c[1][1] != "abs(label) = 1"]
    untranslatable = [c for c in cells if c[1][1] == "abs(label) = 1"]
    local: dict = {}
    spark_side: dict = {}
    assert jobs(lambda: run(pushed, local)) == 0
    # an untranslatable filter already runs the Spark path here, so
    # forcing it again would compare Spark with Spark
    assert jobs(lambda: run(untranslatable, local)) > 0
    with monkeypatch.context() as m:
        # below any footer total, the empty probe set's 0 too
        m.setattr(server, "get_budget_bytes", -1)
        assert jobs(lambda: run(pushed, spark_side)) > 0
    for c in conns:
        c.close()
    for i, cell in pushed:
        _same_answer(local[i], spark_side[i], cell)
    for i, cell in cells:
        assert local[i].num_rows == (0 if cell[2] == 0 else 10), cell
    # the stored vector's twin ties it at distance 0: ids order the tie
    got = client.search(targets[1], "diffvecs", "emb", coding="diff_ivf", maxval=2, id_col="vec_id")
    assert got.column("vec_id").to_pylist() == [3, 563]
    assert got.column("__DISTANCE__").to_pylist() == [0.0, 0.0]


def test_local_point_search_hands_spark_what_it_cannot_answer(
    spark, served, handler_jobs, monkeypatch
):
    """Each input the driver-local path cannot answer bit-identically
    runs the Spark path (more than 0 jobs) and gets its answer or
    error: a null vector, a null element, a zero-norm vector under
    cosine, probed cells over the budget, an untranslatable filter.
    Handing a search to Spark costs the local path only the probed
    cells' listing and footers."""
    import os

    import numpy as np

    from fenix_spark import flight

    server, client, _ = served
    rng = np.random.default_rng(12)
    base = _vector_table(rng, n=200)
    emb = base.column("emb").to_pylist()
    emb[0] = None
    emb[1] = [None] + emb[1][1:]
    emb[2] = [0.0] * 8
    # the coder trains on the clean rows (k-means takes no nulls), then
    # indexes the odd ones
    client.make_table("oddclean", base)
    client.make_index("odd_ivf", "oddclean", "emb", config=_VEC_CODING)
    client.make_table("oddvecs", base.set_column(2, "emb", pa.array(emb, pa.list_(pa.float32()))))
    client.sync_index("odd_ivf", "oddvecs", "emb")
    target = list(map(float, rng.normal(size=8)))
    jobs = handler_jobs(server)

    def search(**kw):
        kw = {"coding": "odd_ivf", "maxval": 5, "id_col": "vec_id", **kw}
        return lambda: client.search(target, "oddvecs", "emb", **kw)

    def outcome(call):
        try:
            return call()
        except (fl.FlightError, pa.ArrowInvalid) as e:  # a ValueError arrives as ArrowInvalid
            return type(e).__name__

    probed = search(probes=8)
    probed()  # derives the wire schema
    assert jobs(probed) == 0  # control: the probed cells skip the null rows
    triggers = {
        "null vector and element": search(probes=None),
        "zero norm under cosine": search(metric="cosine", filter="vec_id = 2"),
        "untranslatable filter": search(probes=8, filter="abs(label) = 1"),
    }
    for name, call in triggers.items():
        assert jobs(lambda: outcome(call)) > 0, name
        want = outcome(call)
        with monkeypatch.context() as m:
            m.setattr(server, "get_budget_bytes", 1)
            forced = outcome(call)
        assert type(want) is type(forced), name
        if isinstance(want, pa.Table):
            assert want.equals(forced), name
    # a search bound for Spark costs the local path at most the probed
    # cells' listing and footers: no index state stamp, no footer of
    # an unprobed cell, and none at all for a target of the wrong length
    footers, stamps = [], []
    real_footers, real_stamp = server._footer_totals, flight._stamp
    monkeypatch.setattr(server, "_footer_totals", lambda ps: footers.extend(ps) or real_footers(ps))
    monkeypatch.setattr(flight, "_stamp", lambda d, gen: stamps.append(d) or real_stamp(d, gen))
    with monkeypatch.context() as m:
        m.setattr(server, "get_budget_bytes", 1)
        assert jobs(probed) > 0  # over budget
        assert 0 < len({os.path.dirname(p) for p in footers}) <= 8, footers
        assert stamps == []
        footers.clear()
        outcome(lambda: client.search(target[:5], "oddvecs", "emb", coding="odd_ivf", probes=8))
        assert footers == [] and stamps == []


def test_local_point_search_sees_rewrites_and_retrained_codings(served):
    """The probed cells are listed on every search and the centroid
    cache is keyed by the coding dir's state: rows added by an in-place
    index rewrite (make_table + sync_index) and a retrained coding
    (make-coder between two searches) are both seen by the next
    search."""
    import numpy as np

    server, client, _ = served
    rng = np.random.default_rng(13)
    t = _vector_table(rng, n=300)
    client.make_table("freshvecs", t)
    client.make_index("fresh_ivf", "freshvecs", "emb", config=_VEC_CODING)
    target = list(map(float, rng.normal(size=8)))
    kw = dict(coding="fresh_ivf", maxval=3, id_col="vec_id")
    first = client.search(target, "freshvecs", "emb", **kw)
    assert max(first.column("vec_id").to_pylist()) < 300
    # three new rows sit exactly on the target
    extra = pa.table(
        {
            "vec_id": pa.array([1000, 1001, 1002], pa.int64()),
            "label": pa.array([0, 0, 0], pa.int64()),
            "emb": pa.array([target] * 3, pa.list_(pa.float32())),
        }
    )
    client.make_table("freshvecs", pa.concat_tables([t, extra]))
    client.sync_index("fresh_ivf", "freshvecs", "emb")
    again = client.search(target, "freshvecs", "emb", **kw)
    assert again.column("vec_id").to_pylist() == [1000, 1001, 1002]
    # retrain with another codebook size: 4x2 = 16 cells, so probes=16
    # now reads every cell and the answer is the exact top-3 — under
    # the stale 8x2 coding it would probe 16 of 64 cells
    client._action(
        "make-coder", name="fresh_ivf", source="freshvecs", column="emb",
        config={**_VEC_CODING, "codebook_size": 4},
    )
    client.sync_index("fresh_ivf", "freshvecs", "emb")
    far = list(map(float, -np.asarray(target)))
    got = client.search(far, "freshvecs", "emb", probes=16, **kw)
    want = client.search(far, "freshvecs", "emb", probes=None, **kw)
    assert got.equals(want)
    assert len(server._cents_cache) >= 2


def test_concurrent_local_point_searches_equal_serial(served, handler_jobs):
    """Two clients × 20 concurrent driver-local searches (the centroid
    cache under the server lock) return exactly their serial answers,
    with no Spark job."""
    import threading

    import numpy as np

    server, client, _ = served
    rng = np.random.default_rng(14)
    client.make_table("concvecs", _vector_table(rng, n=400))
    client.make_index("conc_ivf", "concvecs", "emb", config=_VEC_CODING)
    targets = [list(map(float, v)) for v in rng.normal(size=(20, 8))]

    def search(c, i):
        return c.search(
            targets[i], "concvecs", "emb", coding="conc_ivf", maxval=5,
            probes=16, id_col="vec_id", filter="label = 2" if i % 5 == 4 else None,
        )

    serial = [search(client, i) for i in range(20)]
    server._cents_cache.clear()
    errors: list[BaseException] = []
    got: dict = {}

    def run(c_i):
        try:
            with Client(port=server.port) as c:
                for i in range(20):
                    got[(c_i, i)] = search(c, i)
        except BaseException as e:  # re-raised on main
            errors.append(e)

    def both():
        threads = [threading.Thread(target=run, args=(c_i,)) for c_i in range(2)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)

    jobs = handler_jobs(server)
    assert jobs(both) == 0
    assert not errors, errors
    for (c_i, i), table in got.items():
        assert table.equals(serial[i]), (c_i, i)
    assert len(got) == 40


def test_pinned_shard_schema_comes_from_its_generation(served):
    """A shard ticket planned before a do_put that added a column
    streams its pinned generation's rows and schema, with a filter set
    (a schema key not cached yet) — not the committed generation's."""
    server, client, _ = served
    client.make_table("pinschema", pa.table({"id": pa.array([0, 1, 2], pa.int64())}))
    info = client.conn.get_flight_info(fl.FlightDescriptor.for_path("pinschema"))
    client.make_table(
        "pinschema",
        pa.table(
            {"id": pa.array([5, 6], pa.int64()), "extra": pa.array(["a", "b"])}
        ),
    )
    rows = []
    for ep in info.endpoints:
        spec = json.loads(ep.ticket.ticket.decode())
        spec["filter"] = "id >= 1"
        t = client.conn.do_get(fl.Ticket(json.dumps(spec).encode())).read_all()
        assert t.schema.names == ["id"]
        rows += t.column("id").to_pylist()
    assert sorted(rows) == [1, 2]
