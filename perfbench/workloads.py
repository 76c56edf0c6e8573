"""The workloads: set-up, closed-loop timed window, answer checks and
the traced per-layer breakdown.

Each workload is a class with ``setup()``, ``run(seconds)``,
``check()`` and ``layers()``; ``run.py`` drives them in that order.
Set-up builds everything a user would have before the first timed call
(Spark session, inputs, store, warm-up) and is reported as ``setup_s``.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import threading
import time

import numpy as np

import inputs
from measure import median, tail
from tracing import Span, Tracer, self_times

# ---------------------------------------------------------- settings

# vector store: the reference fixture law and index configuration
# (8 cells x 2 codebooks = 64 cells, l2, probes 16, top 10) at a size
# that builds and answers within one run's time budget on a 4-core host
ANN_ROWS = 20_000
ANN_DIM = 32
CODING = {"codebook_size": 8, "num_codebooks": 2, "max_iter": 5, "metric": "l2"}
PROBES = 16
TOP_K = 10
QUERY_POOL = 512
POINT_CLIENTS = min(2, os.cpu_count() or 1)  # never more clients than cores
WARM_CALLS = 10
BATCH_TARGETS = 64
DOCS = 4_000
# mean recall@10 below this is a wrong answer (probing 16 of 64 cells
# reads 1.0 on this data)
RECALL_FLOOR = 0.5

TABLE, COLUMN, CODER = "vecs", "embedding", "ivf"


class Result:
    """What a timed window produced: per-operation latencies, items
    answered, and failures (exceptions and failed checks)."""

    def __init__(self) -> None:
        self.latencies: list[float] = []
        self.items = 0
        self.failed = 0
        self.window_s = 0.0
        self.errors = 0
        self.checked = 0
        self.notes: list[str] = []

    @property
    def attempted(self) -> int:
        """Answers checked (a search, a batch query vector, a curated
        output, the set-up readback) plus calls that raised."""
        return self.checked + self.errors


class Workload:
    name = ""

    def __init__(self, env, seed: int, tracer: Tracer | None) -> None:
        self.env = env
        self.seed = seed
        self.tracer = tracer
        self.setup_parts: dict[str, float] = {}
        self.detail: dict[str, object] = {}
        self.result = Result()
        self.op_spans: list[Span] = []
        self._rids = itertools.count()

    # -- helpers

    def span(self, name: str, **kw):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, **kw)

    def timed_part(self, key: str, fn):
        t0 = time.perf_counter()
        out = fn()
        self.setup_parts[key] = self.setup_parts.get(key, 0.0) + time.perf_counter() - t0
        return out

    def fail(self, why: str) -> None:
        self.result.failed += 1
        if len(self.result.notes) < 20:
            self.result.notes.append(why)

    def closed_loop(self, seconds: float, clients: int, call) -> None:
        """``clients`` threads, each calling ``call(client_no, i)`` back
        to back until the window closes; ``call`` returns the number of
        items it answered. Latency is recorded per call."""
        res = self.result
        lock = threading.Lock()
        start = time.perf_counter()
        deadline = start + seconds
        last_end = [start]
        errors = []

        def loop(c: int) -> None:
            i = c
            while time.perf_counter() < deadline:
                t0 = time.perf_counter()
                try:
                    n = call(c, i)
                except Exception as exc:  # noqa: BLE001 - counted and reported
                    with lock:
                        errors.append(repr(exc)[:300])
                    i += clients
                    continue
                t1 = time.perf_counter()
                with lock:
                    res.latencies.append(t1 - t0)
                    res.items += n
                    last_end[0] = max(last_end[0], t1)
                i += clients

        threads = [threading.Thread(target=loop, args=(c,), daemon=True) for c in range(clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=seconds + 150)
            if t.is_alive():
                raise RuntimeError("client thread did not finish within the run budget")
        res.window_s = last_end[0] - start
        res.errors = len(errors)
        res.failed += len(errors)
        res.notes.extend(errors[:5])

    # -- reporting

    def e2e(self) -> dict[str, float]:
        lat_ms = [x * 1000.0 for x in self.result.latencies]
        return {
            "latency_p50_ms": median(lat_ms),
            "throughput_per_s": self.result.items / self.result.window_s,
        }

    def ops(self) -> int:
        return max(1, len(self.result.latencies))

    def close(self) -> None:
        pass


# ====================================================== vector search


class _AnnStore(Workload):
    """Shared set-up of ann_point and ann_batch: upload the vectors
    through Flight do_put, train the coder and write the IVF index
    (make-coder + make-index actions), then read the indexed layout
    back through parallel do_get and check row count and id checksum."""

    clients = 1

    def setup(self) -> None:
        from fenix_spark.flight import Client, Server

        env = self.env
        with self.span("setup.datagen"):
            self.vec = self.timed_part(
                "setup.datagen_s", lambda: inputs.make_vectors(self.seed, ANN_ROWS, ANN_DIM)
            )
            self.queries = inputs.make_queries(self.seed, self.vec, QUERY_POOL)
            self.labels = inputs.query_labels(self.seed, QUERY_POOL)
            table = self.vec.arrow()
        t_build = time.perf_counter()
        self.server = Server(env.spark, env.store_root)
        self.setup_client = Client(port=self.server.port)
        if self.tracer is not None:
            self._trace_server()
            self._register(self.setup_client)
        with self.span("setup.store_build"):
            t0 = time.perf_counter()
            with self.client_span(self.setup_client, "flight.put"):
                self.setup_client.make_table(TABLE, table)
            put_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            with self.client_span(self.setup_client, "flight.make_index"):
                self.setup_client.make_index(CODER, TABLE, COLUMN, config=CODING)
            build_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            with self.client_span(self.setup_client, "flight.get"):
                back = self.setup_client.read_table_parallel(
                    TABLE, coding=CODER, column=COLUMN, max_workers=4
                )
            get_s = time.perf_counter() - t0
        self.setup_parts["setup.store_build_s"] = time.perf_counter() - t_build
        n_back = back.num_rows
        self.result.checked += 1
        ids = back.column("vec_id").to_numpy()
        if n_back != ANN_ROWS or inputs.id_checksum(ids) != inputs.id_checksum(self.vec.ids):
            self.fail(f"readback: {n_back} rows / checksum mismatch (want {ANN_ROWS})")
        stats = self.server.last_get_stats or {}
        self.detail.update(
            {
                "ingest_rows_s": (ANN_ROWS / put_s, "rows/s"),
                "index_build_s": (build_s, "s"),
                "readback_rows_s": (n_back / get_s, "rows/s"),
                "flight.put_s": (put_s, "s"),
                "flight.put_mb": (table.nbytes / 2**20, "MB"),
                "flight.get_s": (get_s, "s"),
                "flight.get_mb": (back.nbytes / 2**20, "MB"),
                "flight.get_batches": (sum(c.num_chunks for c in back.columns[:1]), "count"),
                "flight.get_spooled": (int(bool(stats.get("spooled"))), "bool"),
            }
        )
        del back
        self.clients_ = [Client(port=self.server.port) for _ in range(self.clients)]
        if self.tracer is not None:
            for c in self.clients_:
                self._register(c)
        self.warm()

    def close(self) -> None:
        for c in getattr(self, "clients_", []) + [getattr(self, "setup_client", None)]:
            if c is not None:
                c.close()
        if getattr(self, "server", None) is not None:
            self.server.shutdown()

    def finish_recall(self, recalls) -> None:
        r = float(np.mean(recalls)) if recalls else 0.0
        self.detail["recall_at_10"] = (r, "ratio")
        if r < RECALL_FLOOR:
            self.fail(f"mean recall@10 {r:.3f} below {RECALL_FLOOR}")

    def search(self, client, q, flt=None):
        return client.search(
            q.tolist(), TABLE, COLUMN, coding=CODER, filter=flt,
            maxval=TOP_K, probes=PROBES, id_col="vec_id",
        )

    # -- tracing: Flight handlers run on gRPC threads; their spans are
    # parented to the client call through the connection's peer string

    def _trace_server(self) -> None:
        tr = self.tracer
        self._peer_of: dict[str, int] = {}
        self._inflight: dict[int, Span] = {}
        self._registering: int | None = None
        impl = type(self.server._impl)
        wl = self

        def parent_for(ctx):
            key = wl._peer_of.get(ctx.peer())
            return wl._inflight.get(key) if key is not None else None

        orig_exchange = impl.do_exchange
        orig_action = impl.do_action

        def do_exchange(self_, ctx, descriptor, reader, writer):
            with tr.span("flight.exchange", parent=parent_for(ctx)):
                return orig_exchange(self_, ctx, descriptor, reader, writer)

        def do_action(self_, ctx, action):
            if wl._registering is not None and action.type == "list-tables":
                wl._peer_of[ctx.peer()] = wl._registering
            with tr.span("flight.action", parent=parent_for(ctx), kind=action.type):
                yield from orig_action(self_, ctx, action)

        impl.do_exchange = do_exchange
        impl.do_action = do_action
        wrap_layers(tr)

    def _register(self, client) -> None:
        self._registering = id(client)
        client.list_tables()
        self._registering = None

    @contextlib.contextmanager
    def client_span(self, client, name: str, **kw):
        """A span for a client call; server-side spans of the call on
        this client's connection become its children."""
        if self.tracer is None:
            yield None
            return
        with self.tracer.span(name, **kw) as s:
            self._inflight[id(client)] = s
            yield s

    def traced_call(self, client, fn):
        """Run ``fn`` as the client's in-flight request (root span)."""
        if self.tracer is None:
            return fn()
        with self.client_span(client, "op." + self.name, rid=next(self._rids)) as s:
            try:
                return fn()
            finally:
                self.op_spans.append(s)

    # -- per-layer figures shared by both ann workloads

    def index_layout(self):
        """(cell -> row count, cell -> file count, total files) of the
        written index, from parquet footers."""
        import pyarrow.parquet as pq

        from fenix_spark import catalog
        from fenix_spark.operators.index import CODE_COL

        root = catalog.index_path(self.env.store_root, TABLE, COLUMN, CODER)
        rows: dict[int, int] = {}
        files: dict[int, int] = {}
        for d in os.listdir(root):
            if not d.startswith(CODE_COL + "="):
                continue
            cell = int(d.split("=", 1)[1])
            for f in os.listdir(os.path.join(root, d)):
                if f.endswith(".parquet"):
                    files[cell] = files.get(cell, 0) + 1
                    rows[cell] = rows.get(cell, 0) + pq.ParquetFile(os.path.join(root, d, f)).metadata.num_rows
        return rows, files, sum(files.values())

    def probed_cells(self, q) -> list[int]:
        from fenix_spark.operators.coder import rank_cells

        if not hasattr(self, "_coding"):
            from fenix_spark.store import Store

            self._coding = Store(self.env.spark, self.env.store_root).read_coder(CODER)
        return rank_cells(self._coding, q, limit=PROBES)


class AnnPoint(_AnnStore):
    """Single-target searches from 2 closed-loop clients; 1 call in 5
    adds a ``label = x`` filter."""

    name = "ann_point"
    clients = POINT_CLIENTS

    def warm(self) -> None:
        """WARM_CALLS searches per client, concurrently, as in the window:
        latency keeps falling for dozens of calls while the JVM compiles
        the hot paths."""

        def loop(c: int) -> None:
            for i in range(WARM_CALLS):
                self.search(self.clients_[c], self.queries[-1 - i], "label = 0" if i % 5 == 4 else None)

        threads = [threading.Thread(target=loop, args=(c,)) for c in range(self.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    def run(self, seconds: float) -> None:
        self.answers: list[tuple[int, object]] = []
        lock = threading.Lock()

        def call(c: int, i: int) -> int:
            j = i % QUERY_POOL
            lab = int(self.labels[j])
            flt = f"label = {lab}" if lab >= 0 else None
            client = self.clients_[c]
            out = self.traced_call(client, lambda: self.search(client, self.queries[j], flt))
            with lock:
                self.answers.append((j, out))
            return 1

        self.closed_loop(seconds, self.clients, call)

    def check(self) -> None:
        recalls = []
        for j, out in self.answers:
            self.result.checked += 1
            ids = out.column("vec_id").to_pylist()
            lab = int(self.labels[j])
            bad = len(ids) != TOP_K or len(set(ids)) != len(ids)
            if lab >= 0 and any(v != lab for v in out.column("label").to_pylist()):
                bad = True
            if bad:
                self.fail(f"query {j}: {len(ids)} rows, {len(set(ids))} unique ids")
                continue
            recalls.append(inputs.recall(ids, inputs.exact_topk(self.vec, self.queries[j], TOP_K, lab)))
        self.finish_recall(recalls)

    def named_e2e(self) -> dict:
        lat = [x * 1000 for x in self.result.latencies]
        t = tail(lat, (99.0, 90.0, 75.0))
        return {
            "search_p50_ms": (median(lat), "ms"),
            "search_p99_ms": (t[1] if t and t[0] == 99.0 else None, f"ms ({len(lat)} samples; p99 needs 1010)"),
            "search_tail_ms": (t[1] if t else None, f"ms (p{t[0]:g}, {len(lat)} samples)" if t else "ms"),
            "search_qps": (self.result.items / self.result.window_s, "1/s"),
        }

    def layers(self) -> dict:
        tr = self.tracer
        out = {}
        by_rid: dict[int, list[Span]] = {}
        for s in tr.spans:
            if s.rid is not None:
                by_rid.setdefault(s.rid, []).append(s)
        wire = []
        for op in self.op_spans:
            inner = sum(s.duration for s in by_rid.get(op.rid, ()) if s.name in ("store.search", "engine.to_arrow"))
            wire.append((op.duration - inner) * 1000)
        ops = len(self.op_spans) or 1
        per = _per_op(tr.spans, ops)
        rows, files, total_files = self.index_layout()
        cells = [s.attrs.get("cells", ()) for s in tr.spans if s.name == "coder.rank_cells" and s.rid is not None]
        scanned_files = [sum(files.get(c, 0) for c in cs) for cs in cells]
        scanned_rows = [sum(rows.get(c, 0) for c in cs) for cs in cells]
        out.update(
            {
                "flight.wire_ms": (median(wire) if wire else None, "ms"),
                "store.read_table_ms": (per("store.read_table"), "ms"),
                "store.read_coder_ms": (per("store.read_coder"), "ms"),
                "coder.rank_cells_ms": (per("coder.rank_cells"), "ms"),
                "index.probe_plan_ms": (per("index.probe_plan"), "ms"),
                "index.probe_exec_ms": (per("engine.to_arrow"), "ms"),
                "index.files_scanned_ratio": (
                    float(np.mean(scanned_files)) / total_files if scanned_files else None,
                    f"ratio of {total_files} files",
                ),
                "index.rows_scanned_per_result": (
                    float(np.mean(scanned_rows)) / TOP_K if scanned_rows else None, "rows",
                ),
            }
        )
        return out


class AnnBatch(_AnnStore):
    """Batched searches, ``BATCH_TARGETS`` targets per call, one
    closed-loop client: do_exchange → batch_probe_search."""

    name = "ann_batch"

    def batch(self, i: int) -> np.ndarray:
        start = (i * BATCH_TARGETS) % QUERY_POOL
        return np.arange(start, start + BATCH_TARGETS) % QUERY_POOL

    def warm(self) -> None:
        c = self.clients_[0]
        c.search(self.queries[:8].tolist(), TABLE, COLUMN, coding=CODER,
                 maxval=TOP_K, probes=PROBES, id_col="vec_id")

    def run(self, seconds: float) -> None:
        self.answers = []

        def call(c: int, i: int) -> int:
            idx = self.batch(i)
            client = self.clients_[c]
            out = self.traced_call(
                client,
                lambda: client.search(
                    self.queries[idx].tolist(), TABLE, COLUMN, coding=CODER,
                    maxval=TOP_K, probes=PROBES, id_col="vec_id",
                ),
            )
            self.answers.append((idx, out))
            return len(idx)

        self.closed_loop(seconds, 1, call)

    def check(self) -> None:
        recalls = []
        for idx, out in self.answers:
            qi = out.column("query_index").to_numpy()
            ids = out.column("vec_id").to_numpy()
            for k, j in enumerate(idx):
                self.result.checked += 1
                got = ids[qi == k].tolist()
                if len(got) != TOP_K or len(set(got)) != TOP_K:
                    self.fail(f"batch query {j}: {len(got)} rows, {len(set(got))} unique ids")
                    continue
                recalls.append(inputs.recall(got, inputs.exact_topk(self.vec, self.queries[j], TOP_K)))
        self.finish_recall(recalls)

    def named_e2e(self) -> dict:
        lat = [x * 1000 for x in self.result.latencies]
        t = tail(lat, (90.0,))
        return {
            "batch_qps": (self.result.items / self.result.window_s, "1/s"),
            "batch_p50_ms": (median(lat), "ms"),
            "batch_p90_ms": (t[1] if t else None, "ms"),
        }

    def layers(self) -> dict:
        ops = len(self.op_spans) or 1
        per = _per_op(self.tracer.spans, ops)
        rows, _, _ = self.index_layout()
        cand = []
        for idx, _ in self.answers[:4]:
            cand.append(sum(rows.get(c, 0) for j in idx for c in self.probed_cells(self.queries[j])))
        return {
            "index.batch_plan_ms": (per("index.batch_plan"), "ms"),
            "index.batch_exec_ms": (per("engine.to_arrow"), "ms"),
            "index.batch_candidate_rows": (float(np.mean(cand)) if cand else None, "rows per call"),
        }


# =========================================================== curation


class Curate(Workload):
    """``run_pipeline(docs, standard_curation("text", "doc_id"),
    audit=False)`` written to parquet, one closed-loop caller on the
    direct API."""

    name = "curate"

    def setup(self) -> None:
        from fenix_spark.store import Store

        env = self.env
        with self.span("setup.datagen"):
            self.docs = self.timed_part("setup.datagen_s", lambda: inputs.make_docs(self.seed, DOCS))
        if self.tracer is not None:
            wrap_layers(self.tracer)
        self.store = Store(env.spark, env.store_root)
        with self.span("setup.store_build"):
            t0 = time.perf_counter()
            self.store.make_table("docs", env.spark.createDataFrame(self.docs.arrow()))
            self.setup_parts["setup.store_build_s"] = time.perf_counter() - t0
        self.outputs: list[str] = []
        # one full-size run: a smaller warm-up left the first timed run
        # 20-50% slower than the rest
        self.curate_once(os.path.join(env.store_root, "out-warm"))

    def curate_once(self, out: str) -> None:
        from fenix_spark import recipes

        df = self.store.read_table("docs")
        cur, _ = recipes.run_pipeline(df, recipes.standard_curation("text", "doc_id"), audit=False)
        cur.write.mode("overwrite").parquet(out)

    def run(self, seconds: float) -> None:
        def call(c: int, i: int) -> int:
            out = os.path.join(self.env.store_root, f"out-{i}")
            if self.tracer is None:
                self.curate_once(out)
            else:
                with self.tracer.span("op.curate", rid=i) as s:
                    self.curate_once(out)
                self.op_spans.append(s)
            self.outputs.append(out)
            return DOCS

        self.closed_loop(seconds, 1, call)

    def check(self) -> None:
        import pyarrow.dataset as ds

        d = self.docs
        for out in self.outputs:
            self.result.checked += 1
            t = ds.dataset(out, format="parquet").to_table(columns=["doc_id", "text"])
            kept = set(t.column("doc_id").to_pylist())
            problems = []
            if not (d.originals | d.far) <= kept:
                problems.append(f"{len((d.originals | d.far) - kept)} originals/far variants dropped")
            leaked = (d.exact_dups | d.swap_dups) & kept
            if leaked:
                problems.append(f"{len(leaked)} exact/swap duplicates kept")
            edits_kept = len(d.edit_dups & kept)
            if len(d.edit_dups) - edits_kept < inputs.EDIT_RECALL_FLOOR * len(d.edit_dups):
                problems.append(f"{edits_kept} of {len(d.edit_dups)} edited near-duplicates kept")
            words = set()
            for text in t.column("text").to_pylist():
                words.update(text.split())
            if words & d.pii:
                problems.append(f"{len(words & d.pii)} planted PII tokens remain")
            if problems:
                self.fail(f"{out}: " + "; ".join(problems))
            self.detail["curate_kept"] = (len(kept), f"docs (planted floor {d.expected_kept})")

    def named_e2e(self) -> dict:
        return {"curate_docs_s": (self.result.items / self.result.window_s, "docs/s")}

    def layers(self) -> dict:
        """Each curation operator materialized on its own (to the noop
        sink) after the timed window, with the Spark stage actuals of
        the window itself."""
        from fenix_spark.functions import scrub
        from fenix_spark.operators import components, dedup
        from pyspark.sql import functions as F

        df = self.store.read_table("docs")
        out = {}

        def timed(key, fn):
            t0 = time.perf_counter()
            r = fn()
            out[key] = (time.perf_counter() - t0, "s")
            return r

        def noop(frame):
            frame.write.format("noop").mode("overwrite").save()

        timed("dedup.exact_s", lambda: noop(dedup.exact_dedup_by_hash(df, "text", "doc_id")))
        captured = []
        orig = dedup.lsh_candidates

        def keep(*args, **kwargs):
            captured.append(orig(*args, **kwargs))
            return captured[-1]

        dedup.lsh_candidates = keep
        try:
            pairs = dedup.minhash_neardup_pairs(df, "text", "doc_id", 0.95)
        finally:
            dedup.lsh_candidates = orig
        pairs = timed("dedup.minhash_pairs_s", lambda: pairs.localCheckpoint())
        # candidates are pairs of group representatives; the verified
        # ones are those that survive into the output pairs
        cand_df = captured[0].select(
            F.least("id_l", "id_r").alias("id_l"), F.greatest("id_l", "id_r").alias("id_r")
        ).distinct()
        cand = cand_df.count()
        verified = pairs.join(cand_df, ["id_l", "id_r"], "left_semi").count()
        out["dedup.candidate_pairs"] = (cand, "pairs")
        out["dedup.verified_pairs"] = (verified, "pairs")
        out["dedup.output_pairs"] = (pairs.count(), "pairs")
        out["dedup.pair_precision"] = (verified / cand if cand else None, f"ratio of {cand} candidates")
        timed("components.keep_list_s", lambda: noop(components.dedup_keep_list(df, pairs, "doc_id", "id_l", "id_r")))
        timed("scrub.redact_s", lambda: noop(df.select(scrub.redact_pii(F.col("text")).alias("text"))))
        return out


# ------------------------------------------------------------ helpers


def _per_op(spans: list[Span], ops: int):
    """ms per timed op spent in spans of one name (inside op trees)."""

    def per(name: str) -> float:
        return 1000.0 * sum(s.duration for s in spans if s.name == name and s.rid is not None) / ops

    return per


def wrap_layers(tr: Tracer) -> None:
    """Spans around the public entry points of each layer."""
    from pyspark.sql import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    from fenix_spark import recipes, store
    from fenix_spark.functions import scrub
    from fenix_spark.operators import components, dedup, index

    def cells(s, args, kwargs, result):
        s.attrs["cells"] = list(result)

    tr.wrap(store.Store, "read_table", "store.read_table")
    tr.wrap(store.Store, "read_coder", "store.read_coder")
    tr.wrap(store.Store, "search", "store.search")
    tr.wrap(store.Store, "make_table", "store.make_table")
    tr.wrap(store.Store, "make_coder", "store.make_coder")
    tr.wrap(store.Store, "make_index", "store.make_index")
    tr.wrap(store, "train_coding", "coder.train")
    tr.wrap(index, "rank_cells", "coder.rank_cells", on_result=cells)
    tr.wrap(index, "probe_search", "index.probe_plan")
    tr.wrap(index, "batch_probe_search", "index.batch_plan")
    tr.wrap(index, "build_index", "index.build")
    tr.wrap(recipes, "run_pipeline", "recipes.run_pipeline")
    tr.wrap(dedup, "exact_dedup_by_hash", "dedup.exact")
    tr.wrap(dedup, "minhash_neardup_pairs", "dedup.minhash_pairs")
    tr.wrap(components, "dedup_keep_list", "components.keep_list")
    tr.wrap(scrub, "redact_pii", "scrub.redact")
    for cls in {DataFrame, *_concrete_frames()}:
        if "toArrow" in vars(cls):
            tr.wrap(cls, "toArrow", "engine.to_arrow")
    tr.wrap(DataFrameWriter, "parquet", "engine.write_parquet")


def _concrete_frames():
    try:
        from pyspark.sql.classic.dataframe import DataFrame as Classic

        return [Classic]
    except ImportError:
        return []


def window_layer_metrics(wl: Workload, spans: list[Span]) -> dict[str, float]:
    """Self time per timed op (ms) of three groups: ``engine`` (Spark
    executing the result: toArrow, parquet writes), ``fenix`` (inside
    the fenix_spark layer calls: store, coder, index, recipes, dedup,
    components, scrub — plan building plus any job a layer runs
    itself) and ``call`` (the rest of the call: client, gRPC transport
    and the Flight handler's own work)."""
    op_sids = {s.sid for s in wl.op_spans}
    st = self_times(spans)
    ops = wl.ops()
    inside = [s for s in spans if s.rid is not None and s.sid not in op_sids]
    engine = sum(st[s.sid] for s in inside if s.layer == "engine")
    fenix = sum(st[s.sid] for s in inside if s.layer not in ("engine", "flight", "op"))
    flight = sum(st[s.sid] for s in inside if s.layer == "flight")
    root = sum(st[s.sid] for s in wl.op_spans)
    return {
        "engine.self_ms_per_op": 1000 * engine / ops,
        "fenix.self_ms_per_op": 1000 * fenix / ops,
        "call.self_ms_per_op": 1000 * (root + flight) / ops,
        "trace.spans_per_op": len(inside + wl.op_spans) / ops,
    }

