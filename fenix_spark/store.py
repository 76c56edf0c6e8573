"""``Store`` — the one-object client façade mirroring the reference's
Flight client verb-for-verb (ref: src/fenix/flight.py:149-292), so a
reference user's call sites translate mechanically:

    reference Flight client          →  Store
    --------------------------------    --------------------------------
    make_table(name, data)              make_table(name, df)
    read_table(names, coding, column,   read_table(names, coding=...,
               filter, select)                     column=..., filter=...,
                                                   select=...)
    search(source, column, target,      search(...) — same keywords,
           metric, filter, select,      same semantics, deterministic
           maxval, coding, probes)      id tiebreak added
    make_coder(name, source, column,    make_coder(...)
               config)
    make_index(source, column, coding)  make_index(...)
    list/drop (tables/coders/indexes)   list_*/drop_* methods
    'remove' action                     remove()

The façade owns NO logic: every verb delegates to the module-level
operators (catalog / coder / index / search), which stay the primary
API. The gRPC transport is deliberately absent — the Spark driver API
is the process boundary (SURVEY.md §2.1 S7/S8).

Where the reference keeps per-connection server STATE for read_table
(set-coding/set-filter actions, flight.py:168-189), here each call is
a pure function of its arguments over one lazy plan — no session
state to leak between calls.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession

from fenix_spark import catalog
from fenix_spark.operators.coder import CodingConfig, read_coding, train_coding


class Store:
    """A named parquet store rooted at ``root`` (the catalog layout:
    ``sources/ codings/ indexes/``)."""

    def __init__(self, spark: SparkSession, root: str):
        from fenix_spark.session import ensure_package_shipped

        ensure_package_shipped(spark)  # foreign sessions: workers must import us
        self.spark = spark
        self.root = root

    # ------------------------------------------------------- tables

    def make_table(
        self, name: str, df: DataFrame, partition_by: Sequence[str] = ()
    ) -> None:
        """ref: client make_table → table.make (table.py:24-26)."""
        catalog.make(self.root, name, df, partition_by)

    def read_table(
        self,
        name: str | Sequence[str],
        coding: str | None = None,
        column: str | None = None,
        filter: Column | None = None,  # noqa: A002 - reference kwarg
        select: Sequence[str] | None = None,
    ) -> DataFrame:
        """ref: client read_table → do_get (flight.py:160-191,46-60).
        ``coding`` + ``column`` reads the INDEXED layout (the
        co-written ``__CODED_ID__`` table — the Spark replacement for
        the reference's positional h-stack, SURVEY §1.3); a list of
        names union-alls, as the reference does."""
        if coding is not None:
            if column is None or not isinstance(name, str):
                raise ValueError(
                    "read_table with coding= needs a single table name "
                    "and the indexed column="
                )
            df = self.spark.read.parquet(
                catalog.index_path(self.root, name, column, coding)
            )
        else:
            df = catalog.load(self.spark, self.root, name)
        if filter is not None:
            df = df.where(filter)
        if select is not None:
            df = df.select(*select)
        return df

    def list_tables(self) -> list[str]:
        return list(catalog.list_tables(self.root))

    def drop_table(self, name: str) -> None:
        catalog.drop(self.root, name)

    # ------------------------------------------------------- coders

    def make_coder(
        self,
        name: str,
        source: str,
        column: str,
        config: CodingConfig | None = None,
    ) -> None:
        """ref: 'make-coder' action → coder.make (coder.py:94-127).
        Trains the PQ codebook on the named table's column and stores
        the centroid table as plain parquet (readable by any engine —
        the reference's torch pickle is the one layout NOT kept)."""
        df = catalog.load(self.spark, self.root, source)
        coding = train_coding(df, column, config or CodingConfig())
        coding.coalesce(1).write.mode("overwrite").parquet(
            catalog.coding_path(self.root, name)
        )

    def import_coder(self, name: str, torch_path: str) -> None:
        """Torch-free import of a reference ``.torch`` coding
        (sources/torchpickle): the reference's trained centroids land
        as this store's coding table — no torch, no retrain. The
        switching-path counterpart of ``make_coder``."""
        from fenix_spark.sources.torchpickle import import_reference_coding

        import_reference_coding(
            self.spark, torch_path, catalog.coding_path(self.root, name)
        )

    def read_coder(self, name: str) -> DataFrame:
        """The named coding as a driver-local frame (coder.read_coding):
        reading it and collecting it run no Spark job."""
        return read_coding(self.spark, catalog.coding_path(self.root, name))

    def list_coders(self) -> list[str]:
        base = os.path.join(self.root, "codings")
        if not os.path.isdir(base):
            return []
        return sorted(e for e in os.listdir(base) if not e.startswith("_"))

    def drop_coder(self, name: str) -> None:
        """ref: coder.drop (coder.py:130-140)."""
        path = catalog.coding_path(self.root, name)
        if os.path.isdir(path):
            shutil.rmtree(path)

    # ------------------------------------------------------ indexes

    def make_index(self, source: str, column: str, coding: str) -> None:
        """ref: 'make-index' action → index.make (index.py:37-65):
        assign every row its joint cell and write partitioned by the
        code, so probe search prunes PHYSICALLY."""
        from fenix_spark.operators.index import build_index

        df = catalog.load(self.spark, self.root, source)
        build_index(
            df,
            column,
            self.read_coder(coding),
            catalog.index_path(self.root, source, column, coding),
        )

    def list_indexes(self) -> list[tuple[str, str, str]]:
        """(source, column, coding) triples (ref: index.list,
        index.py:68-78)."""
        base = os.path.join(self.root, "indexes")
        out = []
        if not os.path.isdir(base):
            return out
        for src in sorted(os.listdir(base)):
            for col in sorted(os.listdir(os.path.join(base, src))):
                for cod in sorted(os.listdir(os.path.join(base, src, col))):
                    out.append((src, col, cod))
        return out

    def drop_index(self, source: str, column: str, coding: str) -> None:
        path = catalog.index_path(self.root, source, column, coding)
        if os.path.isdir(path):
            shutil.rmtree(path)

    # ------------------------------------------------------- search

    def search(
        self,
        source: str,
        column: str,
        target: Sequence[float],
        metric: str = "l2",
        filter: Column | None = None,  # noqa: A002 - reference kwarg
        select: Sequence[str] | None = None,
        maxval: int = 10,
        coding: str | None = None,
        probes: int | None = None,
        id_col: str | None = None,
    ) -> DataFrame:
        """ref: client search → do_exchange → io.index.call
        (flight.py:242-288, index.py:81-170). Without ``coding``:
        brute-force KNN (C1). With ``coding`` (+ ``probes``): IVF
        probe search over the indexed layout (C2) — the probe mask
        becomes physical partition pruning. Ties break on ``id_col``
        when given (stricter than the reference's unstable select_k).
        This is always a Spark plan; the Flight server answers a
        single-target coded search on the driver instead when the
        probed cells fit its budget (``Server._local_search``), with
        the same ids, distance bits and schema."""
        if coding is None:
            from fenix_spark.operators.search import knn

            df = catalog.load(self.spark, self.root, source)
            return knn(
                df, column, target, metric=metric, k=maxval,
                filter=filter, select=select, id_col=id_col,
            )
        from fenix_spark.operators.index import probe_search

        indexed = self.read_table(source, coding=coding, column=column)
        return probe_search(
            indexed, self.read_coder(coding), column, target,
            metric=metric, k=maxval, probes=probes,
            filter=filter, select=select, id_col=id_col,
        )

    # -------------------------------------------------------- store

    def remove(self) -> None:
        """ref: the 'remove' action (flight.py:102-103)."""
        catalog.remove(self.root)
