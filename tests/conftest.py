from __future__ import annotations

import itertools
import os

import pytest

from fenix_spark.session import get_session

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF01_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_session("fenix_spark_tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture(scope="session")
def documents(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="session")
def events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet")


_JOB_GROUPS = itertools.count()


@pytest.fixture()
def handler_jobs(spark, monkeypatch):
    """``handler_jobs(server)`` → ``jobs(call)``: the number of Spark
    jobs a Flight server's do_get, get_flight_info and do_exchange
    handlers ran during ``call()``. Handlers run on gRPC threads, so
    each of the server's handlers is wrapped to tag its own thread
    with the call's job group; a control job in a second group is
    awaited afterwards (listener events arrive in order, so once it is
    visible every job of the call is too)."""
    import time

    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    current = {}

    def tagged(handler):
        def run(*args):
            group = current.get("group")
            if group is None:  # a call outside jobs()
                return handler(*args)
            sc.setJobGroup(group, group)
            try:
                return handler(*args)
            finally:
                for key in keys:
                    sc.setLocalProperty(key, None)

        return run

    def bind(server):
        impl = type(server._impl)
        for verb in ("do_get", "get_flight_info", "do_exchange"):
            monkeypatch.setattr(impl, verb, tagged(getattr(impl, verb)))

        def jobs(call) -> int:
            # unique for the whole session: the status tracker keeps
            # the jobs of earlier tests' groups
            group = current["group"] = f"flight-call-{next(_JOB_GROUPS)}"
            try:
                call()
            finally:
                current["group"] = None
            try:
                sc.setJobGroup(group + "-control", group)
                spark.range(1).collect()
                deadline = time.time() + 30
                while not sc.statusTracker().getJobIdsForGroup(group + "-control"):
                    assert time.time() < deadline, "status tracker never saw the control job"
                    time.sleep(0.05)
            finally:
                for key in keys:
                    sc.setLocalProperty(key, None)
            return len(sc.statusTracker().getJobIdsForGroup(group))

        return jobs

    return bind
