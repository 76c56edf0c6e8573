"""The package's export table: ``__all__`` is exactly the eager session
helpers plus the lazy ``_HOMES`` map, and every name resolves."""

from __future__ import annotations

import fenix_spark

SESSION = {"get_session", "tune_session", "recommend_confs", "apply_confs"}


def test_all_equals_session_plus_homes():
    assert len(fenix_spark.__all__) == len(set(fenix_spark.__all__))
    assert set(fenix_spark.__all__) == SESSION | set(fenix_spark._HOMES)


def test_every_export_resolves():
    for name in fenix_spark.__all__:
        assert getattr(fenix_spark, name) is not None, name
