"""The driver verifies the first 50 ``queries()`` entries:
``registry.build`` must put ``_WINDOW_HEAD`` there, in its order.
tests/test_freshness.py pins what the list contains."""

from __future__ import annotations

from projetos_etl_spark.registry import _WINDOW_HEAD, all_queries


def test_driver_window_matches_coverage_plan():
    assert len(_WINDOW_HEAD) == 50
    assert list(all_queries())[:50] == _WINDOW_HEAD


def test_no_window_name_collisions():
    names = list(all_queries())
    assert len(names) == len(set(names))
