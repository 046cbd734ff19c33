"""``bench.time_builds``: each shared build is timed in ``BUILD_SESSIONS``
fresh sessions (median and min), and a build that raises is recorded
with its error string instead of vanishing. No Spark: the session and
both builds are stubs."""

from __future__ import annotations

from unittest import mock

from mcas_question2_etl_spark import catalog, session
from mcas_question2_etl_spark.plans import data_pipeline, graph_specs


def test_time_builds_records_timings_and_errors(monkeypatch):
    import bench

    sessions = []
    monkeypatch.setattr(
        session, "get_spark", lambda **_: sessions.append(mock.MagicMock()) or sessions[-1]
    )
    monkeypatch.setattr(catalog, "TABLES", ())

    def broken(spark, sf_dir):
        raise RuntimeError("no co-purchase edges")

    monkeypatch.setattr(graph_specs, "copurchase_edges", broken)
    monkeypatch.setattr(data_pipeline, "_neardup_components", lambda spark, sf_dir: mock.MagicMock())

    builds = bench.time_builds("sf")

    assert len(sessions) == bench.BUILD_SESSIONS
    assert all(s.stop.call_count == 1 for s in sessions)
    assert builds["copurchase_edges_build"] == {
        "error": "RuntimeError: no co-purchase edges", "sessions": 0,
    }
    nd = builds["neardup_components_build"]
    assert nd["sessions"] == bench.BUILD_SESSIONS and 0 <= nd["min"] <= nd["median"]
    assert "error" not in nd
