"""Session defaults that follow the machine; no session is started."""

from __future__ import annotations

from sneaky_data_matcher_spark import session


def test_cpus_resolution_order(monkeypatch):
    monkeypatch.setattr(session.os, "cpu_count", lambda: 6)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session._cpus(2) == 2  # the argument wins
    assert session._cpus() == 3  # then $SPARK_GRAFT_CPUS
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert session._cpus() == 6  # then the machine's CPU count
