"""Session defaults that follow the host."""

from __future__ import annotations

import os

from infofarmsparkml_spark.session import _cpus


def test_cpus_default_to_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert _cpus() == str(len(os.sched_getaffinity(0)))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert _cpus() == "3"
    assert _cpus(2) == "2"
