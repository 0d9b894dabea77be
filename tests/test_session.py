"""Session defaults that need no running session."""

import os

from kapra_timeseries_anonymization_spark.session import default_cpus


def test_default_cpus_follows_affinity_unless_set(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3
