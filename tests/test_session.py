"""Session factory: SPARK_GRAFT_CPUS is validated where the session is
built, naming the variable, instead of failing deep inside Spark."""

from __future__ import annotations

import pytest

from amadou_spark.session import default_master, get_spark


@pytest.mark.parametrize("value", ["", "0", "abc"])
def test_bad_cpus_env_fails_when_the_session_is_built(monkeypatch, value):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        get_spark("amadou-bad-cpus")


def test_cpus_env_sets_the_local_master(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_master() == "local[3]"
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert default_master() == "local[*]"
