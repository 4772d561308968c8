"""Session tuning under misuse: a malformed shuffle-partition override and a
session without a SparkContext (Spark Connect)."""

from types import SimpleNamespace

import pytest

from temporalvault_spark.session import _ship_package, _shuffle_partitions, tune


class _NoContextSession:
    """A session whose ``sparkContext`` raises, as on Spark Connect."""

    def __init__(self):
        self.confs = {}
        self.conf = SimpleNamespace(set=self.confs.__setitem__)

    @property
    def sparkContext(self):
        raise RuntimeError("no SparkContext on this session")


def test_shuffle_partitions_override_must_be_a_positive_int(monkeypatch):
    session = _NoContextSession()
    for bad in ("0", "-4", "abc", "1.5", " "):
        monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", bad)
        # raised through tune(), not swallowed into its static fallback
        with pytest.raises(ValueError, match="SPARK_GRAFT_SHUFFLE_PARTITIONS"):
            tune(session)
    assert session.confs == {}  # refused before any conf was set
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "12")
    assert _shuffle_partitions(session) == 12


def test_tune_and_ship_package_without_spark_context(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
    session = _NoContextSession()
    _ship_package(session)  # nothing to ship to, and no error
    assert tune(session) is session
    assert session.confs["spark.sql.session.timeZone"] == "UTC"
    assert session.confs["spark.sql.shuffle.partitions"] == "64"
