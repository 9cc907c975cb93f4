"""Session-conf contracts: the shuffle codec is an env knob with the
small-data default — lz4 keeps KB-to-MB local shuffles cheap;
PYDIN_SHUFFLE_CODEC=zstd is the documented production value for
GB-per-stage shuffles (halved bytes, measured at the 100x replica).
``get_session`` reads the env var on each call and rejects a codec
Spark would not accept. ``SPARK_GRAFT_CPUS`` (local core count and
shuffle widths) is read the same way and must be a positive integer.
The Parquet codec is a plain ENGINE_CONF default, zstd, that a
caller's ``extra_conf`` overrides."""

from types import SimpleNamespace

import pytest

import pydin_spark.session as session_mod


def test_shuffle_codec_defaults_to_lz4(monkeypatch):
    monkeypatch.delenv("PYDIN_SHUFFLE_CODEC", raising=False)
    assert session_mod.ENGINE_CONF[
        "spark.io.compression.codec"] == "lz4"
    assert session_mod._shuffle_codec() == "lz4"


def test_shuffle_codec_env_override(monkeypatch):
    monkeypatch.setenv("PYDIN_SHUFFLE_CODEC", "zstd")
    assert session_mod._shuffle_codec() == "zstd"


def test_shuffle_codec_rejects_unknown_name(monkeypatch):
    monkeypatch.setenv("PYDIN_SHUFFLE_CODEC", "ztsd")
    with pytest.raises(ValueError, match="PYDIN_SHUFFLE_CODEC"):
        session_mod.get_session("codec-check")


class _RecordingBuilder:
    """Stands in for ``SparkSession.builder``: records what
    ``get_session`` configures without touching the live session."""

    def __init__(self):
        self.master_url, self.conf = None, {}

    def appName(self, name):
        return self

    def master(self, url):
        self.master_url = url
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return SimpleNamespace(
            sparkContext=SimpleNamespace(setLogLevel=lambda level: None))


@pytest.fixture()
def builder(monkeypatch):
    rec = _RecordingBuilder()
    monkeypatch.setattr(session_mod, "SparkSession",
                        SimpleNamespace(builder=rec))
    monkeypatch.delenv("PYDIN_SHUFFLE_CODEC", raising=False)
    for var in session_mod._BLAS_THREAD_ENV:
        monkeypatch.setenv(var, "1")
    return rec


def test_cpus_set_after_import_takes_effect(monkeypatch, builder):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    session_mod.get_session("cpus-check")
    assert builder.master_url == "local[3]"
    assert builder.conf["spark.sql.shuffle.partitions"] == "3"
    assert builder.conf[
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum"] \
        == "24"


@pytest.mark.parametrize("value", ["0", "-4", "four", "2.5", ""])
def test_cpus_rejects_non_positive_integer(monkeypatch, builder, value):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        session_mod.get_session("cpus-check")
    assert builder.master_url is None and builder.conf == {}


def test_parquet_codec_defaults_to_zstd(builder):
    assert session_mod.ENGINE_CONF[
        "spark.sql.parquet.compression.codec"] == "zstd"
    session_mod.get_session("parquet-codec")
    assert builder.conf["spark.sql.parquet.compression.codec"] == "zstd"


def test_parquet_codec_extra_conf_wins(builder):
    session_mod.get_session(
        "parquet-codec",
        extra_conf={"spark.sql.parquet.compression.codec": "snappy"})
    assert builder.conf["spark.sql.parquet.compression.codec"] == "snappy"
