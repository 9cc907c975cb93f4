"""Session-conf contracts: the shuffle codec is an env knob with the
small-data default — lz4 keeps KB-to-MB local shuffles cheap;
PYDIN_SHUFFLE_CODEC=zstd is the documented production value for
GB-per-stage shuffles (halved bytes, measured at the 100x replica).
``get_session`` reads the env var on each call and rejects a codec
Spark would not accept."""

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
