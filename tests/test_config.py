"""EngineConfig resolution (A20/A21): option > env > default, typed parsing;
route keys that Spark's own mechanics replace are ignored."""

from __future__ import annotations

import pytest

from logspout_kinesis_tests_spark.config import EngineConfig, getopt


def test_defaults_match_reference():
    cfg = EngineConfig.from_route()
    assert cfg.stream_name == "logbuffer-dev"
    assert cfg.max_attempts_per_record == 10  # logspoutkinesis.go:147
    assert cfg.docker_host == "unknown-docker-host"  # go:81 default
    assert cfg.use_v0_layout is False


def test_options_override_defaults():
    cfg = EngineConfig.from_route(
        "my-stream",
        {
            "max_attempts_per_record": "3",
            "use_v0_layout": "true",
            # replaced by the trigger interval and the micro-batch: ignored
            "flush_interval": "5",
            "batch_size": "100",
        },
    )
    assert cfg.stream_name == "my-stream"
    assert cfg.max_attempts_per_record == 3
    assert cfg.use_v0_layout is True


def test_env_fallback_and_option_precedence(monkeypatch):
    monkeypatch.setenv("LK_DOCKER_HOST", "env-host")
    monkeypatch.setenv("LK_USE_V0_LAYOUT", "1")
    cfg = EngineConfig.from_route()
    assert cfg.docker_host == "env-host"
    assert cfg.use_v0_layout is True
    # explicit option beats env (route.Options checked first, go:84-87)
    cfg2 = EngineConfig.from_route(options={"use_v0_layout": "false"})
    assert cfg2.use_v0_layout is False


def test_malformed_values_fall_back_to_defaults():
    cfg = EngineConfig.from_route(
        options={"max_attempts_per_record": "not-a-number", "use_v0_layout": ""}
    )
    assert cfg.max_attempts_per_record == 10
    assert cfg.use_v0_layout is False


def test_getopt(monkeypatch):
    monkeypatch.delenv("SOME_UNSET_VAR", raising=False)
    assert getopt("SOME_UNSET_VAR", "fallback") == "fallback"
    monkeypatch.setenv("SOME_UNSET_VAR", "")
    assert getopt("SOME_UNSET_VAR", "fallback") == "fallback"  # empty = unset (go:176)
    monkeypatch.setenv("SOME_UNSET_VAR", "x")
    assert getopt("SOME_UNSET_VAR", "fallback") == "x"
