"""Engine configuration with the reference's option surface.

Reproduces the reference adapter's config resolution — string-keyed route
options with typed defaults and env fallback (``logspoutkinesis.go:114-180``)
— as a plain dataclass.  Precedence: explicit option > environment variable >
default, matching ``route.Options[...]`` then ``getopt(...)``.

Route keys of the reference that Spark's own mechanics replace are ignored,
as the Go adapter ignores options it does not know:

- ``flush_interval`` (logspoutkinesis.go:131-137) → the trigger interval
  (``produce_pipeline(trigger=...)``);
- ``buffer_size`` and ``batch_size`` (logspoutkinesis.go:123-145) → the
  micro-batch, which the sink sends in ≤``max_records_per_put`` groups;
- ``add_blocks_when_buffer_full`` (logspoutkinesis.go:115-121) → Spark pulls
  micro-batches, so there is no buffer to overflow and no record to drop;
- ``stat_interval`` (logspoutkinesis.go:155-161) → the query's progress
  events (``query.recentProgress`` / ``lastProgress``, or a listener added
  with ``spark.streams.addListener``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass


def getopt(name: str, default: str = "") -> str:
    """Env lookup with default — reference ``getopt``, logspoutkinesis.go:174-180."""
    value = os.environ.get(name, "")
    return value if value != "" else default


def _parse_bool(raw: str | None, default: bool) -> bool:
    if raw is None or raw == "":
        return default
    return raw.strip().lower() in ("1", "true", "yes", "on")


def _parse_int(raw: str | None, default: int) -> int:
    if raw is None or raw == "":
        return default
    try:
        return int(raw)
    except ValueError:
        return default


@dataclass
class EngineConfig:
    """Bound pipeline configuration (reference adapter struct + producer config).

    Field ↔ reference map:

    - ``stream_name``      ← route.Address (logspoutkinesis.go:66)
    - ``docker_host``      ← LK_DOCKER_HOST env (logspoutkinesis.go:81)
    - ``use_v0_layout``    ← route option / LK_USE_V0_LAYOUT (logspoutkinesis.go:84-87)
    - ``max_attempts_per_record`` ← "max_attempts_per_record", default 10
                             (logspoutkinesis.go:147-153)
    """

    stream_name: str = "logbuffer-dev"
    docker_host: str = "unknown-docker-host"
    use_v0_layout: bool = False
    max_attempts_per_record: int = 10
    #: Kinesis PutRecords hard cap — records per API call (AWS service limit,
    #: not a reference constant; the reference's vendored batchproducer
    #: enforces the same limit internally).
    max_records_per_put: int = 500

    @classmethod
    def from_route(
        cls, address: str = "logbuffer-dev", options: dict[str, str] | None = None
    ) -> "EngineConfig":
        """Resolve option > env > default, mirroring NewLogspoutAdapter
        (logspoutkinesis.go:61-97) + getKinesisConfig (:114-172)."""
        opts = dict(options or {})

        def opt(key: str, env: str | None = None) -> str | None:
            if key in opts and opts[key] != "":
                return opts[key]
            if env is not None:
                raw = os.environ.get(env, "")
                if raw != "":
                    return raw
            return None

        return cls(
            stream_name=address,
            docker_host=getopt("LK_DOCKER_HOST", "unknown-docker-host"),
            use_v0_layout=_parse_bool(opt("use_v0_layout", "LK_USE_V0_LAYOUT"), False),
            max_attempts_per_record=_parse_int(opt("max_attempts_per_record"), 10),
        )
