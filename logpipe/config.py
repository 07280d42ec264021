"""Env-var config surface (entrypoint.sh:19-61).

The reference templates its conf from environment variables at
container start — throttle rate/retain, the tail Exclude_Path, the
cluster identity — so operators tune the pipeline without editing
conf. The Spark job exposes the same knobs: every `LOGPIPE_*` env var
below mirrors one `FLUENTBIT_*` / deploy var, with the reference's
defaults, and the CLI flags override env (flag > env > default —
the same precedence the entrypoint's `if [ -z ... ]` blocks encode,
so an empty or whitespace-only variable counts as unset).

| env var                  | reference var / default              |
|--------------------------|--------------------------------------|
| LOGPIPE_THROTTLE_RATE    | FLUENTBIT_THROTTLE_RATE (1000)       |
| LOGPIPE_THROTTLE_RETAIN  | FLUENTBIT_THROTTLE_RETAIN (true)     |
| LOGPIPE_EXCLUDE_PATH     | FLUENTBIT_INPUT_TAIL_EXCLUDE_PATH    |
|                          | (comma-separated globs; default      |
|                          | DEFAULT_EXCLUDE_PATHS below)         |
| LOGPIPE_CLUSTER_NAME     | DICE_CLUSTER_NAME ('erda-cluster')   |
| LOGPIPE_THROTTLE_BUCKET  | throttle Interval/Window             |
|                          | (conf/ds/fluent-bit.conf:18-19; 'second') |
"""

from __future__ import annotations

import os
from dataclasses import dataclass

# The reference default (entrypoint.sh:19-21) plus a path-agnostic
# complement: fnmatch of the full-path glob only fires under
# /var/log/containers, so a logs dir anywhere else would silently
# re-ingest the collector's own logs without the second pattern. Both
# still exclude ONLY *fluent-bit* logs. LOGPIPE_EXCLUDE_PATH accepts a
# comma-separated list, like FLUENTBIT_INPUT_TAIL_EXCLUDE_PATH.
DEFAULT_EXCLUDE_PATHS: tuple[str, ...] = (
    "/var/log/containers/*fluent-bit*.log",
    "*fluent-bit*.log",
)


def _parse_bool(v: str, name: str) -> bool:
    low = v.strip().lower()
    if low in ("true", "1", "yes", "on"):
        return True
    if low in ("false", "0", "no", "off"):
        return False
    raise ValueError(f"{name}: expected a boolean, got {v!r}")


@dataclass(frozen=True)
class PipelineConfig:
    throttle_rate: int = 1000          # entrypoint.sh:42-44
    throttle_retain: bool = True       # entrypoint.sh:45-47
    throttle_bucket: str = "second"    # conf/ds/fluent-bit.conf:18-19
    exclude_path: tuple[str, ...] = DEFAULT_EXCLUDE_PATHS  # entrypoint.sh:19-21
    cluster_name: str = "erda-cluster"

    def __post_init__(self):
        if self.throttle_rate < 1:
            raise ValueError(
                f"throttle_rate must be >= 1, got {self.throttle_rate}"
            )
        if self.throttle_bucket not in ("second", "minute", "hour", "day"):
            raise ValueError(
                f"throttle_bucket must be second|minute|hour|day, "
                f"got {self.throttle_bucket!r}"
            )
        if not all(isinstance(g, str) and g for g in self.exclude_path):
            raise ValueError(
                f"exclude_path must be non-empty glob strings, "
                f"got {self.exclude_path!r}"
            )


def _parse_int(v: str, name: str) -> int:
    try:
        return int(v)
    except ValueError:
        raise ValueError(f"{name}: expected an integer, got {v!r}") from None


def _parse_globs(v: str, name: str) -> tuple[str, ...] | None:
    # a list of blanks (" , ") names no glob: unset, not "exclude nothing"
    return tuple(g.strip() for g in v.split(",") if g.strip()) or None


_ENV_PARSERS = {
    "throttle_rate": _parse_int,
    "throttle_retain": _parse_bool,
    "throttle_bucket": lambda v, name: v,
    "exclude_path": _parse_globs,
    "cluster_name": lambda v, name: v,
}


def from_env(env: dict | None = None, **overrides) -> PipelineConfig:
    """Resolve config: explicit overrides (CLI flags; None = unset)
    beat env vars (LOGPIPE_<FIELD>) beat the reference's defaults. An
    empty or whitespace-only env var is unset, like the entrypoint's
    `-z` test."""
    env = os.environ if env is None else env
    vals = {}
    for field, parse in _ENV_PARSERS.items():
        name = f"LOGPIPE_{field.upper()}"
        raw = env.get(name, "")
        value = parse(raw, name) if raw.strip() else None
        if value is not None:
            vals[field] = value
    vals.update({k: v for k, v in overrides.items() if v is not None})
    return PipelineConfig(**vals)
