"""Environment-driven configuration.

Reference parity: ``.env``-loaded settings
(/root/reference/config.py:6-11 — PROJECT_ID, DATASET_ID, credentials,
SENTRY_DSN).  The engine's equivalents are filesystem/catalog-shaped;
secrets stay out of code the same way.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


def _env(name: str, default: str) -> str:
    return os.environ.get(name, default)


@dataclass(frozen=True)
class EngineConfig:
    """All knobs read once from the environment (reference
    config.py:6-11 pattern; no dotenv dependency — plain env vars)."""

    landing_dir: str = field(
        default_factory=lambda: _env("FPL_LANDING_DIR", "./landing")
    )
    warehouse_dir: str = field(
        default_factory=lambda: _env("FPL_WAREHOUSE_DIR", "./spark-warehouse")
    )
    testdata_dir: str = field(
        default_factory=lambda: _env("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    log_file: str | None = field(
        default_factory=lambda: os.environ.get("FPL_LOG_FILE")
    )
    error_webhook: str | None = field(
        default_factory=lambda: os.environ.get("FPL_ERROR_WEBHOOK")
    )


def load_config() -> EngineConfig:
    return EngineConfig()
