"""Engine configuration: typed env-var layer with defaults + overrides.

The engine analog of the reference's config bootstrap
(``internal/infrastructure/config/load_config.go:11-33,57-72``, tested in
``load_config_test.go:11-317``): every knob is a typed field bound to an
environment variable with a default, loaded with the same precedence —

  1. explicit ``overrides`` (the CLI layer)       — highest
  2. process environment variables
  3. ``.env`` file entries (never shadow real env — godotenv semantics)
  4. field defaults                                — lowest

The reference's knobs are connection-pool sizing (workers, batch size,
database coordinates); the engine's are the Spark/cluster analogs:
parallelism, micro-batch sizing, table layout, and job paths. Parse
errors name the offending variable (fail-fast at bootstrap, not mid-job).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field, fields

_ENV_PREFIX = "SPARK_GRAFT_"


class ConfigError(ValueError):
    """A config variable failed to parse or validate."""


@dataclass(frozen=True)
class EngineConfig:
    # parallelism (reference: ETL_WORKERS / pool sizing)
    workers: int = field(default=0, metadata={"env": "CPUS"})  # 0 → local[*]
    shuffle_partitions: int = field(default=0, metadata={"env": "SHUFFLE_PARTITIONS"})
    driver_memory: str = field(default="8g", metadata={"env": "DRIVER_MEM"})
    # micro-batch sizing (reference: ETL_BATCH_SIZE)
    batch_lsns: int = field(default=1_000_000, metadata={"env": "BATCH_LSNS"})
    # table layout
    num_buckets: int = field(default=32, metadata={"env": "NUM_BUCKETS"})
    # job identity / paths (reference: database coordinates)
    writer_id: str | None = field(default=None, metadata={"env": "WRITER_ID"})
    log_dir: str | None = field(default=None, metadata={"env": "LOG_DIR"})
    table_root: str | None = field(default=None, metadata={"env": "TABLE_ROOT"})
    checkpoint: str | None = field(default=None, metadata={"env": "CHECKPOINT"})
    dead_letter_dir: str | None = field(default=None, metadata={"env": "DEAD_LETTER_DIR"})
    lineage_dir: str | None = field(default=None, metadata={"env": "LINEAGE_DIR"})

    def __post_init__(self):
        for name in ("workers", "shuffle_partitions"):
            # 0 is the "unset → derive from the machine" sentinel
            if getattr(self, name) < 0:
                raise ConfigError(f"{name} must be >= 0, got {getattr(self, name)}")
        for name in ("batch_lsns", "num_buckets"):
            # 0 is NOT a sentinel here: batch_lsns=0 spins run_incremental
            # forever on empty windows, num_buckets=0 makes pmod null
            if getattr(self, name) < 1:
                raise ConfigError(f"{name} must be >= 1, got {getattr(self, name)}")

    # ------------------------------------------------------------------ load

    @classmethod
    def load(
        cls,
        overrides: dict | None = None,
        environ: dict | None = None,
        dotenv_path: str = ".env",
    ) -> "EngineConfig":
        """Resolve every field with overrides > env > .env > default.

        ``environ`` defaults to ``os.environ`` (injectable for tests);
        ``dotenv_path`` is silently ignored when absent, like godotenv
        (``load_config.go:59-60``)."""
        env = dict(environ if environ is not None else os.environ)
        for k, v in _read_dotenv(dotenv_path).items():
            env.setdefault(k, v)  # real env always shadows the file
        kwargs = {}
        for f in fields(cls):
            var = _ENV_PREFIX + f.metadata["env"]
            if overrides and f.name in overrides and overrides[f.name] is not None:
                kwargs[f.name] = overrides[f.name]
            elif var in env:
                kwargs[f.name] = _parse(var, env[var], f.type)
        return cls(**kwargs)

    # ------------------------------------------------------------- consumers

    def session(self, app_name: str = "french_admin_etl_spark"):
        """A SparkSession sized by this config (the reference's pool-sized
        DatabaseManager analog, ``database_manager.go:77-81``)."""
        from french_admin_etl_spark.session import get_spark

        return get_spark(
            app_name=app_name,
            cores=self.workers or None,
            shuffle_partitions=self.shuffle_partitions or None,
            driver_memory=self.driver_memory,
        )


def _parse(var: str, raw: str, ftype: str):
    if "int" in str(ftype):
        try:
            return int(raw)
        except ValueError as e:
            raise ConfigError(f"{var}={raw!r} is not an integer") from e
    return raw


def _read_dotenv(path: str) -> dict[str, str]:
    """Minimal KEY=VALUE .env reader (comments/blank lines skipped,
    optional surrounding quotes stripped). No export/expansion syntax —
    engine config needs only flat pairs."""
    out: dict[str, str] = {}
    if not path or not os.path.isfile(path):
        return out
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if not line or line.startswith("#") or "=" not in line:
                continue
            k, v = line.split("=", 1)
            v = v.strip().strip("'\"")
            out[k.strip()] = v
    return out
