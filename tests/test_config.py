"""EngineConfig: defaults, env binding, .env precedence, validation —
mirrors the reference's load_config_test.go:11-317 contract."""

from __future__ import annotations

import pytest

from french_admin_etl_spark.config import ConfigError, EngineConfig


def test_defaults_when_nothing_set():
    cfg = EngineConfig.load(environ={}, dotenv_path="/nonexistent")
    assert cfg.workers == 0
    assert cfg.batch_lsns == 1_000_000
    assert cfg.num_buckets == 32
    assert cfg.writer_id is None and cfg.table_root is None


def test_env_vars_bind_typed():
    env = {
        "SPARK_GRAFT_CPUS": "16",
        "SPARK_GRAFT_BATCH_LSNS": "5000",
        "SPARK_GRAFT_WRITER_ID": "w7",
        "SPARK_GRAFT_TABLE_ROOT": "/data/t",
    }
    cfg = EngineConfig.load(environ=env, dotenv_path="/nonexistent")
    assert cfg.workers == 16 and isinstance(cfg.workers, int)
    assert cfg.batch_lsns == 5000
    assert cfg.writer_id == "w7" and cfg.table_root == "/data/t"


def test_dotenv_loaded_but_never_shadows_real_env(tmp_path):
    dotenv = tmp_path / ".env"
    dotenv.write_text(
        "# engine config\n"
        "SPARK_GRAFT_CPUS=4\n"
        "SPARK_GRAFT_NUM_BUCKETS='64'\n"
        "\n"
        "not a pair\n"
    )
    # .env fills gaps…
    cfg = EngineConfig.load(environ={}, dotenv_path=str(dotenv))
    assert cfg.workers == 4 and cfg.num_buckets == 64  # quotes stripped
    # …but the process environment wins (godotenv precedence)
    cfg = EngineConfig.load(environ={"SPARK_GRAFT_CPUS": "8"}, dotenv_path=str(dotenv))
    assert cfg.workers == 8 and cfg.num_buckets == 64


def test_overrides_beat_everything_and_none_is_transparent(tmp_path):
    dotenv = tmp_path / ".env"
    dotenv.write_text("SPARK_GRAFT_BATCH_LSNS=111\n")
    cfg = EngineConfig.load(
        overrides={"batch_lsns": 999, "workers": None},  # None → fall through
        environ={"SPARK_GRAFT_BATCH_LSNS": "222", "SPARK_GRAFT_CPUS": "2"},
        dotenv_path=str(dotenv),
    )
    assert cfg.batch_lsns == 999  # override > env > .env
    assert cfg.workers == 2  # None override fell through to env


def test_bad_int_names_the_variable():
    with pytest.raises(ConfigError, match="SPARK_GRAFT_CPUS"):
        EngineConfig.load(environ={"SPARK_GRAFT_CPUS": "many"}, dotenv_path="/x")


def test_negative_rejected():
    with pytest.raises(ConfigError, match="num_buckets"):
        EngineConfig.load(environ={"SPARK_GRAFT_NUM_BUCKETS": "-1"}, dotenv_path="/x")


def test_zero_batch_and_bucket_knobs_rejected():
    """Reviewer finding: batch_lsns=0 spins run_incremental forever on
    empty windows and num_buckets=0 makes pmod null — 0 is only a valid
    sentinel for the machine-derived knobs (workers/shuffle)."""
    for var in ("BATCH_LSNS", "NUM_BUCKETS"):
        with pytest.raises(ConfigError):
            EngineConfig.load(environ={f"SPARK_GRAFT_{var}": "0"}, dotenv_path="/x")
    # machine-derived knobs keep 0 as "unset"
    assert EngineConfig.load(environ={"SPARK_GRAFT_CPUS": "0"}, dotenv_path="/x").workers == 0
