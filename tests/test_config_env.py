"""TOKFORGE_* env -> EngineConfig wiring (the reference's IMGFORGE_* env
config surface, config.rs:224-286)."""

from __future__ import annotations

from tokforge.engine.config import EngineConfig


def test_defaults_when_env_empty():
    assert EngineConfig.from_env({}) == EngineConfig()


def test_full_env_surface():
    cfg = EngineConfig.from_env(
        {
            "TOKFORGE_KEY": "aabb",
            "TOKFORGE_SALT": "ccdd",
            "TOKFORGE_ALLOW_UNSAFE_URL": "true",
            "TOKFORGE_PRESETS": "thumb=resize:fit:48/quality:60; big = resize:fit:500",
            "TOKFORGE_ONLY_PRESETS": "1",
            "TOKFORGE_DEFAULT_FORMAT": "png",
            "TOKFORGE_ALLOW_SECURITY_OPTIONS": "yes",
            "TOKFORGE_MAX_SRC_FILE_SIZE": "4096",
            "TOKFORGE_MAX_SRC_RESOLUTION": "1.5",
            "TOKFORGE_BEARER_TOKEN": "tok",
            "TOKFORGE_ALLOWED_SRC_DTYPES": "Int32, int16",
        }
    )
    assert cfg.key == bytes.fromhex("aabb") and cfg.salt == bytes.fromhex("ccdd")
    assert cfg.allow_unsigned is True and cfg.only_presets is True
    assert cfg.presets_dict == {
        "thumb": "resize:fit:48/quality:60",
        "big": "resize:fit:500",
    }
    assert cfg.default_format == "png"
    assert cfg.allow_security_options is True
    assert cfg.max_src_file_size == 4096 and cfg.max_src_resolution == 1.5
    assert cfg.bearer_token == "tok"
    assert cfg.allowed_src_dtypes == ("int32", "int16")


def test_bool_parsing_rejects_other_values():
    assert EngineConfig.from_env({"TOKFORGE_ALLOW_UNSAFE_URL": "0"}).allow_unsigned is False
    assert EngineConfig.from_env({"TOKFORGE_ALLOW_UNSAFE_URL": "off"}).allow_unsigned is False


def test_env_config_is_picklable_for_udf_closures():
    import pickle

    cfg = EngineConfig.from_env({"TOKFORGE_BEARER_TOKEN": "x"})
    assert pickle.loads(pickle.dumps(cfg)) == cfg


def test_state_store_tier_from_env():
    assert EngineConfig.from_env({}).state_store == "hdfs"
    assert (
        EngineConfig.from_env({"TOKFORGE_STATE_STORE": "RocksDB"}).state_store
        == "rocksdb"
    )


def test_apply_state_store_sets_and_clears_provider(spark):
    from tokforge.engine.session import ROCKSDB_PROVIDER, apply_state_store

    key = "spark.sql.streaming.stateStore.providerClass"
    apply_state_store(spark, "rocksdb")
    assert spark.conf.get(key) == ROCKSDB_PROVIDER
    assert (
        spark.conf.get(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        )
        == "true"
    )
    apply_state_store(spark, "hdfs")
    assert "RocksDB" not in spark.conf.get(key)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        apply_state_store(spark, "foyer")


def test_default_cpus_follows_env_then_affinity(monkeypatch):
    """One local core default for build_spark and the bench tools: the
    SPARK_GRAFT_CPUS override when set, else the cores this process may
    run on (never a fixed 32)."""
    import os

    from tokforge.engine.session import default_cpus

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3
