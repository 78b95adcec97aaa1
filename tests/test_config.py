import pytest

from target_hdfs_spark.config import TargetConfig, convert_size_to_bytes


def test_size_units():
    assert convert_size_to_bytes("200M") == 200 * 1024 * 1024
    assert convert_size_to_bytes("2k") == 2048
    assert convert_size_to_bytes("1G") == 1 << 30
    assert convert_size_to_bytes("10KB") == 10240


def test_size_unitless_accepted():
    # the reference crashes on unit-less sizes (utils/__init__.py:19-20
    # raises on the branch its own regex admits); we accept plain bytes
    assert convert_size_to_bytes("800") == 800
    assert convert_size_to_bytes(800) == 800


@pytest.mark.parametrize("bad", ["", "abc", "12X", "-5", -5])
def test_size_invalid(bad):
    with pytest.raises(ValueError):
        convert_size_to_bytes(bad)


def test_config_from_reference_style_dict(tmp_path):
    cfg = TargetConfig.from_dict(
        {
            "hdfs_destination_path": str(tmp_path),
            "hdfs_block_size_limit": "1M",
            "skip_existing_files": True,
            "compression_method": "snappy",
            "partition_cols": "col1,col2",
            "extra_fields": "env=prod,region=eu",
            "extra_fields_types": "env=string,region=string",
            "max_batch_size": 500,
        }
    )
    assert cfg.block_size_limit == 1 << 20
    assert cfg.partition_cols == ("col1", "col2")
    assert cfg.extra_fields == {"env": "prod", "region": "eu"}
    assert cfg.stream_path("users") == f"{tmp_path}/users"


def test_config_requires_destination():
    with pytest.raises(ValueError, match="destination_path"):
        TargetConfig(destination_path="")


def test_config_rejects_unknown_compression():
    with pytest.raises(ValueError, match="compression"):
        TargetConfig(destination_path="/x", compression="lz77")


def test_config_rejects_orphan_extra_type():
    with pytest.raises(ValueError, match="extra_fields_types"):
        TargetConfig(destination_path="/x", extra_fields_types={"ghost": "string"})


def test_config_from_env_vars(monkeypatch, tmp_path):
    """--config=ENV parity (reference README.md:44-48): terminal env
    vars override the .env file; typed values JSON-decode; both the
    package prefix and the reference-compatible prefix resolve."""
    import os

    from target_hdfs_spark.config import config_from_env

    dotenv = tmp_path / ".env"
    dotenv.write_text(
        "# comment\n"
        "export TARGET_HDFS_SPARK_HDFS_DESTINATION_PATH='/from/dotenv'\n"
        'TARGET_HDFS_SPARK_MAX_BATCH_SIZE="500"\n'
        "TARGET_HDFS_COMPRESSION_METHOD=zstd\n"
    )
    monkeypatch.setenv("TARGET_HDFS_SPARK_HDFS_DESTINATION_PATH", "/from/env")
    monkeypatch.setenv("TARGET_HDFS_SPARK_SKIP_EXISTING_FILES", "true")
    cfg = config_from_env(dotenv_path=str(dotenv))
    assert cfg.destination_path == "/from/env"  # terminal beats .env
    assert cfg.max_batch_size == 500  # JSON-decoded int from .env
    assert cfg.compression == "zstd"  # reference-name prefix works
    assert cfg.skip_existing_files is True  # "true" -> bool, not truthy-str


def test_config_env_false_is_false(monkeypatch):
    """The classic bool('false') trap: env string 'false' must come
    through as False."""
    from target_hdfs_spark.config import config_from_env

    monkeypatch.setenv("TARGET_HDFS_SPARK_HDFS_DESTINATION_PATH", "/d")
    monkeypatch.setenv("TARGET_HDFS_SPARK_SKIP_EXISTING_FILES", "false")
    cfg = config_from_env(dotenv_path="/nonexistent/.env")
    assert cfg.skip_existing_files is False


def test_config_env_terminal_generic_beats_dotenv_specific(monkeypatch, tmp_path):
    """Cross-source precedence: a TERMINAL var must beat a .env var for
    the same setting even when the .env side uses the more-specific
    TARGET_HDFS_SPARK_ prefix — prefix specificity only breaks ties
    within one source."""
    from target_hdfs_spark.config import config_from_env

    dotenv = tmp_path / ".env"
    dotenv.write_text("TARGET_HDFS_SPARK_COMPRESSION_METHOD=zstd\n")
    monkeypatch.setenv("TARGET_HDFS_COMPRESSION_METHOD", "gzip")
    monkeypatch.setenv("TARGET_HDFS_SPARK_HDFS_DESTINATION_PATH", "/d")
    cfg = config_from_env(dotenv_path=str(dotenv))
    assert cfg.compression == "gzip"  # terminal wins across prefixes


def test_cli_version_flag(capsys):
    from target_hdfs_spark import __version__
    from target_hdfs_spark.ingest import main

    import pytest as _pytest

    with _pytest.raises(SystemExit) as exc:
        main(["--version"])
    assert exc.value.code == 0
    assert __version__ in capsys.readouterr().out


def test_config_env_typed_decoding_is_per_setting(monkeypatch):
    """JSON decoding applies only to typed settings: a JSON-list
    partition_cols arrives as a real tuple, while a numeric-looking
    destination path stays a string."""
    from target_hdfs_spark.config import config_from_env

    monkeypatch.setenv("TARGET_HDFS_SPARK_HDFS_DESTINATION_PATH", "2024")
    monkeypatch.setenv("TARGET_HDFS_SPARK_PARTITION_COLS", '["year", "month"]')
    cfg = config_from_env(dotenv_path="/nonexistent/.env")
    assert cfg.destination_path == "2024"  # string, not int
    assert cfg.partition_cols == ("year", "month")
    # comma format still works too
    monkeypatch.setenv("TARGET_HDFS_SPARK_PARTITION_COLS", "year,month")
    assert config_from_env(
        dotenv_path="/nonexistent/.env"
    ).partition_cols == ("year", "month")


def test_config_env_specific_prefix_wins(monkeypatch):
    """TARGET_HDFS_SPARK_<X> deterministically beats TARGET_HDFS_<X>
    regardless of environment iteration order."""
    from target_hdfs_spark.config import config_from_env

    monkeypatch.setenv("TARGET_HDFS_SPARK_HDFS_DESTINATION_PATH", "/d")
    monkeypatch.setenv("TARGET_HDFS_COMPRESSION_METHOD", "zstd")
    monkeypatch.setenv("TARGET_HDFS_SPARK_COMPRESSION_METHOD", "snappy")
    cfg = config_from_env(dotenv_path="/nonexistent/.env")
    assert cfg.compression == "snappy"


def test_about_lists_every_setting_from_dict_reads():
    """`--about` advertises the whole config surface: every key
    TargetConfig.from_dict reads is in ABOUT["settings"]."""
    from target_hdfs_spark.ingest import ABOUT

    class Recording(dict):
        def __init__(self, *args):
            super().__init__(*args)
            self.read = set()

        def get(self, key, default=None):
            self.read.add(key)
            return super().get(key, default)

        def __getitem__(self, key):
            self.read.add(key)
            return super().__getitem__(key)

    raw = Recording({"hdfs_destination_path": "/d"})
    TargetConfig.from_dict(raw)
    assert "stream_maps" in raw.read
    assert raw.read <= set(ABOUT["settings"]), raw.read - set(ABOUT["settings"])
