"""Session defaults derived from the host (no Spark session needed)."""

from nifi_processors_spark.session import driver_memory


def _meminfo(tmp_path, total_kb):
    p = tmp_path / "meminfo"
    p.write_text(
        f"MemTotal:       {total_kb} kB\n"
        "MemFree:         1000000 kB\n"
    )
    return str(p)


def test_driver_memory_is_half_of_ram_capped_at_16g(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    # a 15 GB host: half its RAM, not a heap larger than the machine
    assert driver_memory(_meminfo(tmp_path, 16_456_384)) == "8035m"
    # a 128 GB host: capped at 16g
    assert driver_memory(_meminfo(tmp_path, 131_072_000)) == "16384m"
    # unreadable meminfo: the 16g cap
    assert driver_memory(str(tmp_path / "missing")) == "16384m"


def test_driver_memory_env_override(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "6g")
    assert driver_memory(_meminfo(tmp_path, 16_456_384)) == "6g"
