"""bench.py sizes the driver heap from the host, not a fixed 48g."""

import bench


def _meminfo(tmp_path, total_kb, avail_kb):
    p = tmp_path / "meminfo"
    p.write_text(
        f"MemTotal:       {total_kb} kB\n"
        f"MemFree:        {avail_kb // 2} kB\n"
        f"MemAvailable:   {avail_kb} kB\n"
    )
    return str(p)


def test_driver_memory_is_half_of_available(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    # a 15 GB host with 14 GiB available gets 7 GiB, not 48g
    assert bench.driver_memory(_meminfo(tmp_path, 15_700_000, 14 * 1024**2)) == "7168m"
    # clamped to [1 GiB, 48 GiB]
    assert bench.driver_memory(_meminfo(tmp_path, 2_000_000, 1_000_000)) == "1024m"
    assert bench.driver_memory(_meminfo(tmp_path, 10**9, 10**9)) == "49152m"


def test_driver_memory_env_override(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert bench.driver_memory(_meminfo(tmp_path, 15_700_000, 14 * 1024**2)) == "3g"
