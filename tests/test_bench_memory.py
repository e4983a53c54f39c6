"""bench.py sizes the JVM heap from the host, not a fixed 48g, and its
final stdout line always carries the per-query seconds."""

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


def test_summary_fallback_keeps_queries():
    import json

    queries = {"a3_group_agg": 0.41, "dedup_clusters": 18.3}
    summary = {
        "metric": "pages/sec", "value": 1285.0, "unit": "sec",
        "queries": queries, "sf": 0.1, "pages": 16000, "routes": 4000,
        "cpus": "4", "geo_cpu_sec": 44.7, "geo_steal_sec": 0.0,
        "geo_clean": True, "geo_capacity_clean": True,
        "dirty_legs": [f"leg_with_a_long_name_{i}" for i in range(80)],
        "detail": "bench_detail.json",
    }
    assert len(json.dumps(summary)) > 1900  # forces the fallback
    line = bench.summary_line(summary)
    assert len(line) <= 1900
    out = json.loads(line)
    assert out["queries"] == queries
    assert "dirty_legs" not in out and out["value"] == 1285.0
    # short summaries print whole
    summary["dirty_legs"] = []
    assert json.loads(bench.summary_line(summary)) == summary
