"""Host-fit session defaults (no Spark started)."""

from osm_chordify_spark.session import _host_driver_memory, default_driver_memory


def _meminfo(kb):
    return f"MemTotal:       {kb} kB\nMemFree:         1024 kB\n"


def test_driver_memory_is_half_of_host_ram_capped():
    assert default_driver_memory(_meminfo(15 * 1024 * 1024)) == f"{15 * 512}m"
    assert default_driver_memory(_meminfo(512 * 1024 * 1024)) == "49152m"  # 48 GB cap
    assert default_driver_memory(_meminfo(1024 * 1024)) == "1024m"  # 1 GB floor
    assert default_driver_memory("") == "49152m"  # unreadable: former default


def test_host_driver_memory_reads_this_host():
    mb = int(_host_driver_memory().rstrip("m"))
    assert 1024 <= mb <= 48 * 1024
