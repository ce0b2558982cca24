"""The library's default driver heap is sized from the machine."""

from nail_parquet_spark.session import _default_driver_memory


def _meminfo(tmp_path, kb):
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {kb} kB\nMemFree:         1024 kB\n")
    return str(p)


def test_quarter_of_memtotal(tmp_path):
    assert _default_driver_memory(_meminfo(tmp_path, 16_478_908)) == "3g"
    assert _default_driver_memory(_meminfo(tmp_path, 64 << 20)) == "16g"


def test_at_least_one_gig(tmp_path):
    assert _default_driver_memory(_meminfo(tmp_path, 2 << 20)) == "1g"
    assert _default_driver_memory(str(tmp_path / "missing")) == "1g"
