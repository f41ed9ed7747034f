"""Host-derived session defaults (no Spark session)."""

from sparkdu.session import default_driver_memory


def _mem_total_mb(path="/proc/meminfo"):
    with open(path) as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise AssertionError("no MemTotal line")


def test_default_driver_memory_below_mem_total():
    heap = default_driver_memory()
    assert heap.endswith("m"), heap
    assert 0 < int(heap[:-1]) < _mem_total_mb()


def test_default_driver_memory_quarter_capped_and_fallback(tmp_path):
    small = tmp_path / "small"
    small.write_text("MemFree:  100 kB\nMemTotal:       16479424 kB\n")
    assert default_driver_memory(str(small)) == "4023m"
    big = tmp_path / "big"
    big.write_text("MemTotal:      131072000 kB\n")
    assert default_driver_memory(str(big)) == "16384m"
    assert default_driver_memory(str(tmp_path / "missing")) == "16g"
