"""``default_memory``: the session's driver heap and off-heap sizes follow
the host's memory, so a default session fits a small host."""

from go_bqloader_spark.session import default_memory


def _meminfo(tmp_path, kb):
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {kb} kB\nMemFree:         1024 kB\n")
    return str(p)


def test_default_memory_fits_a_small_host(tmp_path):
    # a 15 GiB host: 40% heap and 25% off-heap, 65% together
    assert default_memory(_meminfo(tmp_path, 15 * 1024 * 1024)) == ("6144m", "3840m")


def test_default_memory_caps_on_a_large_host(tmp_path):
    assert default_memory(_meminfo(tmp_path, 256 * 1024 * 1024)) == ("24576m", "16384m")


def test_default_memory_floors_on_a_tiny_host(tmp_path):
    assert default_memory(_meminfo(tmp_path, 512 * 1024)) == ("512m", "256m")


def test_default_memory_without_meminfo(tmp_path):
    assert default_memory(str(tmp_path / "missing")) == ("24g", "16g")
    (tmp_path / "empty").write_text("")
    assert default_memory(str(tmp_path / "empty")) == ("24g", "16g")
