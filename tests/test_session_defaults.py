"""The session's driver-memory default follows the host: about 60 % of
``MemTotal`` in whole GB, 16g when that cannot be read, and
``SPARK_GRAFT_DRIVER_MEM`` always wins."""

from etl_tool_rep_spark import session


def _meminfo(tmp_path, text):
    path = tmp_path / "meminfo"
    path.write_text(text)
    return str(path)


def test_driver_memory_from_meminfo(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.setattr(session, "_MEMINFO", _meminfo(
        tmp_path, "MemFree:  1000 kB\nMemTotal:       16456384 kB\n"))
    assert session._driver_memory_default() == "9g"
    monkeypatch.setattr(session, "_MEMINFO", _meminfo(
        tmp_path, "MemTotal: 1048576 kB\n"))          # 1 GB host
    assert session._driver_memory_default() == "1g"


def test_driver_memory_unreadable_meminfo_keeps_16g(tmp_path,
                                                     monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.setattr(session, "_MEMINFO", str(tmp_path / "missing"))
    assert session._driver_memory_default() == "16g"
    monkeypatch.setattr(session, "_MEMINFO", _meminfo(
        tmp_path, "MemTotal: lots\n"))
    assert session._driver_memory_default() == "16g"


def test_driver_memory_env_override_wins(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    monkeypatch.setattr(session, "_MEMINFO", _meminfo(
        tmp_path, "MemTotal: 16456384 kB\n"))
    assert session._driver_memory_default() == "3g"
