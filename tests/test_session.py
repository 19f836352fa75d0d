"""Session defaults that need no JVM."""

from my_weather_spark import session

GIB = 1 << 30


def _host(monkeypatch, ram_bytes):
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": ram_bytes // 4096}
    monkeypatch.setattr(session.os, "sysconf", lambda name: pages[name])


def test_driver_memory_is_half_of_physical_memory(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    _host(monkeypatch, 16 * GIB)
    assert session.driver_memory() == "8192m"
    _host(monkeypatch, 15 * GIB + 512 * (1 << 20))
    assert session.driver_memory() == "7936m"
    # a tiny host still gets a usable heap
    _host(monkeypatch, GIB)
    assert session.driver_memory() == "1024m"


def test_driver_memory_env_overrides(monkeypatch):
    _host(monkeypatch, 16 * GIB)
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert session.driver_memory() == "3g"
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "")
    assert session.driver_memory() == "8192m"
