"""Session factory defaults that need no JVM."""

import os

from recommendation_system_spark_ml_spark import session


def _mb(spec: str) -> int:
    assert spec.endswith("m"), spec
    return int(spec[:-1])


def test_default_driver_memory_fits_the_host(monkeypatch):
    """The heap default never exceeds physical memory: half of it on
    this host, half of a small host, and 48g on a host with more than
    96 GB."""
    phys_mb = (os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
               // (1 << 20))
    got = _mb(session.default_driver_memory())
    assert 0 < got <= phys_mb // 2
    assert got <= 48 << 10

    def host(total_mb):
        pages = {"SC_PHYS_PAGES": total_mb * 256, "SC_PAGE_SIZE": 4096}
        monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
        return _mb(session.default_driver_memory())

    assert host(2048) == 1024
    assert host(15 << 10) == 15 << 9
    assert host(1 << 20) == 48 << 10
