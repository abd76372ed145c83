"""Session factory and session-conf defaults."""

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


def test_scratch_dir_is_removed_at_exit():
    """A process's scratch directory is gone once its interpreter exits,
    and the exit hook is registered once however often the path is
    asked for."""
    import subprocess
    import sys

    code = """if 1:
        import atexit, os
        from recommendation_system_spark_ml_spark import session
        n = atexit._ncallbacks()
        p = session.scratch_path("/data/sf0.01/", "a")
        session.scratch_path("/data/sf0.01", "b")
        os.makedirs(p)
        open(os.path.join(p, "part-0.parquet"), "w").close()
        print(atexit._ncallbacks() - n, p)
        """
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", code], cwd=root, check=True,
                         capture_output=True, text=True).stdout.split()
    hooks, path = int(out[0]), out[1]
    assert hooks == 1
    pid_dir = os.path.dirname(os.path.dirname(path))
    assert path == os.path.join(pid_dir, "sf0.01", "a")
    assert os.path.basename(pid_dir).startswith("pid")
    assert not os.path.exists(pid_dir)


def test_pin_session_conf_sizes_partitions_to_the_session(spark, monkeypatch):
    """Without an override, shuffle partitions follow the session it is
    given (``max(defaultParallelism, 8)``, as ``get_spark`` sets them),
    not $SPARK_GRAFT_CPUS or its default of 32."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    try:
        session.pin_session_conf(spark)
        want = max(spark.sparkContext.defaultParallelism, 8)
        assert spark.conf.get(key) == str(want)
    finally:
        spark.conf.set(key, old)
