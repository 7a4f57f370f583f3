"""The session's Python-worker pins: the worker daemon that imports the
installed PySpark instead of Spark's archives, the Unix-socket
transport and its AF_UNIX path guard, and the host-sized driver heap."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile

from metadata_wrangler_spark import _worker_daemon, session
from metadata_wrangler_spark.operators.arrow_stage import arrow_stage

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_import_pyspark_from_a_directory(spark):
    """Inside an Arrow stage no zipimporter is cached and PySpark is
    the installed package, not pyspark.zip: PySpark's per-task
    ``importlib.invalidate_caches()`` would otherwise re-read every
    cached archive on every task."""
    def worker_imports(pdf):  # nested, so it pickles by value
        import zipimport

        import pyspark

        zips = sorted(
            k for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)
        )
        return {"zips": ["\n".join(zips)], "pyspark": [pyspark.__file__]}

    row = arrow_stage(
        spark.range(1), "worker_imports", "zips string, pyspark string",
        worker_imports,
    ).collect()[0]
    assert row["zips"] == ""
    assert os.path.isfile(row["pyspark"])
    assert ".zip" not in row["pyspark"]


def test_daemon_drops_archives_only_when_a_directory_copy_exists(
        monkeypatch, tmp_path):
    fake = str(tmp_path / "pyspark.zip")
    sub = fake + os.sep + "pyspark"
    sys_path = list(sys.path)
    monkeypatch.setattr(sys, "path", [fake] + sys_path)
    monkeypatch.setattr(sys, "path_importer_cache", {fake: None, sub: None})
    assert _worker_daemon.spark_archives(
        os.pathsep.join([fake, REPO])) == [fake]
    assert _worker_daemon.drop_archives([fake]) is None
    assert fake not in sys.path
    assert not {fake, sub} & set(sys.path_importer_cache)

    # nothing but the archive on the path: keep it and say why
    monkeypatch.setattr(sys, "path", [fake])
    why = _worker_daemon.drop_archives([fake])
    assert "importable only from an archive" in why
    assert sys.path == [fake]

    # an archive of another PySpark version stays in front
    other = str(tmp_path / "other" / "pyspark.zip")
    os.makedirs(os.path.dirname(other))
    with zipfile.ZipFile(other, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", "__version__ = '0.0.0'\n")
    path = [other] + sys_path
    monkeypatch.setattr(sys, "path", list(path))
    why = _worker_daemon.drop_archives([other])
    assert "not the version Spark ships" in why
    assert sys.path == path


def test_long_temp_dir_keeps_python_stages_working(tmp_path):
    """Under a ~110-byte TMPDIR and java.io.tmpdir a socket path there
    would overflow AF_UNIX's 107 bytes: the session puts its sockets
    in a short directory instead and the Arrow stage returns its
    rows."""
    long_tmp = tmp_path / ("t" * max(1, 110 - len(str(tmp_path)) - 1))
    long_tmp.mkdir()
    assert len(str(long_tmp)) >= 110
    script = textwrap.dedent("""
        from metadata_wrangler_spark.operators.arrow_stage import arrow_stage
        from metadata_wrangler_spark.session import get_spark
        spark = get_spark("long_tmp", cpus=2)
        sock_dir = spark.conf.get("spark.python.unix.domain.socket.dir")
        assert len(sock_dir) + 43 <= 107, sock_dir
        rows = arrow_stage(
            spark.range(750).repartition(2), "long_tmp_identity",
            "id bigint", lambda pdf: pdf,
        ).collect()
        print("ROWS", sorted(r.id for r in rows) == list(range(750)))
        spark.stop()
    """)
    env = dict(
        os.environ,
        TMPDIR=str(long_tmp),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={long_tmp}",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert "AF_UNIX path too long" not in out.stderr
    assert out.returncode == 0, out.stderr[-4000:]
    assert "ROWS True" in out.stdout


def test_socket_dir_falls_back_to_tcp_when_no_base_fits(tmp_path, caplog):
    too_long = str(tmp_path / ("t" * 100))
    assert session._unix_socket_dir.__wrapped__((too_long,)) is None
    assert "over TCP" in caplog.text
    short = session._unix_socket_dir.__wrapped__((too_long, "/tmp"))
    assert os.path.dirname(short) == "/tmp"
    assert os.stat(short).st_mode & 0o777 == 0o700
    os.rmdir(short)


def test_default_driver_memory_is_capped_by_the_host():
    ram_mb = (os.sysconf("SC_PAGE_SIZE")
              * os.sysconf("SC_PHYS_PAGES")) // 2**20
    mem = session.default_driver_memory()
    assert mem.endswith("m")
    assert int(mem[:-1]) == min(16 * 1024, ram_mb // 2)
