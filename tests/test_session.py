"""The session's Python worker daemon (tstables_spark/_pydaemon.py):
zip archives on a worker's sys.path are re-read only when they change,
new archives still import, and sessions work from any cwd. Workers
connect over Unix domain sockets when the socket path fits."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import uuid
import zipfile
import zipimport

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


def test_invalidate_if_changed_rereads_only_changed_archives(tmp_path):
    """Unchanged archive: the importer keeps its directory object.
    Rewritten archive: its new member is found. Deleted archive: no
    exception."""
    from tstables_spark._pydaemon import _invalidate_if_changed

    arch = tmp_path / "mods.zip"
    _write_zip(arch, {"zc_mod_a.py": "X = 1\n"})
    imp = zipimport.zipimporter(str(arch))
    _invalidate_if_changed(imp)
    files = imp._files
    _invalidate_if_changed(imp)
    assert imp._files is files

    _write_zip(arch, {"zc_mod_a.py": "X = 1\n", "zc_mod_b.py": "Y = 2\n"})
    assert imp.find_spec("zc_mod_b") is None
    _invalidate_if_changed(imp)
    assert imp.find_spec("zc_mod_b") is not None

    arch.unlink()
    _invalidate_if_changed(imp)
    assert imp.find_spec("zc_mod_a") is None


def test_python_workers_skip_unchanged_zip_rereads(spark, tmp_path):
    """A Python worker runs the daemon's hook: invalidating import
    caches leaves the pyspark.zip importers' directories in place, and
    a module zip added with addPyFile imports in the next task."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        imps = [
            i
            for i in sys.path_importer_cache.values()
            if isinstance(i, zipimport.zipimporter) and i.archive.endswith("pyspark.zip")
        ]
        before = [i._files for i in imps]
        importlib.invalidate_caches()
        kept = bool(imps) and all(i._files is f for i, f in zip(imps, before))
        yield pd.DataFrame(
            {"hook": [zipimport.zipimporter.invalidate_caches.__qualname__], "kept": [kept]}
        )

    one = spark.range(10).repartition(1)
    row = one.mapInPandas(probe, "hook string, kept boolean").collect()[0]
    assert row.hook == "_invalidate_if_changed"
    assert row.kept

    mod = "zc_added_" + uuid.uuid4().hex[:8]
    arch = tmp_path / f"{mod}.zip"
    _write_zip(arch, {f"{mod}.py": "VALUE = 42\n"})
    spark.sparkContext.addPyFile(str(arch))

    def use(batches):
        import importlib

        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame({"v": [importlib.import_module(mod).VALUE]})

    assert one.mapInPandas(use, "v long").collect()[0].v == 42


def test_python_workers_use_unix_domain_sockets(spark):
    """A get_spark Python worker was started by a daemon listening on a
    Unix domain socket in the session's socket dir."""

    def probe(batches):
        import os

        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "uds": [os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED")],
                "dir": [os.environ.get("PYTHON_WORKER_FACTORY_SOCK_DIR")],
            }
        )

    one = spark.range(10).repartition(1)
    row = one.mapInPandas(probe, "uds string, dir string").collect()[0]
    assert row.uds.lower() == "true"
    assert row.dir == spark.sparkContext.getConf().get("spark.python.unix.domain.socket.dir")


def test_unix_socket_dir_decided_from_path_length(monkeypatch):
    """The socket dir is the temp dir when ``<dir>/.<uuid4>.sock`` fits
    AF_UNIX's 107 bytes (64-byte dir), else /tmp (65-byte dir), else
    no dir (TCP) when /tmp cannot be written."""
    from tstables_spark import session

    fits, too_long = "/" + "d" * 63, "/" + "d" * 64
    monkeypatch.setattr(session.os, "access", lambda path, mode: True)
    monkeypatch.setattr(session.tempfile, "gettempdir", lambda: fits)
    assert session._unix_socket_dir() == fits
    monkeypatch.setattr(session.tempfile, "gettempdir", lambda: too_long)
    assert session._unix_socket_dir() == "/tmp"
    monkeypatch.setattr(session.os, "access", lambda path, mode: path != "/tmp")
    assert session._unix_socket_dir() is None


def test_get_spark_with_long_temp_dir_runs_python_workers(tmp_path):
    """A driver whose TMPDIR and java.io.tmpdir are too long for a Unix
    socket path still starts get_spark and runs a mapInPandas, a
    toPandas and an accumulator, with its sockets in /tmp."""
    long_tmp = str(tmp_path / ("d" * 70))
    os.mkdir(long_tmp)
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from tstables_spark import get_spark
        spark = get_spark("long_tmp_probe", cpus=2)
        conf = spark.sparkContext.getConf()
        print(conf.get("spark.python.unix.domain.socket.enabled"),
              conf.get("spark.python.unix.domain.socket.dir"))

        def ident(batches):
            yield from batches

        df = spark.range(100).repartition(2)
        print(df.mapInPandas(ident, df.schema).count())
        print(int(df.toPandas()["id"].sum()))
        acc = spark.sparkContext.accumulator(0)
        df.foreach(lambda r: acc.add(r.id))
        print(acc.value)
        spark.stop()
        """
    )
    env = {
        **os.environ,
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "TMPDIR": long_tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={long_tmp}",
    }
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.split()[-5:] == ["true", "/tmp", "100", "4950", "4950"]


def test_get_spark_from_another_cwd_runs_python_workers(sf_dir, tmp_path):
    """A driver whose cwd is not the repo, with the repo only on its
    sys.path, runs a Python-UDTF query through get_spark."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from tstables_spark import get_spark
        from tstables_spark.plans.registry import QUERIES
        import tstables_spark.plans  # noqa: F401
        spark = get_spark("cwd_probe", cpus=2)
        print(QUERIES["udtf_apply_in_pandas"](spark, {sf_dir!r}).count())
        spark.stop()
        """
    )
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    env.pop("PYTHONPATH", None)
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.split()[-1] == "10000"
