"""The Python worker daemon: zip archives are re-read only when they change,
and ``get_spark`` sessions find the daemon from any working directory, and
import the driver's ``olympian_spark``, not one in that directory."""

import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from olympian_spark import worker_daemon  # noqa: E402


def _count_reads(monkeypatch) -> list:
    """Count ``zipimport._read_directory`` calls from now on."""
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_import_does_not_patch():
    """Only the daemon's ``__main__`` installs the patch."""
    assert zipimport.zipimporter.invalidate_caches is not worker_daemon._invalidate_if_changed


def test_unchanged_archive_not_reread_changed_archive_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"daemon_mod_a": "X = 1\n"})
    monkeypatch.setattr(worker_daemon, "_read_at", {})
    monkeypatch.syspath_prepend(archive)
    for name in ("daemon_mod_a", "daemon_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    importer = zipimport.zipimporter(archive)
    sibling = zipimport.zipimporter(archive)
    monkeypatch.setitem(sys.path_importer_cache, archive, importer)

    reads = _count_reads(monkeypatch)
    worker_daemon._invalidate_if_changed(importer)  # unknown: read once
    assert reads == [archive]
    worker_daemon._invalidate_if_changed(importer)
    worker_daemon._invalidate_if_changed(sibling)  # same archive, same stat
    assert reads == [archive]
    assert sibling._files is importer._files

    import daemon_mod_a

    assert daemon_mod_a.X == 1

    # rewritten in place with a new module: the next invalidation re-reads
    _write_zip(archive, {"daemon_mod_a": "X = 1\n", "daemon_mod_b": "Y = 2\n"})
    worker_daemon._invalidate_if_changed(importer)
    assert reads == [archive, archive]
    import daemon_mod_b

    assert daemon_mod_b.Y == 2


def test_worker_invalidate_caches_reads_no_archive(spark):
    """In a Python task, a second ``importlib.invalidate_caches()`` (the
    worker already ran one in ``setup_spark_files``) re-reads no archive."""

    def probe(batches):
        import importlib

        import pyarrow as pa

        calls = []
        real = zipimport._read_directory

        def counting(archive):
            calls.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for _ in batches:
            yield pa.RecordBatch.from_pydict({"reads": [len(calls)]})

    got = spark.range(1, numPartitions=1).mapInArrow(probe, "reads long").collect()
    assert [r.reads for r in got] == [0]


_SMOKE = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, {repo!r})
    from olympian_spark.session import get_spark

    spark = get_spark(app_name="daemon_smoke", cores=2)

    def kernel(batches):
        import os
        if os.environ.get("SMOKE_HELPER"):
            import smoke_helper  # only on the caller's PYTHONPATH
        for b in batches:
            yield b

    n = spark.range(100, numPartitions=2).mapInArrow(kernel, "id long").count()
    spark.stop()
    print("rows", n)
    """
)


@pytest.mark.parametrize("pythonpath", [False, True], ids=["unset", "set"])
def test_get_spark_workers_from_any_cwd(tmp_path, pythonpath):
    """The daemon starts via ``python -m`` before any task, so a session
    started outside the repo must still find ``olympian_spark`` — and keep
    whatever the caller's PYTHONPATH already provides."""
    script = tmp_path / "smoke.py"
    script.write_text(_SMOKE.format(repo=REPO))
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.pop("PYTHONPATH", None)
    env.update(SPARK_GRAFT_DRIVER_MEM="1g", SPARK_GRAFT_LOCAL_DIR=str(tmp_path / "local"))
    if pythonpath:
        extra = tmp_path / "extra"
        extra.mkdir()
        (extra / "smoke_helper.py").write_text("")
        env.update(PYTHONPATH=str(extra), SMOKE_HELPER="1")
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "rows 100" in out.stdout


_WHICH = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, {repo!r})
    from olympian_spark.session import get_spark

    spark = get_spark(app_name="daemon_which", cores=1)

    def kernel(batches):
        import olympian_spark
        import pyarrow as pa
        for _ in batches:
            yield pa.RecordBatch.from_pydict({{"f": [olympian_spark.__file__]}})

    got = spark.range(1, numPartitions=1).mapInArrow(kernel, "f string").collect()
    spark.stop()
    print("worker", got[0].f)
    """
)


def test_workers_import_the_drivers_package_not_the_cwds(tmp_path):
    """A driver started from a directory that holds another ``olympian_spark``
    (say, another checkout) runs its tasks with the package it imported:
    ``python -m`` would put that directory first on the workers' path."""
    stub = tmp_path / "olympian_spark"
    stub.mkdir()
    (stub / "__init__.py").write_text("")
    (stub / "worker_daemon.py").write_text(
        "import pyspark.daemon\n\nif __name__ == '__main__':\n    pyspark.daemon.manager()\n"
    )
    script = tmp_path / "which.py"
    script.write_text(_WHICH.format(repo=REPO))
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.pop("PYTHONPATH", None)
    env.update(SPARK_GRAFT_DRIVER_MEM="1g", SPARK_GRAFT_LOCAL_DIR=str(tmp_path / "local"))
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert f"worker {os.path.join(REPO, 'olympian_spark', '__init__.py')}" in out.stdout
