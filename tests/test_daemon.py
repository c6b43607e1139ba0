"""The worker daemon's stat-validated zip directory cache.

Unit tests (no Spark) drive ``install_zip_directory_cache`` against a
temporary zip on ``sys.path`` and count ``zipimport._read_directory``
calls; the Spark test runs a ``build_session`` session in a subprocess
(one SparkContext per process) and checks the cache from inside tasks.
"""

import importlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from t_digest_spark import daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pre313 = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="the stdlib rereads zip directories eagerly only before 3.13")


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(name, src)


@pytest.fixture()
def installed():
    original = zipimport.zipimporter.invalidate_caches
    daemon.install_zip_directory_cache()
    try:
        yield
    finally:
        zipimport.zipimporter.invalidate_caches = original


@pytest.fixture()
def zip_on_path(tmp_path):
    """A zip holding package ``zpkg`` (with a submodule) on sys.path,
    imported so that it has a root and a package-directory importer."""
    path = str(tmp_path / "pkgs.zip")
    _write_zip(path, {"zpkg/__init__.py": "A = 1\n",
                      "zpkg/sub.py": "B = 2\n"})
    sys.path.insert(0, path)
    importlib.invalidate_caches()
    try:
        import zpkg.sub  # noqa: F401
        importers = [imp for imp in sys.path_importer_cache.values()
                     if isinstance(imp, zipimport.zipimporter)
                     and imp.archive == path]
        assert len(importers) >= 2
        yield path, importers
    finally:
        sys.path.remove(path)
        for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
            del sys.path_importer_cache[key]
        for mod in [m for m in sys.modules
                    if m == "m2" or m.split(".")[0] == "zpkg"]:
            del sys.modules[mod]
        zipimport._zip_directory_cache.pop(path, None)


@pytest.fixture()
def reads(monkeypatch):
    """Archive paths passed to zipimport._read_directory, in order."""
    calls = []
    original = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@pre313
def test_stdlib_rereads_once_per_importer(zip_on_path, reads):
    path, importers = zip_on_path
    importlib.invalidate_caches()
    assert reads.count(path) == len(importers)


@pre313
def test_reads_once_then_never(installed, zip_on_path, reads):
    path, importers = zip_on_path
    importlib.invalidate_caches()
    assert reads.count(path) == 1
    del reads[:]
    importlib.invalidate_caches()
    assert reads.count(path) == 0
    cached = zipimport._zip_directory_cache[path]
    assert all(imp._files is cached for imp in importers)


@pre313
def test_rewritten_archive_is_reread(installed, zip_on_path, reads):
    path, importers = zip_on_path
    importlib.invalidate_caches()
    _write_zip(path, {"zpkg/__init__.py": "A = 1\n",
                      "zpkg/sub.py": "B = 2\n",
                      "m2.py": "C = 3\n"})
    del reads[:]
    importlib.invalidate_caches()
    assert reads.count(path) == 1
    import m2
    assert m2.C == 3


@pre313
def test_deleted_archive_as_stdlib(installed, zip_on_path, reads):
    path, importers = zip_on_path
    importlib.invalidate_caches()
    os.remove(path)
    importlib.invalidate_caches()
    assert all(imp._files == {} for imp in importers)
    assert path not in zipimport._zip_directory_cache


@pre313
def test_install_twice_wraps_once(installed):
    first = zipimport.zipimporter.invalidate_caches
    daemon.install_zip_directory_cache()
    assert zipimport.zipimporter.invalidate_caches is first
    assert first.stat_validated


def test_noop_from_313(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    daemon.install_zip_directory_cache()
    assert zipimport.zipimporter.invalidate_caches is original


def test_import_installs_nothing():
    assert not getattr(zipimport.zipimporter.invalidate_caches,
                       "stat_validated", False)


_SPARK_SCRIPT = textwrap.dedent("""
    import json, os, sys, zipfile
    import pyarrow as pa
    from t_digest_spark.session import build_session

    spark = build_session("local[2]", 2, **{"spark.ui.enabled": "false"})

    def probe(batches):
        import importlib, zipimport
        for _ in batches:
            pass
        calls = []
        original = zipimport._read_directory
        zipimport._read_directory = lambda p: (calls.append(p), original(p))[1]
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        yield pa.RecordBatch.from_pydict({
            "library": [bool(getattr(zipimport.zipimporter.invalidate_caches,
                                     "stat_validated", False))],
            "reads": [len(calls)],
            "importers": [sum(isinstance(v, zipimport.zipimporter)
                              for v in sys.path_importer_cache.values())],
        })

    schema = "library boolean, reads long, importers long"
    df = spark.range(0, 100, 1, 4)
    df.mapInArrow(probe, schema).collect()
    rows = df.mapInArrow(probe, schema).collect()

    added = os.path.join(sys.argv[1], "added.zip")
    with zipfile.ZipFile(added, "w") as zf:
        zf.writestr("tds_added_mod.py", "VALUE = 42\\n")
    spark.sparkContext.addPyFile(added)

    def use_added(batches):
        import tds_added_mod
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"v": [tds_added_mod.VALUE]})

    values = [r.v for r in df.mapInArrow(use_added, "v long").collect()]
    print(json.dumps({
        "daemon": spark.conf.get("spark.python.daemon.module", ""),
        "tasks": [r.asDict() for r in rows],
        "values": values,
    }), flush=True)
    spark.stop()
""")


@pre313
def test_daemon_cache_in_spark_tasks(tmp_path):
    script = tmp_path / "probe.py"
    script.write_text(_SPARK_SCRIPT)
    env = dict(os.environ, PYTHONPATH=REPO)
    proc = subprocess.run([sys.executable, str(script), str(tmp_path)],
                          cwd=REPO, env=env, capture_output=True, text=True,
                          timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["daemon"] == "t_digest_spark.daemon"
    assert len(out["tasks"]) == 4
    for task in out["tasks"]:
        assert task["library"] is True
        assert task["importers"] >= 2
        assert task["reads"] == 0
    assert out["values"] == [42] * 4
