"""The worker daemon's stamped `zipimporter.invalidate_caches`
(dataqualitykit_spark/_pydaemon.py): an unchanged archive is not re-read,
a changed one is re-read once and shared by every importer over it.

The zipimport checks run in a subprocess, so this pytest process's
zipimport module is never patched."""

from __future__ import annotations

import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]

_OLD_STDLIB = sys.version_info < (3, 13)


def _run(script: str, *args: str) -> str:
    done = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(script), *args],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert done.returncode == 0, done.stderr
    return done.stdout


@pytest.mark.skipif(not _OLD_STDLIB, reason="CPython >= 3.13 is left as is")
def test_unchanged_archive_is_not_reread_and_a_changed_one_once(tmp_path):
    out = _run(
        """
        import importlib.util, os, sys, zipfile, zipimport
        from dataqualitykit_spark._pydaemon import invalidate_caches

        archive = os.path.join(sys.argv[1], "lib.zip")
        pkgs = [f"pkg{i}" for i in range(11)]

        def build(modules):
            tmp = archive + ".tmp"
            with zipfile.ZipFile(tmp, "w") as z:
                for p in pkgs:
                    z.writestr(f"{p}/__init__.py", "")
                    for m in modules:
                        z.writestr(f"{p}/{m}.py", f"NAME = {m!r}")
                for m in modules:
                    z.writestr(f"{m}.py", f"NAME = {m!r}")
            os.replace(tmp, archive)

        build(["old"])
        # 12 importers: the archive root and one per package directory,
        # the shape of a worker's importers over pyspark.zip
        importers = [zipimport.zipimporter(archive)] + [
            zipimport.zipimporter(os.path.join(archive, p)) for p in pkgs
        ]

        reads = []
        stdlib_read = zipimport._read_directory

        def counting_read(path):
            reads.append(path)
            return stdlib_read(path)

        zipimport._read_directory = counting_read

        def invalidate_all():
            del reads[:]
            for imp in importers:
                invalidate_caches(imp)
            return len(reads)

        # this process has not read the archive through the stamped method
        # yet, so the first pass reads it once; the 11 others share it
        print("first", invalidate_all())
        print("unchanged", invalidate_all(), invalidate_all())

        build(["old", "new"])
        print("changed", invalidate_all())
        print("again", invalidate_all())
        names = []
        for imp in importers:
            spec = imp.find_spec("new")
            mod = importlib.util.module_from_spec(spec)
            spec.loader.exec_module(mod)
            names.append(mod.NAME)
        print("imported", names.count("new"))
        """,
        str(tmp_path),
    )
    assert out.split("\n") == [
        "first 1",
        "unchanged 0 0",
        "changed 1",
        "again 0",
        "imported 12",
        "",
    ]


@pytest.mark.skipif(not _OLD_STDLIB, reason="CPython >= 3.13 is left as is")
def test_importing_the_module_installs_nothing():
    out = _run(
        """
        import zipimport
        stdlib = zipimport.zipimporter.invalidate_caches
        from dataqualitykit_spark import _pydaemon
        print(zipimport.zipimporter.invalidate_caches is stdlib)
        _pydaemon._install()
        print(zipimport.zipimporter.invalidate_caches is _pydaemon.invalidate_caches)
        """
    )
    assert out.split() == ["True", "True"]


def test_the_daemon_imports_no_pipeline_dependencies():
    # `python -m dataqualitykit_spark._pydaemon` runs the package __init__;
    # its forked workers import the UDF stack when a task needs it
    out = _run(
        """
        import sys
        import dataqualitykit_spark._pydaemon
        print(sorted({"pandas", "numpy", "pyarrow", "pyspark.sql"} & set(sys.modules)))
        """
    )
    assert out.split() == ["[]"]


@pytest.mark.skipif(not _OLD_STDLIB, reason="CPython >= 3.13 is left as is")
def test_install_records_the_stamps_before_a_fork(tmp_path):
    out = _run(
        """
        import importlib, os, sys, zipfile, zipimport

        archive = os.path.join(sys.argv[1], "lib.zip")
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("pkg/__init__.py", "")
            z.writestr("pkg/mod.py", "")
        sys.path.insert(0, archive)
        import pkg.mod  # importers over the archive root and pkg/

        reads = []
        stdlib_read = zipimport._read_directory

        def counting_read(path):
            if path == archive:
                reads.append(path)
            return stdlib_read(path)

        zipimport._read_directory = counting_read
        from dataqualitykit_spark import _pydaemon

        _pydaemon._install()
        print("install", len(reads), flush=True)
        # the daemon forks its workers after the install: a worker's first
        # task invalidates and reads nothing
        pid = os.fork()
        if pid == 0:
            del reads[:]
            importlib.invalidate_caches()
            print("worker", len(reads), flush=True)
            os._exit(0)
        os.waitpid(pid, 0)
        """,
        str(tmp_path),
    )
    assert out.split("\n") == ["install 1", "worker 0", ""]


@pytest.mark.skipif(_OLD_STDLIB, reason="replaced on CPython < 3.13")
def test_new_stdlib_is_not_replaced():
    out = _run(
        """
        import zipimport
        stdlib = zipimport.zipimporter.invalidate_caches
        from dataqualitykit_spark import _pydaemon
        _pydaemon._install()
        print(zipimport.zipimporter.invalidate_caches is stdlib)
        """
    )
    assert out.split() == ["True"]


def test_python_workers_run_the_stamped_method(spark):
    def method_module(_):
        import zipimport

        yield zipimport.zipimporter.invalidate_caches.__module__

    got = spark.sparkContext.parallelize([0], 1).mapPartitions(method_module).collect()
    want = "dataqualitykit_spark._pydaemon" if _OLD_STDLIB else "zipimport"
    assert got == [want]
