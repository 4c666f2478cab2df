"""The once-per-process zip directory hook (parquet4seastar_spark/_alloc.py):
``importlib.invalidate_caches()``, which pyspark's worker calls before every
task, must not re-read an unchanged zip archive on sys.path, and must still
re-read one that changed."""

import os
import subprocess
import sys
import textwrap

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13+ invalidates zip caches lazily; no hook"
)


def test_unchanged_zip_is_not_reread_changed_zip_is(tmp_path):
    # a fresh interpreter, in the order a worker sees it: the zip is
    # imported from first, then the package (and so the hook) is imported
    code = textwrap.dedent(
        """
        import importlib, os, sys, zipfile, zipimport

        zpath = sys.argv[1]
        with zipfile.ZipFile(zpath, "w") as z:
            z.writestr("zmod/__init__.py", "X = 1\\n")
            z.writestr("zmod/sub.py", "Y = 2\\n")
        sys.path.insert(0, zpath)
        import zmod.sub  # one zipimporter for the root, one for zmod/

        reads = []
        real = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        importlib.invalidate_caches()
        print("UNHOOKED", sum(a == zpath for a in reads))

        del reads[:]
        import parquet4seastar_spark  # installs the hook, seeds the stats

        for _ in range(3):
            importlib.invalidate_caches()
        print("UNCHANGED", sum(a == zpath for a in reads))

        del reads[:]
        st = os.stat(zpath)
        with zipfile.ZipFile(zpath, "a") as z:
            z.writestr("zmod/added.py", "Z = 3\\n")
        os.utime(zpath, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        importlib.invalidate_caches()
        print("CHANGED", sum(a == zpath for a in reads))
        import zmod.added
        print("IMPORTED", zmod.added.Z)
        """
    )
    r = subprocess.run(
        [sys.executable, "-c", code, str(tmp_path / "lib.zip")],
        capture_output=True, text=True, cwd=REPO,
        env=dict(os.environ, PYTHONPATH=REPO),
    )
    assert r.returncode == 0, r.stderr
    out = dict(line.split() for line in r.stdout.splitlines())
    assert int(out["UNHOOKED"]) >= 2  # the stock method: one per zipimporter
    assert out["UNCHANGED"] == "0"
    assert int(out["CHANGED"]) >= 1
    assert out["IMPORTED"] == "3"


def test_reused_worker_rereads_nothing_in_later_tasks(spark):
    """In a reused Python worker, the tasks after the one that imported
    the package re-read no zip directory (pyspark's own setup_spark_files
    calls importlib.invalidate_caches() before each of them)."""

    def probe(_):
        import os
        import zipimport

        from parquet4seastar_spark import _alloc  # noqa: F401

        state = getattr(zipimport, "_p4s_probe", None)
        if state is None:
            # first task of this worker: count re-reads from now on
            state = zipimport._p4s_probe = {"reads": 0}
            real = zipimport._read_directory

            def counting(archive):
                state["reads"] += 1
                return real(archive)

            zipimport._read_directory = counting
            yield (os.getpid(), False, 0, 0)
            return
        reads, state["reads"] = state["reads"], 0
        yield (os.getpid(), True, reads, len(zipimport._zip_directory_cache))

    sc = spark.sparkContext
    seen = []
    for _ in range(8):
        seen += sc.parallelize(range(4), 4).mapPartitions(probe).collect()
    later = [s for s in seen if s[1]]
    assert later, seen  # some worker ran more than one task
    assert all(n_zips >= 1 for _, _, _, n_zips in later), later  # zips on its path
    assert all(reads == 0 for _, _, reads, _ in later), later
