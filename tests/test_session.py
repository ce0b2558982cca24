"""Python workers of a ``get_spark`` session: they import the package from
its own directory and run under ``nail_parquet_spark._daemon``, which
re-reads an import archive only when it changed on disk."""

import os
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PATCHED = sys.version_info < (3, 13)  # 3.13's invalidation is already lazy


def _in_task(spark, fn):
    """``fn()``'s result, run inside one Python task of ``spark``."""
    return spark.sparkContext.parallelize([0], 1).mapPartitions(lambda _: [fn()]).collect()[0]


def test_python_tasks_run_under_the_library_daemon(spark):
    """The session selects the daemon, and a task's worker was forked from
    it: ``__main__`` is the daemon module, and before Python 3.13 the
    archive invalidation is the daemon's (3.13 is left as it is)."""
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == \
        "nail_parquet_spark._daemon"

    def probe():
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        return (sys.modules["__main__"].__spec__.name,
                sys.modules[fn.__module__].__spec__.name)

    main, owner = _in_task(spark, probe)
    assert main == "nail_parquet_spark._daemon"
    assert owner == ("nail_parquet_spark._daemon" if PATCHED else "zipimport")


def test_unchanged_archives_are_not_reread(spark):
    """A warm worker's ``importlib.invalidate_caches()`` (PySpark calls it
    before every task) reads no archive directory; the stock re-read, run
    under the same counter, reads one per call."""
    def probe():
        import importlib
        import zipimport

        importers = [f for f in sys.path_importer_cache.values()
                     if isinstance(f, zipimport.zipimporter)]
        read = zipimport._read_directory
        calls = []

        def counted(path):
            calls.append(path)
            return read(path)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
            importlib.invalidate_caches()
            rereads = len(calls)
            sys.modules["__main__"]._reread(importers[0])
            stock = len(calls) - rereads
        finally:
            zipimport._read_directory = read
        return len(importers), rereads, stock

    importers, rereads, stock = _in_task(spark, probe)
    assert importers >= 3  # pyspark.zip, the spark-core jar, py4j
    assert rereads == 0
    assert stock == (1 if PATCHED else 0)


_FORK = """
import importlib
import os
import sys
import zipfile
import zipimport

sys.path.insert(0, {root!r})
from nail_parquet_spark import _daemon

archive = {archive!r}
with zipfile.ZipFile(archive, "w") as z:
    z.writestr("nps_prime_mod.py", "X = 1\\n")
sys.path.insert(0, archive)
import nps_prime_mod  # the archive's importer, as the daemon's imports make


def first_task_reads():
    pid = os.fork()
    if pid == 0:
        calls = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda p: calls.append(p) or read(p)
        importlib.invalidate_caches()
        os._exit(len(calls))
    return os.waitstatus_to_exitcode(os.waitpid(pid, 0)[1])


if sys.version_info < (3, 13):
    zipimport.zipimporter.invalidate_caches = _daemon.invalidate_caches
unprimed = first_task_reads()
_daemon.prime()
print("READS", unprimed, first_task_reads())
"""


def test_workers_forked_after_prime_read_no_archive(tmp_path):
    """A worker forked after the daemon's start-up step (:func:`prime`)
    reads no archive directory on its first invalidation: it inherits the
    stat keys. Forked with the patch installed but not primed, it reads
    the archive once (before 3.13)."""
    out = subprocess.run(
        [sys.executable, "-c", _FORK.format(root=str(ROOT),
                                            archive=str(tmp_path / "m.zip"))],
        capture_output=True, text=True, timeout=120)
    assert out.stdout.split() == ["READS", "1" if PATCHED else "0", "0"], \
        out.stderr[-4000:]


def test_changed_archive_is_reread(spark, tmp_path):
    """An archive on ``sys.path`` rewritten in place (new size and mtime,
    same inode) is re-read on the next invalidation, so a module added
    to it imports."""
    archive = str(tmp_path / "mods.zip")

    def probe():
        import importlib
        import zipfile

        def write(name, source):
            with zipfile.ZipFile(archive, "w") as z:
                z.writestr(f"{name}.py", source)

        write("nps_zip_m1", "X = 1\n")
        sys.path.insert(0, archive)
        try:
            import nps_zip_m1

            ino = os.stat(archive).st_ino
            write("nps_zip_m2", "Y = 22\n")
            st = os.stat(archive)
            os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
            importlib.invalidate_caches()
            import nps_zip_m2

            return nps_zip_m1.X, nps_zip_m2.Y, os.stat(archive).st_ino == ino
        finally:
            sys.path.remove(archive)
            sys.path_importer_cache.pop(archive, None)
            for m in ("nps_zip_m1", "nps_zip_m2"):
                sys.modules.pop(m, None)

    assert _in_task(spark, probe) == (1, 22, True)


def test_added_py_file_imports_on_warm_workers(spark, tmp_path):
    """An archive added with ``addPyFile`` after the workers are warm gets
    its own importer: later tasks import from it."""
    sc = spark.sparkContext
    sc.parallelize(range(8), 4).map(lambda x: x).collect()
    archive = tmp_path / "nps_added_pkg.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("nps_added_mod.py", "VALUE = 'added'\n")
    sc.addPyFile(str(archive))

    def probe(_):
        import nps_added_mod

        yield nps_added_mod.VALUE

    assert sc.parallelize(range(4), 4).mapPartitions(probe).collect() == ["added"] * 4


_DRIVER = """
import os
import sys
sys.path.insert(0, {root!r})
import pyarrow as pa
import pyarrow.parquet as pq
from nail_parquet_spark.codec.decode import decode_parquet_dir
from nail_parquet_spark.codec.encode import encode_parquet_dir
from nail_parquet_spark.session import get_spark
from nail_parquet_spark.synth import make_webpages_batch

spark = get_spark("outside", master="local[2]", shuffle_partitions=2,
                  extra_conf={{"spark.driver.memory": "1g"}})
src = pa.Table.from_batches([make_webpages_batch(3, 0, 200)])
path = os.path.abspath
pq.write_table(src, path("src.parquet"), row_group_size=100)
encode_parquet_dir(spark, path("src.parquet"), path("enc"), num_partitions=2).collect()
decode_parquet_dir(spark, path("enc"), path("dec")).collect()
back = pq.read_table(path("dec")).select(src.column_names).sort_by("url")
assert back.equals(src.sort_by("url")), "round trip differs"
spark.stop()
print("ROUNDTRIP OK")
"""


def test_workers_import_the_package_from_any_directory(tmp_path):
    """A driver started outside the repo with no ``PYTHONPATH`` still gets
    Python workers that import the package (and the daemon module)."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", _DRIVER.format(root=str(ROOT))],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600)
    assert "ROUNDTRIP OK" in out.stdout, out.stderr[-4000:]
