"""The Python worker daemon's stat check on zip-directory re-reads."""

import importlib
import os
import subprocess
import sys
import uuid
import zipfile
import zipimport

from catme_etl_j_spark import worker_daemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name, source in members.items():
            z.writestr(name, source)


def _count_reads(monkeypatch):
    calls = []
    read = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_checked_invalidate_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    # Restored at teardown, so the check stays out of the rest of the run.
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    worker_daemon.install()
    tag = uuid.uuid4().hex[:8]
    first, second = f"zd_first_{tag}", f"zd_second_{tag}"
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {f"{first}.py": "VALUE = 1\n"})
    monkeypatch.setattr(sys, "path", [archive] + sys.path)
    try:
        assert importlib.import_module(first).VALUE == 1
        reads = _count_reads(monkeypatch)
        importlib.invalidate_caches()  # the new importer's one stamping read
        assert reads == [archive]

        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == []  # unchanged archive: not re-read

        # what sc.addPyFile relies on: a rewritten archive's new member
        # is importable after the per-task invalidate_caches()
        _write_zip(archive, {f"{first}.py": "VALUE = 1\n", f"{second}.py": "VALUE = 2\n"})
        importlib.invalidate_caches()
        assert reads == [archive]
        assert importlib.import_module(second).VALUE == 2

        reads.clear()
        os.remove(archive)
        importlib.invalidate_caches()  # cannot be stat'ed: re-read (and fail as stock does)
        assert reads == [archive]
    finally:
        for name in (first, second):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_python_tasks_run_with_checked_invalidate_and_see_added_pyfiles(spark, tmp_path):
    def task_report(_):  # nested: pickled by value, workers cannot import tests/
        import importlib
        import zipimport

        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda archive: reads.append(archive) or read(archive)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        check = zipimport.zipimporter.invalidate_caches
        zips = [v for v in sys.path_importer_cache.values() if isinstance(v, zipimport.zipimporter)]
        return [(check.__code__.co_filename, len(zips), len(reads))]

    sc = spark.sparkContext
    reports = sc.parallelize(range(2), 2).mapPartitions(task_report).collect()
    for filename, zips, reads in reports:
        assert filename.endswith(os.path.join("catme_etl_j_spark", "worker_daemon.py"))
        assert zips > 0 and reads == 0  # Spark's zips are on the path, none re-read

    name = f"zd_shipped_{uuid.uuid4().hex[:8]}"
    shipped = str(tmp_path / f"{name}.zip")
    _write_zip(shipped, {f"{name}.py": "VALUE = 42\n"})
    sc.addPyFile(shipped)
    got = sc.parallelize(range(2), 2).map(
        lambda _: importlib.import_module(name).VALUE
    ).collect()
    assert got == [42, 42]


def test_get_spark_workers_import_the_package_from_any_cwd(tmp_path, sf_dir):
    script = (
        f"import sys; sys.path.insert(0, {ROOT!r})\n"
        "from catme_etl_j_spark.session import get_spark\n"
        "from catme_etl_j_spark.operators.dedup import _minhash_df\n"
        "from catme_etl_j_spark.sources.tables import load_table\n"
        "spark = get_spark('daemon-cwd', cpus='2')\n"
        "print('LAMBDA', spark.sparkContext.parallelize(range(10), 2).map(lambda x: x + 1).sum())\n"
        f"sf = {sf_dir!r}\n"
        "print('MINHASH', _minhash_df(spark, sf).count(), load_table(spark, sf, 'documents').count())\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = dict(line.split(" ", 1) for line in proc.stdout.splitlines() if " " in line)
    assert lines["LAMBDA"] == "55"
    signatures, documents = lines["MINHASH"].split()
    assert int(signatures) == int(documents) > 0
