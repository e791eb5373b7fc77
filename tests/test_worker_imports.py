"""The zip-importer guard installed in Spark Python workers
(``presto_bloomfilter_spark/_worker.py``): the driver keeps the stdlib
``zipimporter.invalidate_caches``; inside a task an unchanged archive is
not re-read, and a rewritten one still is."""

import zipimport

import presto_bloomfilter_spark  # noqa: F401  (the import installs the guard in a task)
from presto_bloomfilter_spark import _worker


def test_driver_keeps_stdlib_invalidate_caches():
    fn = zipimport.zipimporter.invalidate_caches
    assert not _worker.zip_guard_installed()
    assert fn.__code__.co_filename != _worker.__file__
    _worker.install_zip_guard()  # no TaskContext here: still a no-op
    assert zipimport.zipimporter.invalidate_caches is fn


def test_unchanged_archive_is_not_reread_across_tasks(spark):
    """Each worker's zip importers keep their directory dicts from one
    task to the next.  64 one-row tasks cycle through the idle-worker
    queue, so some worker runs several of them."""
    def files_identity(rows):
        import importlib
        import os
        import sys
        import zipimport

        import presto_bloomfilter_spark  # noqa: F401
        from presto_bloomfilter_spark._worker import zip_guard_installed

        importlib.invalidate_caches()  # a worker's first guarded call stamps its importers
        ids = {(imp.archive, imp.prefix): id(imp._files)
               for imp in sys.path_importer_cache.values()
               if isinstance(imp, zipimport.zipimporter)}
        for i in rows:
            yield os.getpid(), i, zip_guard_installed(), ids

    out = spark.sparkContext.parallelize(range(64), 64).mapPartitions(files_identity).collect()
    assert all(guarded for _, _, guarded, _ in out)
    by_pid = {}
    for pid, i, _, ids in sorted(out, key=lambda r: r[1]):
        by_pid.setdefault(pid, []).append(ids)
    reused = {pid: seen for pid, seen in by_pid.items() if len(seen) > 1}
    assert reused, "no Python worker ran two of the tasks"
    for seen in reused.values():
        common = set.intersection(*(set(ids) for ids in seen))
        assert common, "no zip importer on the worker's sys.path"
        assert all(ids[k] == seen[0][k] for ids in seen for k in common)


def test_rewritten_archive_is_reread_in_a_task(spark):
    def rewrite_and_import(_):
        import importlib
        import os
        import sys
        import tempfile
        import uuid
        import zipfile

        import presto_bloomfilter_spark  # noqa: F401
        from presto_bloomfilter_spark._worker import zip_guard_installed

        first, second = (f"m_{uuid.uuid4().hex}" for _ in range(2))
        path = os.path.join(tempfile.mkdtemp(), "mods.zip")

        def write(*names):
            with zipfile.ZipFile(path, "w") as z:
                for name in names:
                    z.writestr(f"{name}.py", f"NAME = {name!r}\n")

        write(first)
        sys.path.insert(0, path)
        try:
            importlib.invalidate_caches()
            got = [importlib.import_module(first).NAME]
            importlib.invalidate_caches()  # the importer now holds a stamp
            write(first, second)
            importlib.invalidate_caches()
            got.append(importlib.import_module(second).NAME)
        finally:
            sys.path.remove(path)
            sys.path_importer_cache.pop(path, None)
        yield zip_guard_installed(), got == [first, second]

    out = spark.sparkContext.parallelize([0], 1).mapPartitions(rewrite_and_import).collect()
    assert out == [(True, True)]
