"""The Python-worker daemon (``bitfilters_spark._daemon``): zip archives are
re-read only when they change, the daemon's heap is frozen out of the
workers' garbage collections, and sessions run their workers through it."""

import importlib
import os
import subprocess
import sys
import uuid
import zipfile
import zipimport

from pyspark.sql import functions as F

from bitfilters_spark import _daemon
from bitfilters_spark.session import WORKER_CONF


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_zip_archive_reread_only_when_changed(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    a, b = (f"bf_zip_{c}_{uuid.uuid4().hex[:8]}" for c in "ab")
    _write_zip(archive, {a: "X = 1\n"})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", _daemon.invalidate_caches
    )
    reads = []
    reread = _daemon._reread

    def spy(self):
        if self.archive == archive:
            reads.append(self)
        reread(self)

    monkeypatch.setattr(_daemon, "_reread", spy)
    monkeypatch.syspath_prepend(archive)
    for m in (a, b):
        monkeypatch.delitem(sys.modules, m, raising=False)

    assert importlib.import_module(a).X == 1
    importer = sys.path_importer_cache[archive]
    assert isinstance(importer, zipimport.zipimporter)

    importlib.invalidate_caches()  # first call: no stamp yet, reads
    assert reads == [importer]
    importlib.invalidate_caches()  # unchanged archive: not re-read
    importlib.invalidate_caches()
    assert reads == [importer]

    _write_zip(archive, {a: "X = 1\n", b: "Y = 2\n"})
    importlib.invalidate_caches()  # rewritten: re-read once
    assert reads == [importer, importer]
    assert importlib.import_module(b).Y == 2


def test_workers_run_the_package_daemon(spark, tmp_path):
    key, module = next(iter(WORKER_CONF.items()))
    assert spark.sparkContext.getConf().get(key) == module

    @F.udf("string")
    def reread_method(_):
        import zipimport

        f = zipimport.zipimporter.invalidate_caches
        return f"{f.__module__}.{f.__qualname__}"

    got = {
        r[0] for r in spark.range(0, 4, 1, 4).select(reread_method("id")).collect()
    }
    assert got == {f"{module}.invalidate_caches"}

    # a zip shipped after the workers started still imports in them
    name = f"bf_pyfile_{uuid.uuid4().hex[:8]}"
    archive = str(tmp_path / f"{name}.zip")
    _write_zip(archive, {name: "VALUE = 7\n"})
    spark.sparkContext.addPyFile(archive)

    @F.udf("long")
    def shipped_value(_):
        import importlib

        return importlib.import_module(name).VALUE

    rows = spark.range(0, 4, 1, 4).select(shipped_value("id")).collect()
    assert [r[0] for r in rows] == [7, 7, 7, 7]


def test_daemon_freezes_its_heap_before_forking():
    """``main``'s set-up ends with ``gc.freeze()``: when the fork loop
    starts, everything the daemon imported is in the permanent generation,
    and a collection there (each reused worker runs one after every task)
    walks only what is left, not the ~75k imported objects."""
    probe = (
        "import gc\n"
        "from pyspark import daemon\n"
        "def manager():\n"
        "    frozen = gc.get_freeze_count()\n"
        "    gc.collect()\n"
        "    print(frozen, gc.get_freeze_count(), len(gc.get_objects()))\n"
        "daemon.manager = manager\n"
        "from bitfilters_spark._daemon import main\n"
        "main()\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", probe], cwd=root, capture_output=True, text=True,
        check=True,
    ).stdout
    frozen, after, walked = map(int, out.split())
    assert frozen > 10_000
    assert after == frozen
    assert walked < frozen // 10


def test_workers_inherit_a_frozen_heap(spark):
    @F.udf("long")
    def freeze_count(_):
        import gc

        return gc.get_freeze_count()

    rows = spark.range(0, 4, 1, 4).select(freeze_count("id")).collect()
    assert all(r[0] > 0 for r in rows)
