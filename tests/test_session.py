"""cache_latest registry: session-keyed, locked, clearable; the
worker-side zip invalidation guard; the content-named package zip."""

import importlib
import os
import shutil
import subprocess
import sys
import zipfile
import zipimport
from typing import Iterator

import pyarrow as pa
from pyspark import StorageLevel
from pyspark.sql import functions as F

from o2g_spark import session as S
from o2g_spark.operators import pip
from o2g_spark.sources import synth


def _is_cached(df) -> bool:
    return df.storageLevel != StorageLevel.NONE


def test_cache_latest_evicts_only_same_key(spark):
    a1 = S.cache_latest("op.a", spark.range(10))
    b1 = S.cache_latest("op.b", spark.range(20))
    a1.count(), b1.count()
    assert _is_cached(a1) and _is_cached(b1)
    a2 = S.cache_latest("op.a", spark.range(30))
    a2.count()
    assert not _is_cached(a1)          # previous same-key cache released
    assert _is_cached(b1) and _is_cached(a2)  # other key untouched


def test_cache_latest_concurrent_keys_dont_clobber(spark):
    """Interleaved pipelines under DIFFERENT keys never unpersist each
    other even when racing from threads."""
    import threading

    frames = {}

    def run(key):
        f = S.cache_latest(key, spark.range(50))
        f.count()
        frames[key] = f

    ts = [threading.Thread(target=run, args=(f"op.t{i}",)) for i in range(6)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert all(_is_cached(f) for f in frames.values())
    S.clear_caches(spark)


def test_cache_latest_same_plan_recache_stays_cached(spark):
    """Re-running an IDENTICAL query through cache_latest (the bench
    shape) must leave the new frame cached: Spark's CacheManager keys
    entries by logical plan, so unpersisting the previous frame AFTER
    persisting an identical-plan one evicts both (the r3 regression:
    minhash_lsh recomputed its signature every scan, 1.9s → 21s)."""
    for _ in range(3):
        f = S.cache_latest("op.same", spark.range(40))
        f.count()
        assert _is_cached(f)
    S.clear_caches(spark)


def test_clear_caches_releases_everything(spark):
    f1 = S.cache_latest("op.c1", spark.range(5))
    f2 = S.cache_latest("op.c2", spark.range(6))
    f1.count(), f2.count()
    n = S.clear_caches(spark)
    assert n >= 2
    assert not _is_cached(f1) and not _is_cached(f2)
    assert S.clear_caches(spark) == 0


def test_cache_latest_isolates_newsession(spark):
    """Sessions sharing one SparkContext (newSession) share an
    applicationId — the registry key must still tell them apart so one
    session's cache_latest never evicts the other's (ADVICE r3 #3)."""
    s2 = spark.newSession()
    # distinct plans: the JVM CacheManager is PLAN-keyed per context,
    # so identical plans share one storage entry regardless of session
    # — the registry can only isolate what the JVM keeps separate
    a1 = S.cache_latest("op.shared", spark.range(10))
    a1.count()
    a2 = S.cache_latest("op.shared", s2.range(11))
    a2.count()
    assert _is_cached(a1) and _is_cached(a2)
    # clear_caches scoping is per session too
    assert S.clear_caches(s2) == 1
    assert _is_cached(a1) and not _is_cached(a2)
    S.clear_caches(spark)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_zip_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    """Under the guard an unchanged archive is not re-read by
    importlib.invalidate_caches(); once it is rewritten with one more
    module it is re-read, and the new module imports."""
    archive = str(tmp_path / "guarded.zip")
    _write_zip(archive, {"o2g_guard_a": "X = 1\n"})
    reads = []
    read = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        S._stat_guarded(zipimport.zipimporter.invalidate_caches),
    )
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("o2g_guard_a").X == 1
        importlib.invalidate_caches()  # the guard's first read of it
        n = reads.count(archive)
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads.count(archive) == n

        _write_zip(archive, {"o2g_guard_a": "X = 1\n", "o2g_guard_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) == n + 1
        assert importlib.import_module("o2g_guard_b").Y == 2
    finally:
        for name in ("o2g_guard_a", "o2g_guard_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_pyfiles_zip_named_by_content(tmp_path):
    """A build from a changed copy of the package writes its own
    archive and leaves an earlier build's file untouched; rebuilding
    unchanged sources returns the existing archive."""
    first = S.build_pyfiles_zip()
    with open(first, "rb") as f:
        before = f.read()
    st = os.stat(first)
    pkg = os.path.dirname(os.path.abspath(S.__file__))
    copy = tmp_path / "o2g_spark"
    shutil.copytree(pkg, copy, ignore=shutil.ignore_patterns("__pycache__"))
    (copy / "_changed.py").write_text("X = 1\n")
    other = subprocess.run(
        [sys.executable, "-c", "from o2g_spark.session import "
         "build_pyfiles_zip; print(build_pyfiles_zip())"],
        cwd=tmp_path, env={**os.environ, "PYTHONPATH": str(tmp_path)},
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    try:
        assert other != first
        with zipfile.ZipFile(other) as zf:
            assert "o2g_spark/_changed.py" in zf.namelist()
        with open(first, "rb") as f:
            assert f.read() == before
        assert os.stat(first).st_mtime_ns == st.st_mtime_ns
        assert S.build_pyfiles_zip() == first
    finally:
        if other != first and os.path.exists(other):
            os.remove(other)


def test_worker_import_guard_installed_in_workers_only(spark, zones_pdf):
    """After an engine-UDF job every Python worker runs the guarded
    invalidation, and a repeated invalidation re-reads no archive of the
    worker's path (Spark's jar, pyspark.zip, the shipped package); the
    driver keeps the stdlib method."""
    pts = spark.createDataFrame([(1, 0.0, 0.0)], "pid long, lat double, lon double")
    pip.pip_join(pts, synth.zone_rings(zones_pdf), res=8).count()

    def probe(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        import importlib
        import sys
        import zipimport

        import o2g_spark  # noqa: F401

        guard = zipimport.zipimporter.invalidate_caches.__module__
        n_zip = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or read(p)
        try:
            importlib.invalidate_caches()
            reads.clear()
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        for b in batches:
            yield pa.array([f"{guard} {n_zip > 0} {len(reads)}"] * len(b))

    got = {
        r.m for r in spark.range(16).repartition(8)
        .select(F.arrow_udf(probe, "string")("id").alias("m")).collect()
    }
    assert got == {"o2g_spark.session True 0"}
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
