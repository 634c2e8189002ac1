"""SparkSession factory tuned for this engine.

One place for the settings that matter for correctness (UTC timestamps —
DuckDB oracle comparison) and for scale (AQE, Arrow batching, shuffle
partitions sized to cores instead of the 200 default), plus the Python
worker's per-task import guard (:func:`install_worker_import_guard`).
"""

from __future__ import annotations

import hashlib
import os
import sys
import tempfile
import threading
import uuid
import zipfile
import zipimport
from collections import OrderedDict

from pyspark import TaskContext
from pyspark.sql import SparkSession


def _stat_guarded(invalidate):
    """Wrap ``zipimporter.invalidate_caches`` so an archive's directory
    is re-read only when its ``(st_mtime_ns, st_size, st_ino)`` changed
    since the last read, or when the stat fails."""
    read_at: dict[str, tuple] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            key = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and files is not None and read_at.get(self.archive) == key:
            self._files = files  # another importer of it may have re-read
            return
        invalidate(self)
        if key is not None:
            read_at[self.archive] = key

    return invalidate_caches


def install_worker_import_guard() -> None:
    """In a Python UDF worker, stop re-reading unchanged zip archives on
    every task.

    Before each task PySpark's ``setup_spark_files`` calls
    ``importlib.invalidate_caches()``. On CPython 3.10-3.12 that makes
    every ``zipimporter`` in ``sys.path_importer_cache`` re-read its
    archive's central directory at once. The worker's path carries
    Spark's ``spark-core`` jar (15 MB, 5,359 entries, no ``.py`` file;
    two importers, 50-170 ms together) and ``pyspark.zip`` (one importer
    per package, 70-130 ms together). With 4 tasks at once on a 4-vCPU
    host that is 120-300 ms per task, whatever the rows; an empty Arrow
    UDF paid about 290 ms per wave of 4 tasks. Guarded, the call takes
    about 0.1 ms.

    The guard keeps that call's purpose, picking up a replaced or newly
    shipped py-file: an archive whose stat changed (or cannot be read)
    is re-read as before. It is installed once per worker process, when
    ``o2g_spark`` is first imported inside a task, so the driver keeps
    the stdlib method. CPython 3.13 made the invalidation lazy, so there
    it does nothing.
    """
    if sys.version_info >= (3, 13) or TaskContext.get() is None:
        return
    cls = zipimport.zipimporter
    if cls.invalidate_caches.__module__ != __name__:
        cls.invalidate_caches = _stat_guarded(cls.invalidate_caches)


def build_pyfiles_zip(out_path: str | None = None) -> str:
    """Zip the ``o2g_spark`` package for ``spark-submit --py-files``.

    The north rule runs the engine via ``--py-files`` on a multi-executor
    cluster; locally :func:`get_spark` ships the same zip via
    ``addPyFile`` so Python workers can import the package regardless of
    the caller's cwd/sys.path (exactly what a real cluster requires).

    The default path is named by a digest of the package sources
    (``<tmp>/o2g_spark_pyfiles-<digest>.zip``), so processes running
    different checkouts never share one archive; an existing archive is
    reused. The archive is written under a temporary name and moved
    into place with ``os.replace``, so no reader sees a half-written
    file.
    """
    pkg_root = os.path.dirname(os.path.abspath(__file__))
    sources = []
    for dirpath, dirnames, filenames in os.walk(pkg_root):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                rel = os.path.join("o2g_spark", os.path.relpath(full, pkg_root))
                with open(full, "rb") as f:
                    sources.append((rel, f.read()))
    if out_path is None:
        digest = hashlib.sha256()
        for rel, data in sources:
            digest.update(rel.encode() + b"\0" + hashlib.sha256(data).digest())
        out_path = os.path.join(
            tempfile.gettempdir(),
            f"o2g_spark_pyfiles-{digest.hexdigest()[:16]}.zip",
        )
        if os.path.exists(out_path):
            return out_path
    tmp = f"{out_path}.{uuid.uuid4().hex}.tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
        for rel, data in sources:
            info = zipfile.ZipInfo(rel, date_time=(1980, 1, 1, 0, 0, 0))
            zf.writestr(info, data, zipfile.ZIP_DEFLATED)
    os.replace(tmp, out_path)
    return out_path


def get_spark(
    app_name: str = "o2g_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or
    ``local[*]``. ``shuffle_partitions`` defaults to 2× the local
    parallelism — small enough to avoid tiny-task overhead locally,
    honest about what a real cluster would set (≈2–3× total cores).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "*"
        cores = os.cpu_count() or 8
        shuffle_partitions = 2 * (cores if n == "*" else max(1, int(n)))

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # InferFiltersFromGenerate clones the generator expression into
        # a pre-explode Filter — for our explodes the generator is an
        # expensive regex/encode array and explode drops empties anyway,
        # so the inferred filter just re-evaluates it per row (seen in
        # the geotag plan: regexp_extract_all computed twice)
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # local mode = ONE JVM hosting all executor threads: size the
        # heap for the whole "cluster", not a driver (8g across 32
        # threads = 256 MB/task → OOM at the 20M-page kNN stage)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        .config("spark.ui.enabled", "false")
        # deterministic float formatting between runs
        .config("spark.sql.legacy.respectNullabilityInTextDatasetConversion", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Ship the package to Python workers (--py-files equivalent); without
    # this, pandas UDFs fail to unpickle when the caller's cwd isn't the
    # repo root — on a real cluster this is mandatory, not optional.
    spark.sparkContext.addPyFile(build_pyfiles_zip())
    return spark


# ------------------------------------------------- bounded operator caches

_live_caches: dict = {}
_memo: OrderedDict = OrderedDict()
_MEMO_MAX = 4
_caches_lock = threading.Lock()
_ALL = object()  # clear_caches sentinel: every session's entries


def _sid(session) -> tuple | None:
    # (applicationId, id(session)): applicationId alone is shared by
    # every SparkSession spawned via newSession() on one context, so it
    # cannot isolate per-session caches; the Python wrapper identity
    # disambiguates (stable for the session's lifetime — the registry
    # entry itself keeps the session object alive via df.sparkSession,
    # so the id can't be recycled while the key is live).
    try:
        return (session.sparkContext.applicationId, id(session))
    except Exception:
        return None


def _session_key(df, key: str) -> tuple:
    # key per (session, operator): two sessions sharing an operator name
    # must not unpersist each other's caches, and a stopped session's
    # entries must not pin frames forever under a live session's key
    return (_sid(df.sparkSession), key)


def cache_latest(key: str, df):
    """persist() with a bounded lifetime: each call under the same
    (session, key) unpersists the PREVIOUS call's cache before caching
    the new frame.

    Why: Spark's CacheManager never releases a persisted plan when the
    caller drops the DataFrame (unlike localCheckpoint blocks, which
    the ContextCleaner GCs — but checkpoint stores row-format blocks
    and measured 2-3× slower than the compressed columnar cache for
    the shingle/signature tables this serves). Keeping exactly the
    most recent cache per operator bounds storage in long-lived
    sessions; a caller still holding an older result just recomputes
    lazily on its next action.

    The registry is keyed by ((application id, session identity),
    operator name) — sessions created via ``newSession()`` share one
    application id, so the session wrapper identity is part of the key
    to keep the documented per-session isolation true — and the
    pop/persist pair runs under a lock, so concurrent pipelines in one
    process (or two sessions sharing operator names) never unpersist
    each other's caches. Call :func:`clear_caches` at job teardown to
    release everything the session still pins.

    ORDER MATTERS: the previous cache is unpersisted BEFORE the new
    frame persists. Spark's CacheManager registers cache entries by
    LOGICAL PLAN — when the new call has the identical plan (re-running
    the same query, the bench's exact shape), persist-then-unpersist
    would re-register the same entry and immediately evict it, leaving
    the new frame silently uncached (measured: minhash_lsh 1.9 s →
    21 s and climbing across bench iterations).
    """
    skey = _session_key(df, key)
    # one critical section for pop→unpersist→persist→insert: splitting
    # it lets two same-key racers both pop-empty and both persist, and
    # the loser's frame leaks outside the registry forever. unpersist/
    # persist are driver-side metadata calls (non-blocking), so holding
    # the lock across them is cheap.
    with _caches_lock:
        prev = _live_caches.pop(skey, None)
        if prev is not None:
            try:
                prev.unpersist()
            except Exception:
                pass  # session of the old frame may already be stopped
        df = df.persist()
        _live_caches[skey] = df
    return df


def session_memo(spark: SparkSession, key, build):
    """``build()`` once per (session, key), e.g. a broadcast index; keeps
    the ``_MEMO_MAX`` most recently used values. An evicted value is only
    dropped, never destroyed: a lazily built frame may still use it."""
    sid = _sid(spark)
    if sid is None:
        return build()
    skey = (sid, key)
    with _caches_lock:
        if skey in _memo:
            _memo.move_to_end(skey)
            return _memo[skey]
        value = _memo[skey] = build()
        while len(_memo) > _MEMO_MAX:
            _memo.popitem(last=False)
    return value


def clear_caches(spark: SparkSession | None = None) -> int:
    """Unpersist every registry entry (or only the given session's) and
    drop its :func:`session_memo` values — the explicit teardown hook for
    long-lived processes. Returns the number of caches released. A
    session whose id can no longer be read (already stopped) clears
    nothing — NOT everything: other live sessions' caches must survive
    its teardown."""
    if spark is None:
        sid = _ALL
    else:
        sid = _sid(spark)
        if sid is None:
            return 0  # stopped/broken session: nothing identifiable
    with _caches_lock:
        victims = [
            k for k in _live_caches if sid is _ALL or k[0] == sid
        ]
        frames = [_live_caches.pop(k) for k in victims]
        for k in [k for k in _memo if sid is _ALL or k[0] == sid]:
            del _memo[k]
    for f in frames:
        try:
            f.unpersist()
        except Exception:
            pass
    return len(frames)
