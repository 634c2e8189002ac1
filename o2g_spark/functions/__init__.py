"""Column functions + vectorized Arrow UDFs.

Layering rule (BASELINE.json: "never per-row Python"):

1. Pure ``pyspark.sql.functions`` Column expressions — JVM-side, inside
   whole-stage codegen (cell encode, tile math, distances). The default.
2. Arrow ``pandas_udf`` wrapping a numpy kernel — only where Catalyst
   has no primitive (regex extractall fan-out, ray-cast refine).
3. Row-at-a-time ``F.udf`` — forbidden in this codebase.

Tier 2 pays a fixed cost per Python task, whatever the rows. Before each
task PySpark calls ``importlib.invalidate_caches()``, which on CPython
3.10-3.12 re-reads every zip archive on the worker's path, Spark's
``spark-core`` jar included: 120-300 ms per task on a 4-vCPU host.
:func:`o2g_spark.session.install_worker_import_guard` (run when a worker
first imports ``o2g_spark``) re-reads only archives whose stat changed,
which brings an empty Arrow UDF from about 290 to about 75 ms per wave
of 4 tasks.
"""
