"""o2g_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Re-expresses the conceptual operator set of the reference (hiposfer/o2g,
an OSM→GTFS extraction ETL; see SURVEY.md §2.A) as a general geospatial
kernel over Common-Crawl-style web-page tables, per BASELINE.json:

- hierarchical cell index (Morton/quadkey, S2-style) — :mod:`o2g_spark.kernels.cells`
- geotag extraction from page text — :mod:`o2g_spark.functions.geotag`
- cell-indexed point-in-polygon joins — :mod:`o2g_spark.operators.pip`
- kNN via iterative k-ring expansion — :mod:`o2g_spark.operators.knn`
- raster↔vector tile assignment — :mod:`o2g_spark.operators.tiles`
- skew handling (salting + adaptive resolution split) — :mod:`o2g_spark.operators.skew`
- checkpoint/lineage + resume — :mod:`o2g_spark.plans.checkpoint`
- training-data ops (dedup, similarity, text analysis) —
  :mod:`o2g_spark.operators.dedup`, :mod:`o2g_spark.operators.similarity`,
  :mod:`o2g_spark.functions.text`

Everything is DataFrame-first: Catalyst plans the physical execution;
Python appears only inside Arrow-vectorized pandas UDFs.
"""

__version__ = "0.1.0"

from o2g_spark.session import install_worker_import_guard

# every engine UDF pickles references into this package, so each Python
# worker installs the guard on its first task (a no-op on the driver)
install_worker_import_guard()
