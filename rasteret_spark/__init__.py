"""rasteret_spark — a PySpark-native spatial-join + tiling engine.

Built from scratch (NOT a port) with the query/data-processing capabilities of
terrafloww/rasteret: tiled-image byte-range reads driven by a one-time
header-cache enrichment pass, fixed-resolution quadtree cell covers for
spatial joins (point-in-polygon, k-ring kNN, zonal extraction), as-of/latest
selection, cell-key salting for hot cells, and per-partition lineage for resumable runs.

Everything is expressed as lazy DataFrame plans (Catalyst does pruning,
pushdown, AQE); Python only runs inside vectorized Arrow/pandas UDFs.
"""

__version__ = "0.1.0"
