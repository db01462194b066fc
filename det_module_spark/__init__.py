"""det_module_spark — a PySpark-native analytics engine.

A from-scratch re-founding of the query surface of ``aiddata/det-module``
(reference surveyed in SURVEY.md) on Apache Spark:

- declarative request specs -> logical item plans (plans/)
- the zonal-statistics aggregate vocabulary (operators/extract_types.py)
- mean-surface-raster allocation pipeline (operators/msr.py)
- grid-bucketed spatial join (operators/spatial.py)
- wide-merge + column naming algebra (operators/merge.py)
- content-addressed result cache (plans/cache.py)
- LLM-data-pipeline extensions: dedup, similarity search, text analysis,
  multimodal columns (operators/dedup.py, similarity.py, text.py,
  multimodal.py)
- Structured Streaming front-end (streaming/)

Everything is expressed DataFrame-first so Catalyst handles pushdown,
pruning, join planning and AQE; Pandas UDFs are reserved for geometry
kernels that have no native Column expression.
"""

__version__ = "0.1.0"
