"""oco3_data_transformer_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of EarthDigitalTwin/OCO3-data-transformer.

The reference (read-only at /root/reference) is a single-node xarray/numpy ETL
pipeline; this package re-expresses its operator inventory (SURVEY.md §2) as
idiomatic Spark DataFrame/SQL transformations so Catalyst supplies planning and
the engine scales horizontally:

- ``operators/``  — sessionization (island detection, ref
  processors/OCO3SamProcessor.py:356-432), filters, joins (broadcast target
  lookup, nearest-centroid association, binned interval join), gridding,
  aggregations, dedup, similarity search.
- ``functions/``  — scalar/text/vector/hashing column expressions, all
  JVM-side ``pyspark.sql.functions`` compositions (no row-at-a-time UDFs).
- ``sources/``    — granule-style readers and the testdata table registry.
- ``sinks/``      — partitioned append store with verify/dedup semantics
  (ref writers/ZarrWriter.py:328-408) and export adapters.
- ``plans/``      — end-to-end pipeline compositions (ref main.py:138-645)
  and the climatology query module (ref tools/climatology/main.py).
- ``streaming/``  — Structured Streaming ingest with day-completeness
  hold-back (ref tools/deploy/run.py:257-305).
"""

__version__ = "0.1.0"
