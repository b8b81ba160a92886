"""Per-family contract-query modules.

The crawl, search and analytics ``q_*`` modules export Spark query
functions (``q_<name>``: (spark, sf_dir) -> DataFrame) and their DuckDB
oracle SQL (``SQL_<NAME>``); ``_shared`` holds the CDX frontier helpers
and CTE preludes they build on. Only ``recommend`` and the batch-job
scheduler ``q_batchsched`` export ready-made ``QUERIES`` / ``ORACLES``
fragments instead. ``entry_queries`` assembles
both into the registry that ``__spark_entry__`` serves.
"""
