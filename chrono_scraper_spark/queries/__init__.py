"""Per-family contract-query modules.

The crawl, search and analytics ``q_*`` modules export Spark query
functions (``q_<name>``: (spark, sf_dir) -> DataFrame) and their DuckDB
oracle SQL (``SQL_<NAME>``); ``_shared`` holds the CDX frontier helpers
and CTE preludes they build on. ``recommend`` and the service-analytics
families (``q_dashboard``, ``q_keys``, ``q_plans``, ``q_queryplan``,
``q_batchsched``, ``q_optimizer``, ``q_cachemgr``) export ready-made
``QUERIES`` / ``ORACLES`` fragments instead. ``entry_queries`` assembles
both into the registry that ``__spark_entry__`` serves.
"""
