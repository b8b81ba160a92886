"""Per-family contract-query modules.

Each ``q_*`` module exports Spark query functions (``q_<name>``:
(spark, sf_dir) -> DataFrame) and their DuckDB oracle SQL
(``SQL_<NAME>``); ``_shared`` holds the CDX frontier helpers and CTE
preludes they build on. ``entry_queries`` star-imports every ``q_*``
module and names each entry in its ``QUERIES`` / ``ORACLES`` dicts, the
registry that ``__spark_entry__`` serves.
"""
