"""chrono_scraper_spark — a PySpark-native crawl-and-index analytics engine.

A from-scratch reimplementation of the query / data-processing capabilities of
the reference crawl pipeline (linksmith/chrono-scraper) as an idiomatic Spark
engine: a URL-frontier + fetch scheduler over snapshot-versioned columnar
tables, with an exact URL-seen anti-join, a per-host politeness
priority queue, vectorized Arrow UDF html→text extraction, a tokenized
inverted-term full-text index, and an analytics layer — all declared with the
DataFrame / Spark SQL API so Catalyst plans the physical execution.

Design notes (scale-first):
- All hot-path expressions are JVM-side (``pyspark.sql.functions``); Python
  only appears as Arrow-batched pandas UDFs (extraction, embeddings).
- The crawl dedups against ``url_seen`` with an exact anti-join. Above
  100,000 ``url_seen`` rows (``plans/crawl.py::BLOOM_THRESHOLD``) it
  Bloom-prefilters the candidates first, so the exact join touches only
  "maybe seen" rows (see ``operators/dedup.py``).
- The frontier is hash-partitioned on a *salted* host key so a mega-host
  cannot pin a single task (see ``operators/politeness.py``).
- Tables are partitioned Parquet with an Iceberg-style snapshot manifest
  (``catalog.py``); on a real cluster the same code targets an Iceberg
  catalog (no Iceberg runtime jar ships in this sandbox).
"""

__version__ = "0.1.0"
