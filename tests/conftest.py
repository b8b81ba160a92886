"""Shared SparkSession for the suite (session-scoped, local[4]).

Small-core master keeps per-test overhead low; end-to-end speed is measured
separately by perfbench/run.py (see perfbench/README.md).
"""

from __future__ import annotations

import pytest

from chrono_scraper_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="css-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pages(spark):
    """Small deterministic corpus, cached for the whole suite."""
    from chrono_scraper_spark.corpus import generate_pages

    df = generate_pages(spark, 120, partitions=4).cache()
    df.count()
    return df
