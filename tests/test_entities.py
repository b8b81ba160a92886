"""Pattern-based NER analog: entity extraction."""

from __future__ import annotations

from pyspark.sql import functions as F

from chrono_scraper_spark.functions.entities import extract_entities


def test_extract_entities_types_and_order(spark):
    df = spark.createDataFrame(
        [("Meet Jane Doe on 2022-01-31, mail jane@x.org, "
          "see https://x.org/a costs $9.99",)], "text string")
    ents = df.select(extract_entities(F.col("text")).alias("e")).first()["e"]
    got = {(e["entity_type"], e["entity"]) for e in ents}
    assert ("date", "2022-01-31") in got
    assert ("email", "jane@x.org") in got
    assert ("url", "https://x.org/a") in got
    assert ("person", "Meet Jane Doe") in got  # greedy capitalized span
    assert ("money", "$9.99") in got
