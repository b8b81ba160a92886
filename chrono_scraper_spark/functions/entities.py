"""Pattern-based entity extraction — the deterministic NER analog.

The reference extracts entities with spaCy/Firecrawl backends
(backend/app/services/entity_backends.py:15-116,219-308) and feeds them into
search documents (meilisearch_service.py:199-297) and content_analytics
entity counters. Those models aren't in this container, so — exactly like
``langid`` stands in for langdetect — a deterministic regex family stands in
for the NER model: dates, URLs, emails, capitalized person-like spans,
money amounts. Every pattern is RE2/Java-portable, so entity output is
value-checkable in the DuckDB oracle.

All extraction is ``regexp_extract_all`` column expressions (JVM-side,
whole-stage codegen); swapping in a real model later means replacing ONE
column with a pandas-UDF column — the schema (array<struct<entity_type,
entity>>) stays.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# (entity_type, regex) — order defines output order; regexes portable to
# DuckDB's RE2 verbatim (oracle side uses the same strings)
ENTITY_PATTERNS: list[tuple[str, str]] = [
    ("date", r"\d{4}-\d{2}-\d{2}"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("url", r"https?://[A-Za-z0-9./_%#?=&-]+"),
    ("person", r"[A-Z][a-z]+(?: [A-Z][a-z]+)+"),
    ("money", r"[$€£]\d+(?:\.\d+)?"),
]


def extract_entities(text: Column) -> Column:
    """array<struct<entity_type:string, entity:string>> — every pattern
    match, in pattern order then document order (duplicates preserved,
    mirroring per-mention NER output)."""
    def _typed(etype: str, pat: str) -> Column:
        # NB: a two-arg transform lambda would receive the ARRAY INDEX as its
        # second argument — close over etype instead
        def tag(m: Column) -> Column:
            return F.struct(F.lit(etype).alias("entity_type"),
                            m.alias("entity"))

        return F.transform(
            F.regexp_extract_all(F.coalesce(text, F.lit("")),
                                 F.lit(pat), F.lit(0)),
            tag,
        )

    return F.concat(*[_typed(e, p) for e, p in ENTITY_PATTERNS])
