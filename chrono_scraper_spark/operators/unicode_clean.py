"""Unicode text normalization — the ftfy/CCNet-style cleanup pass every
web-text training pipeline runs before tokenization.

Two layers:

* ``clean_unicode`` — deterministic normalization as ONE Arrow-batched
  pass (stdlib ``unicodedata`` only):
  - NFC composition (é stays é whether the page sent it composed or as
    ``e + U+0301``; tokenizers and hashes then agree across sources);
  - zero-width characters removed (ZWSP/ZWNJ/ZWJ/BOM — invisible to
    readers, poison to dedup hashes);
  - C0/C1 control characters removed except ``\\t \\n \\r``;
  - NBSP (and narrow NBSP) → regular space.
  The DuckDB oracle reproduces this subset exactly
  (``nfc_normalize`` + regexp character-class replaces), so the
  contract query is value-checked end-to-end.
* ``fix_mojibake`` — the classic UTF-8-read-as-Latin-1 repair ("caf├®"
  / "cafÃ©" → "café"): re-encode as latin-1/cp1252 and decode as UTF-8
  when that round-trip (a) succeeds and (b) strictly reduces the
  mojibake marker count. Applied per-line-of-evidence, never
  speculatively — text without markers passes through byte-identical.
  Not SQL-expressible; correctness held by twin tests (the
  ``clean_unicode(fix_mojibake=True)`` path composes repair → NFC).

Scale shape: one ``mapInPandas``-free pandas UDF projection (zero
shuffles); Python is unavoidable here (Spark exposes no NFC builtin)
but it is a single Arrow crossing, the same budget as the extraction
UDF it would typically fuse next to.
"""

from __future__ import annotations

import re
import unicodedata

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

# zero-width: ZWSP, ZWNJ, ZWJ, BOM/ZWNBSP
_ZW_RE = re.compile("[\u200b\u200c\u200d\ufeff]")
# C0 (minus \t\n\r) + DEL + C1
_CTRL_RE = re.compile("[\x00-\x08\x0b\x0c\x0e-\x1f\x7f\x80-\x9f]")
# NBSP + narrow NBSP
_NBSP_RE = re.compile("[\u00a0\u202f]")
# mojibake markers: the Latin-1/cp1252 shadows of UTF-8 lead bytes
_MOJI_RE = re.compile("[\u00c3\u00c2\u00e2\u0192\u20ac\u2122\u0153]")


def _clean_one(s: str) -> str:
    s = _ZW_RE.sub("", s)
    s = _CTRL_RE.sub("", s)
    s = _NBSP_RE.sub(" ", s)
    return unicodedata.normalize("NFC", s)


def fix_mojibake(s: str) -> str:
    """Repair UTF-8-decoded-as-Latin-1/cp1252 text when the reverse
    round-trip succeeds AND strictly reduces mojibake markers; otherwise
    return the input unchanged."""
    before = len(_MOJI_RE.findall(s))
    if before == 0:
        return s
    for enc in ("latin-1", "cp1252"):
        try:
            repaired = s.encode(enc).decode("utf-8")
        except (UnicodeEncodeError, UnicodeDecodeError):
            continue
        if len(_MOJI_RE.findall(repaired)) < before:
            return repaired
    return s


def clean_unicode(docs: DataFrame, text_col: str = "text",
                  repair_mojibake: bool = False) -> DataFrame:
    """Append ``clean_text`` (normalized), ``n_removed`` (characters
    dropped/repaired away), and ``was_changed``. One Arrow pass, zero
    shuffles."""
    schema = StructType([
        StructField("clean_text", StringType()),
        StructField("n_removed", IntegerType()),
    ])

    @F.pandas_udf(schema)
    def _clean(texts: pd.Series) -> pd.DataFrame:
        outs, removed = [], []
        for t in texts:
            t = t or ""
            c = fix_mojibake(t) if repair_mojibake else t
            c = _clean_one(c)
            outs.append(c)
            removed.append(len(t) - len(c))
        return pd.DataFrame({"clean_text": outs, "n_removed": removed})

    r = _clean(F.col(text_col))
    return (docs
            .withColumn("clean_text", r["clean_text"])
            .withColumn("n_removed", r["n_removed"])
            .withColumn("was_changed",
                        F.col("clean_text") != F.coalesce(
                            F.col(text_col), F.lit(""))))
