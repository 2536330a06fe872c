"""Text-analysis functions (north-star X4): language identification —
a per-document function a training-data pipeline runs before
dedup/filtering.

The SQL-expressible versions power catalog queries (q47/q48/q50); the
pandas UDF here is the natural-language-strength version for real
corpora, Arrow-batched so Python touches each batch once.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

# Marker-token profiles: tiny per-language sets of high-frequency words.
# A real deployment would ship char-trigram profiles (Cavnar-Trenkle);
# marker scoring is the same argmax structure with a fraction of the
# table size, and is deterministic and dependency-free.
_MARKERS: dict[str, frozenset[str]] = {
    "en": frozenset("the of and to in is you that it for was with his they at".split()),
    "es": frozenset("el la de que y en un ser se no por con para como su".split()),
    "de": frozenset("der die und das ist nicht ein ich mit sich auf für sie".split()),
    "fr": frozenset("le la et les des que une dans est pour qui pas sur ce".split()),
}
_CJK = re.compile(r"[一-鿿]")
_TOKEN = re.compile(r"[^\W\d_]+", re.UNICODE)


def detect_language(text: str | None) -> str:
    """Heuristic language ID: CJK character-class check for zh, then
    marker-token argmax; 'unknown' when nothing scores."""
    if not text:
        return "unknown"
    if _CJK.search(text):
        return "zh"
    tokens = [t.lower() for t in _TOKEN.findall(text)]
    if not tokens:
        return "unknown"
    scores = {
        lang: sum(1 for t in tokens if t in markers) for lang, markers in _MARKERS.items()
    }
    best = max(sorted(scores), key=lambda k: scores[k])  # sorted => deterministic ties
    return best if scores[best] > 0 else "unknown"


@pandas_udf(T.StringType())
def langid_udf(texts: pd.Series) -> pd.Series:
    return texts.map(detect_language, na_action=None)
