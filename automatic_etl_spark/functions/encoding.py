"""Encoding detection/repair — the engine's ONLY pandas UDF (C13).

The reference detects encodings per value with chardet and a fallback
chain utf-8 → latin-1 → cp1252 → iso-8859-1 → ascii
(reference tools/data_cleaner_robust.py:39-41,67-123). This is
inherently per-value Python, so it is the one operator allowed off the
JVM — Arrow-batched (pandas UDF), never row-at-a-time, and kept off hot
paths (SURVEY.md §2.10).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql.functions import pandas_udf

try:  # optional dependency — not in the container; detection degrades
    import chardet  # type: ignore
except ImportError:  # pragma: no cover
    chardet = None

# Order matters AND determines reachability: latin-1 decodes EVERY
# byte string, so anything after it is dead code. cp1252 therefore
# goes first among the 8-bit encodings — it is the common real-world
# superset (Windows smart quotes at 0x93/0x94 decode to punctuation,
# where latin-1 would yield C1 control chars) and FAILS on its five
# unmapped bytes, falling through to latin-1 as the total catch-all.
_FALLBACK_ENCODINGS = ("utf-8", "cp1252", "latin-1")
_CONFIDENCE_THRESHOLD = 0.7


def _decode_bytes(raw: bytes, detect: bool = True) -> str:
    if detect and chardet is not None:
        guess = chardet.detect(raw)
        if guess.get("confidence", 0) > _CONFIDENCE_THRESHOLD and guess.get(
            "encoding"
        ):
            try:
                return raw.decode(guess["encoding"])
            except (UnicodeDecodeError, LookupError):
                pass
    for enc in _FALLBACK_ENCODINGS:
        try:
            return raw.decode(enc)
        except UnicodeDecodeError:
            continue
    return raw.decode("utf-8", errors="replace")


def _decode_series(series: pd.Series) -> pd.Series:
    return series.map(lambda v: None if v is None else _decode_bytes(bytes(v)))


def _decode_series_no_detect(series: pd.Series) -> pd.Series:
    return series.map(
        lambda v: None if v is None else _decode_bytes(bytes(v), detect=False)
    )


# UDFs are created lazily: decorating at module scope breaks when the
# worker re-imports this module without an active SparkSession.
_UDF_CACHE: dict[str, object] = {}


def decode_binary(c: Column | str, detect: bool = True) -> Column:
    """binary → str via detection + fallback chain (C11 + C13).

    ``detect=False`` skips the chardet guess and runs ONLY the
    deterministic fallback chain utf-8 → latin-1 → cp1252 →
    iso-8859-1 → ascii — the oracle-checkable subset (chardet's
    statistical guess would make results depend on its model version).
    """
    key = "decode" if detect else "decode_no_detect"
    if key not in _UDF_CACHE:
        fn = _decode_series if detect else _decode_series_no_detect
        _UDF_CACHE[key] = pandas_udf(fn, "string")
    return _UDF_CACHE[key](c)
