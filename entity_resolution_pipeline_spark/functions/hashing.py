"""Deterministic string hashing with reference parity.

The reference hashes every normalized field value to the decimal rendering of
the 128-bit MD5 integer (src/utils.py:88-112), with a hardcoded sentinel for
empty/whitespace-only strings (src/utils.py:98-99) that is *not* md5("") —
replicated verbatim because downstream artifacts key on it.

Spark-side we cannot express the 128-bit hex→decimal conversion with builtin
exprs (`F.conv(F.md5(c), 16, 10)` saturates at 64 bits, and Decimal(38,0)
cannot hold 2**128-1), so the hash runs inside vectorized Arrow pandas UDFs.
hashlib's C MD5 over an Arrow batch keeps this off the per-row-Python slow
path.
"""

from __future__ import annotations

import hashlib
import re

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from ..config import EMPTY_STRING_HASH

_WS_RE = re.compile(r"\s+")


def compute_string_hash(text: str | None) -> str:
    """Decimal-string MD5 of ``text``; sentinel for empty/whitespace.

    Parity: reference src/utils.py:88-112 (incl. the non-md5("") sentinel and
    the str() coercion of non-string inputs).
    """
    if not text or text.strip() == "":
        return EMPTY_STRING_HASH
    if not isinstance(text, str):
        text = str(text)
    return str(int(hashlib.md5(text.encode("utf-8")).hexdigest(), 16))


def normalize_string(text: str | None) -> str:
    """Collapse whitespace runs to single spaces and strip.

    Parity: reference preprocessing.py:414-430 (`re.sub(r'\\s+',' ',text).strip()`).
    Done in Python `re` (not Java regex) so the byte-identical-per-url
    invariant holds for Unicode whitespace classes where Python's \\s and
    Java's \\s disagree (e.g. U+001C-001F).
    """
    if text is None:
        return ""
    if not isinstance(text, str):
        text = str(text)
    return _WS_RE.sub(" ", text).strip()


def _hash_series(s: pd.Series) -> pd.Series:
    return s.map(compute_string_hash)


@pandas_udf(StringType())
def string_hash_udf(s: pd.Series) -> pd.Series:
    """Arrow-vectorized decimal-MD5 hash of a string column."""
    return _hash_series(s)


@pandas_udf(StringType())
def normalize_udf(s: pd.Series) -> pd.Series:
    """Arrow-vectorized Python-`re` whitespace normalization (exact parity
    path; see `normalize.py` for the JVM-side approximation used where
    byte-parity is not required)."""
    return s.map(normalize_string)
