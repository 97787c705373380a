"""Column-expression text normalization (JVM fast path).

Two tiers:

* :func:`normalize_ws_col` — whole-stage-codegen whitespace collapse used
  where the byte-identical invariant is over ASCII/standard-Unicode content
  (the oracle-checked operators over the synthetic `documents` table).
  `(?U)` makes Java's \\s match the Unicode White_Space set.
* `hashing.normalize_udf` — the exact-parity Python-`re` path used by the
  record pipeline (reference invariant, preprocessing.py:414-430).

Null canonicalization follows reference config.yml:63 + preprocessing.py
254-255/329/337: the literal tokens NULL/null/""/None/NA/N-A and SQL NULL all
mean "missing".
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import NULL_VALUES


def normalize_ws_col(c: Column) -> Column:
    """`trim(regexp_replace(c, '(?U)\\s+', ' '))` — JVM-side, codegen-friendly."""
    return F.trim(F.regexp_replace(c, r"(?U)\s+", " "))


def null_canon_col(c: Column) -> Column:
    """Map reference null tokens (and SQL NULL) to NULL, else pass through."""
    return F.when(c.isNull() | c.isin(*NULL_VALUES), F.lit(None)).otherwise(c)
