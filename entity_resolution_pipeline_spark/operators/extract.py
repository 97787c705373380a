"""pages → records: deterministic field extraction.

The reference consumes pre-extracted catalog CSVs (preprocessing.py:215-222);
our input is the web-pages table of BASELINE.json:input_hint, so extraction
is a new, first-class stage.  The `text` column carries the labeled composite
("Contributor: …\\nTitle: …", the reference's composite format, FIXTURES.md
§2); `html` is the fallback source when `text` is null.

Extraction is pure JVM column expressions (`regexp_extract`) — whole-stage
codegen, no Python — so the byte-identical-per-url invariant is trivially
deterministic.  Null canonicalization follows the reference's token list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.normalize import null_canon_col

# composite labels → record fields, in RECORDS column order (reference
# composite format, visible in data/input/training_dataset.csv rows 2-7)
_FIELD_PATTERNS = {
    "person": r"Contributor: ([^\n]*)",
    "roles": r"Attribution: ([^\n]*)",
    "title": r"Title: ([^\n]*)",
    "provision": r"Provision information: ([^\n]*)",
    "subjects": r"Subjects: ([^\n]*)",
}

# html fallback: the synthetic template's class-tagged divs
_HTML_PATTERNS = {
    "person": r'<h1 class="person">([^<]*)</h1>',
    "title": r'<div class="work">([^<]*)</div>',
    "roles": r'<div class="roles">([^<]*)</div>',
    "subjects": r'<div class="subjects">([^<]*)</div>',
    "provision": r'<div class="provision">([^<]*)</div>',
}


def extract_records(pages: DataFrame) -> DataFrame:
    """(url, warc_ts, html, text, lang) → RECORDS, one pure per-row
    projection (batch extract and each ingest micro-batch run this).

    record_id is derived from the url tail (the synthetic generator encodes
    it there); composite is the extracted text itself — so `composite` is
    byte-identical to the page text per url, which is the invariant the
    tests pin.
    """
    text = F.coalesce(F.col("text"), F.decode(F.col("html"), "UTF-8"))
    cols = [
        F.regexp_replace(
            F.element_at(F.split(F.col("url"), "/"), -1), "_", "#"
        ).alias("record_id"),
        F.col("url"),
        null_canon_col(F.col("text")).alias("composite"),
    ]
    for field, pat in _FIELD_PATTERNS.items():
        extracted = F.regexp_extract(text, pat, 1)
        html_fallback = F.regexp_extract(F.decode(F.col("html"), "UTF-8"), _HTML_PATTERNS[field], 1)
        value = F.when(F.col("text").isNotNull(), extracted).otherwise(html_fallback)
        cols.append(null_canon_col(value).alias(field))
    return pages.select(*cols)
