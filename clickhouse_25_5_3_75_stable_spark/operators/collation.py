"""ORDER BY ... COLLATE (SURVEY §2.6, reference
/root/reference/src/Columns/Collator.h — ICU-backed locale-aware
comparison attached to ORDER BY).

Spark 4 ships native string collations (UTF8_BINARY, UTF8_LCASE,
UNICODE, UNICODE_CI, UNICODE_AI, UNICODE_CI_AI and locale variants),
evaluated JVM-side inside codegen — no UDF. The reference's
``COLLATE 'locale'`` maps onto them: case-insensitive intent →
UNICODE_CI, accent-insensitive → UNICODE_AI, both → UNICODE_CI_AI;
a bare locale name keeps UNICODE semantics (root-locale ICU order,
which is what the reference uses for most locales)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_ALIASES = {
    "ci": "UNICODE_CI",
    "case_insensitive": "UNICODE_CI",
    "ai": "UNICODE_AI",
    "accent_insensitive": "UNICODE_AI",
    "ci_ai": "UNICODE_CI_AI",
    "binary": "UTF8_BINARY",
    "lcase": "UTF8_LCASE",
}


def collate(col: Column | str, collation: str = "UNICODE_CI") -> Column:
    """Column with a comparison collation attached (sorting, =, <, >,
    GROUP BY all honor it)."""
    c = F.col(col) if isinstance(col, str) else col
    name = _ALIASES.get(collation.lower(), collation)
    return F.collate(c, name)
