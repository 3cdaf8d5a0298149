"""Locale-tolerant numeric parsing (reference op21, etl/etl_ida.py:422-429).

The reference strips '%' and swaps ',' for '.' before float(); failures map
to None.  Spark equivalent is pure built-ins: one ``translate`` + a cast,
which under ``spark.sql.ansi.enabled=false`` yields NULL on bad input —
exactly the reference's None semantics.  Stays inside whole-stage codegen
(no UDF).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


_FLOAT_RE = (
    r"(?i)^[+-]?((\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?|inf(inity)?|nan)$"
)


def parse_locale_number(col: Column | str) -> Column:
    """'12,34' → 12.34; '56,7%' → 56.7; '-', '', 'abc' → NULL.

    The shape guard exists because Spark's string→double cast follows
    Java ``Double.parseDouble``, which accepts trailing D/F type
    suffixes and spellings like 'Infinity' that Python ``float()`` (the
    reference's parser, etl_ida.py:422-429) rejects — found by the
    property-based parity test.  Only plain decimal/scientific forms
    pass; everything else is NULL on both engines.

    The OUTER trim matters (r11, found by the property test on '0 %'):
    dropping '%' can expose interior whitespace at the end of the
    cleaned string ('0 %' → '0 '), and Python ``float()`` — the
    reference parser — tolerates surrounding whitespace of its final
    input, so the guard must too."""
    c = F.col(col) if isinstance(col, str) else col
    # translate maps ',' → '.' and deletes '%' (no replacement char)
    cleaned = F.trim(F.translate(F.trim(c), ",%", "."))
    return F.when(cleaned.rlike(_FLOAT_RE), cleaned.cast("double"))
