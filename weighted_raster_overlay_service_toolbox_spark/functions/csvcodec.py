"""RFC-4180 CSV codec -- the reference's list<->string serialization.

The reference stores every list (ranges, output values, labels) as a CSV
string in a TEXT column, encoded by hand (``WROS/Weighted Raster Overlay
Service.pyt:1308-1325``): ``None -> ""``, ``str(v).strip()``, quote a value
containing ``,`` or ``"`` and double embedded quotes, join with ``,``;
decoded with stdlib ``csv.reader`` (``.pyt:1328-1332``).

Three forms here, all with identical semantics:
- :func:`csv_field` / :func:`csv_encode` -- native column expressions
  (JVM-side, codegen-friendly; the hot path);
- :func:`csv_field_sql` / :func:`csv_encode_sql` -- the same logic as ANSI
  SQL for DuckDB oracles;
- :func:`csv_encode_py` -- the same encode in Python, for values already
  on the driver: ``toolbox.update_classification``'s range labels, and
  the declared ``q_udf_scalar`` (UDF-machinery smoke). It strips with
  Python's ``str.strip`` like the reference.

The column and SQL forms strip ``string.whitespace`` (the one-argument
``trim`` of Spark and DuckDB strips spaces only); the separators
U+001C-U+001F and non-ASCII whitespace such as U+00A0, which
``str.strip`` also removes, still differ.

Decode (``.pyt:1328-1332``) is :func:`csv_decode` via ``from_csv`` at the
compatibility boundary.
"""

from __future__ import annotations

import string

from pyspark.sql import Column
from pyspark.sql import functions as F


def csv_field(col: Column) -> Column:
    """Encode ONE value as an RFC-4180 field (``.pyt:1308-1323``):
    null -> '', strip, quote-if-needed with '""' doubling."""
    s = F.trim(F.coalesce(col.cast("string"), F.lit("")), F.lit(string.whitespace))
    needs_quote = s.contains(",") | s.contains('"')
    quoted = F.concat(F.lit('"'), F.regexp_replace(s, '"', '""'), F.lit('"'))
    return F.when(needs_quote, quoted).otherwise(s)


def csv_encode(*cols: Column) -> Column:
    """Join encoded fields with ',' (``.pyt:1325``)."""
    return F.concat_ws(",", *[csv_field(c) for c in cols])


def csv_field_sql(expr: str) -> str:
    """DuckDB SQL equivalent of :func:`csv_field`."""
    chars = " || ".join(f"chr({ord(c)})" for c in string.whitespace)
    s = f"TRIM(COALESCE(CAST({expr} AS VARCHAR), ''), {chars})"
    return (
        f"CASE WHEN contains({s}, ',') OR contains({s}, '\"') "
        f"THEN '\"' || replace({s}, '\"', '\"\"') || '\"' "
        f"ELSE {s} END"
    )


def csv_encode_sql(*exprs: str) -> str:
    """DuckDB SQL equivalent of :func:`csv_encode`."""
    return " || ',' || ".join(csv_field_sql(e) for e in exprs)


def encode_field_py(v) -> str:
    """Python mirror of ``.pyt:1308-1323``."""
    if v is None:
        return ""
    s = str(v).strip()
    if "," in s or '"' in s:
        return '"' + s.replace('"', '""') + '"'
    return s


def csv_encode_py(values) -> str:
    """Python mirror of the full row encode (``.pyt:1308-1325``)."""
    return ",".join(encode_field_py(v) for v in values)


def csv_decode(col: Column, n_fields: int, prefix: str = "f") -> Column:
    """Decode one RFC-4180 line into a struct of ``n_fields`` strings
    (``.pyt:1328-1332``; ``csv.reader`` on a single line). Spark's CSV
    parser defaults to backslash escaping; RFC 4180 doubles the quote
    char, so the escape option must be the quote char itself."""
    schema = ", ".join(f"{prefix}{i} string" for i in range(n_fields))
    return F.from_csv(col, F.lit(schema), {"quote": '"', "escape": '"'})
