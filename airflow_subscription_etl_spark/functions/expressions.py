"""Shared scalar expression helpers (SURVEY.md §2.5).

Small, engine-portable column expressions used by both the operator
library and the oracle-checked query surface. Everything is a built-in
``pyspark.sql.functions`` composition — JVM-side, codegen-friendly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def label_expr(name: Column, price: Column) -> Column:
    """E3/P2: `f"{name} - ${price}"` (subscription_flow.py:90,133).

    concat + cast (not format_string) so numeric rendering matches the
    DuckDB oracle's CAST(x AS VARCHAR).
    """
    return F.concat(name, F.lit(" - $"), price.cast("string"))


def net_revenue(extendedprice: Column, discount: Column) -> Column:
    """E1 analog on the star schema: extendedprice * (1 - discount)."""
    return extendedprice * (F.lit(1.0) - discount)


def iso_date_str(ts: Column) -> Column:
    """Timestamp → 'YYYY-MM-DD' string — the engine-portable date
    representation (reference stores ISO strings; decision D1)."""
    return F.date_format(ts, "yyyy-MM-dd")


def json_get(col: Column, field: str) -> Column:
    """Extract a scalar from a JSON string column (events.props)."""
    return F.get_json_object(col, f"$.{field}")
