from .expressions import (
    iso_date_str,
    json_get,
    label_expr,
    net_revenue,
)

__all__ = [
    "iso_date_str",
    "json_get",
    "label_expr",
    "net_revenue",
]
