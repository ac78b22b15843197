from . import aggregations, filters, joins, windows

__all__ = ["aggregations", "filters", "joins", "windows"]
