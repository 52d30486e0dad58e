from . import aoi, bronze, harmonize, http_fetch, layout, mock_api, payloads, sinks, tables
from .tables import TABLE_NAMES, load_table, load_tables

__all__ = [
    "TABLE_NAMES", "load_table", "load_tables",
    "aoi", "bronze", "harmonize", "http_fetch", "layout", "mock_api",
    "payloads", "sinks", "tables",
]
