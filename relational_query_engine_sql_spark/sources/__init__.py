from .catalog import (
    collect_at_most,
    load_table,
    load_tables,
    local_frame,
    register_views,
    spread,
    table_rows,
    write_parquet,
)
from .csv_ingest import (
    clean_ohlcv,
    corrupt_rows,
    ingest_ohlcv_csv,
    read_ohlcv_csv,
    symbol_registry,
)

__all__ = [
    "clean_ohlcv",
    "collect_at_most",
    "corrupt_rows",
    "ingest_ohlcv_csv",
    "load_table",
    "load_tables",
    "local_frame",
    "read_ohlcv_csv",
    "register_views",
    "spread",
    "symbol_registry",
    "table_rows",
    "write_parquet",
]
