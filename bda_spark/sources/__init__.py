from .batch import load_table, load_tables, read_json_articles, read_parquet
from .sinks import overwrite_parquet, idempotent_merge_parquet

__all__ = [
    "load_table",
    "load_tables",
    "read_json_articles",
    "read_parquet",
    "overwrite_parquet",
    "idempotent_merge_parquet",
]
