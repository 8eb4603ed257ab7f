from .sinks import (
    commit_watermark,
    compact_parquet,
    read_watermarks,
    recover_table,
    upsert_parquet,
    upsert_parquet_partitioned,
    write_partitioned,
)
from .tables import (
    TABLES,
    bucketed_fact_name,
    jdbc_reader_options,
    load_fact,
    load_table,
    read_bucketed,
    register_views,
    table_rows,
    write_bucketed,
)
from .vector_sink import foreach_batch_vector_upsert, iter_batches, send_with_retry

__all__ = [
    "TABLES",
    "load_table",
    "register_views",
    "jdbc_reader_options",
    "upsert_parquet",
    "upsert_parquet_partitioned",
    "read_watermarks",
    "commit_watermark",
    "read_bucketed",
    "write_bucketed",
    "load_fact",
    "bucketed_fact_name",
    "table_rows",
    "write_partitioned",
    "compact_parquet",
    "recover_table",
    "foreach_batch_vector_upsert",
    "iter_batches",
    "send_with_retry",
]
