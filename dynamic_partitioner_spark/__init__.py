"""PySpark-native engine with the capabilities of
``data-integrations/dynamic-partitioner`` (dynamic Hive-partitioned
Avro/ORC/Parquet sinks) plus LLM-data-pipeline operators (dedup,
similarity search, multimodal columns, text analysis), designed for
100 TB scale.
"""

from .session import apply_engine_confs, get_spark
from .spec import CODECS, FORMATS, SinkSpec, SpecError
from .operators.partition_keys import normalize_partition_keys
from .operators.partitioned_write import (
    PartitionExistsError,
    STAGE_FIELD,
    compact_partitions,
    compact_tombstones,
    list_existing_partitions,
    merge_cdc,
    merge_upsert,
    read_cdc_table,
    spark_avro_available,
    write_partitioned,
    write_sorted,
)
from .sources.read import (
    read_fixed_width,
    read_partitioned,
    read_payload,
)

__all__ = [
    "CODECS", "FORMATS", "SinkSpec", "SpecError", "PartitionExistsError",
    "STAGE_FIELD", "get_spark", "apply_engine_confs",
    "normalize_partition_keys", "write_partitioned", "write_sorted",
    "list_existing_partitions", "spark_avro_available",
    "merge_upsert", "merge_cdc", "read_cdc_table", "compact_tombstones",
    "compact_partitions",
    "read_partitioned", "read_payload",
    "read_fixed_width",
]
