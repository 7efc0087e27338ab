"""Read-back of partitioned datasets (reference §2.2).

The reference configures Hive/Explore input formats so written datasets
are scannable (``FileSetUtil.java:76-85,115-119,156-158``).  Spark's
partition discovery is the native equivalent: ``spark.read.<fmt>(path)``
reconstructs partition columns from directory names, prunes partitions
on filter, and pushes predicates/projections into the columnar scan.

One semantic pin: the reference types every partition dimension STRING
(``PartitionedFileSetSinkConfig.java:146``), so we disable Spark's
partition-column type re-inference for the read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..session import _conf_override
from ..spec import SinkSpec

_INFER = "spark.sql.sources.partitionColumnTypeInference.enabled"


def read_partitioned(spark: SparkSession, path: str,
                     fmt: str = "parquet",
                     merge_schema: bool = False) -> DataFrame:
    """Load a Hive-partitioned dataset; partition columns stay STRING.

    ``merge_schema=True`` unions the schemas of all files (parquet/ORC
    schema evolution: appends that added columns read back with NULLs
    for the old files).  Off by default — schema merging reads every
    file's footer up front, a metadata cost worth paying only on
    evolved datasets.

    Avro without the spark-avro jar routes to the pure-Python container
    reader (self-describing: partition fields from the directory
    layout, payload schema from a container header), so datasets the
    write-side fallback produced stay readable — and mergeable /
    compactable — through the same entry point."""
    if fmt == "avro":
        from ..operators.partitioned_write import spark_avro_available
        if not spark_avro_available(spark):
            if merge_schema:
                # the fallback reads ONE container header's schema —
                # silently dropping an explicit merge request would
                # either mis-read an evolved tree or surface as a
                # confusing executor-side field error (r14 review)
                raise ValueError(
                    "merge_schema=True is not supported by the "
                    "pure-Python Avro fallback (it decodes every "
                    "file against one self-describing header "
                    "schema); install spark-avro or read each "
                    "schema generation separately")
            return _read_avro_fallback(spark, path)
    with _conf_override(spark, _INFER, "false"):
        reader = spark.read.format(fmt)
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        return reader.load(path)


def _read_avro_fallback(spark: SparkSession, path: str) -> DataFrame:
    """Pure-Python Avro read-back for jar-less deployments: discover
    the partition-field nesting order by walking one branch of the
    Hive tree, take the payload schema from the first container file's
    self-describing header, then decode distributed via
    ``formats.avro_py.read_avro_partitioned``."""
    from ..formats.avro_py import decode_container, read_avro_partitioned

    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    order: list[str] = []
    p = jpath
    while True:
        subs = [s for s in fs.listStatus(p)
                if s.isDirectory() and "=" in s.getPath().getName()]
        if not subs:
            break
        order.append(subs[0].getPath().getName().split("=", 1)[0])
        p = subs[0].getPath()
    from ..formats.avro_py import list_avro_containers
    one = (list_avro_containers(spark, path)
           .select("content").limit(1).collect())
    if not one:
        raise FileNotFoundError(f"no .avro container files under {path}")
    payload_schema, _ = decode_container(bytes(one[0].content))
    return read_avro_partitioned(spark, path, order, payload_schema)


def read_payload(spark: SparkSession, path: str, spec: SinkSpec) -> DataFrame:
    """Payload-only projection (reference table-schema semantics, §1.4:
    the Hive table schema excludes partition columns —
    ``PartitionedFileSetSinkConfig.java:101-108``)."""
    df = read_partitioned(spark, path, spec.fmt)
    return df.drop(*spec.field_names)


def read_fixed_width(spark: SparkSession, path: str,
                     colspecs: list[tuple[str, int, int, str]]) -> DataFrame:
    """Fixed-width text source: ``colspecs`` is a list of
    ``(name, start, length, type_ddl)`` with 1-based CHARACTER offsets
    (``substring`` slices code points; for the classic single-byte
    ASCII/EBCDIC-converted feeds characters and bytes coincide — a
    UTF-8 feed with multibyte characters needs byte-domain slicing over
    a binary read instead) — the mainframe/legacy-feed format Spark has
    no built-in reader for.

    One ``spark.read.text`` scan + a single projection of ``substring``
    slices (all codegen; casts run under ANSI so a malformed field
    fails loudly rather than silently nulling).  Splittable like any
    text file, so a 100 TB feed parallelizes by line ranges for free.
    Values are trimmed before the cast — fixed-width pads with spaces.
    """
    from pyspark.sql import functions as F

    lines = spark.read.text(path)
    cols = [F.trim(F.substring("value", start, length)).cast(dtype)
            .alias(name)
            for name, start, length, dtype in colspecs]
    return lines.select(*cols)
