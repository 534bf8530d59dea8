"""Sources & sinks (SURVEY §2.1).

The reference has exactly two feeders — in-memory rows and a local-file
path walker (/root/reference/input.go:11-31, feeder iface
/root/reference/input/feeder.go:9-11) — and no format readers at all
(CSV parsing is user code — /root/reference/test/input_csv_decoder.go).
Here the same surface plus the real format readers Spark provides:

- ``parallelize``     → in-memory rows (mirror of lrmr.Parallelize)
- ``local_file_paths``→ one row per file path (mirror of FromLocalFile)
- ``read_csv/json/parquet/orc`` → native splittable readers with
  explicit schemas (inference is a correctness+perf hazard at scale)
- ``decode_csv_paths``→ the reference's DecodeCSV user-op shape: a
  path-per-row DF fanned out to per-file parsing
- ``write_parquet``   → partitioned columnar sink

Formats needing external jars (Delta/Iceberg/Hudi/JDBC drivers) are
gated behind try-imports and raise a clear error in this container.
"""

from __future__ import annotations

import decimal
import os
import threading
from collections import OrderedDict
from collections.abc import Iterable, Sequence
from typing import Any

from pyspark.errors import PySparkTypeError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    ByteType,
    DataType,
    DateType,
    DayTimeIntervalType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    NullType,
    ShortType,
    StringType,
    StructType,
    TimestampNTZType,
    TimestampType,
    _create_converter,
    _make_type_verifier,
)

__all__ = [
    "parallelize",
    "local_file_paths",
    "read_csv",
    "read_json",
    "read_parquet",
    "read_orc",
    "decode_csv_paths",
    "read_text",
    "read_binary_files",
    "read_jdbc",
    "write_parquet",
    "write_bucketed",
    "compact_parquet",
    "read_delta",
]


def parallelize(spark: SparkSession, data: Iterable[Any], schema: Any = None) -> DataFrame:
    """Mirror of lrmr.Parallelize (reference lrmr.go:12-14).

    Driver-side rows → DataFrame: the engine's one in-memory source.

    Takes the schema forms ``spark.createDataFrame`` takes (DDL string,
    ``StructType``, atomic ``DataType``, ``None`` or a list of names),
    runs its row verifier where it does, and converts rows with its
    converters — so values, types and errors are the same. The rows
    then land as an Arrow table instead of a Python RDD: below
    ``spark.sql.execution.arrow.localRelationThreshold`` the frame is a
    ``LocalRelation``, projections and filters fold into it, and an
    action runs as a ``LocalTableScan`` with no Spark job and no Python
    worker; above it the table ships as a JVM-side Arrow RDD, still
    with no Python worker. Schemas holding a type Arrow cannot carry
    (UDT, variant, intervals other than day-time) or a decimal below
    the top level keep ``createDataFrame``'s row path. A pandas
    DataFrame, ndarray, ``pyarrow.Table``, RDD or DataFrame goes to
    ``createDataFrame`` unchanged."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if _taken_whole(data):
        return spark.createDataFrame(data, schema)
    rows = data if isinstance(data, list) else list(data)
    struct, rows = _resolve_rows(spark, rows, schema)
    if not all(_arrow_carries(f.dataType) for f in struct.fields):
        return spark.createDataFrame(rows, schema=struct, verifySchema=False)
    arrow_schema = to_arrow_schema(struct)
    internal = [struct.toInternal(r) for r in rows]
    columns = list(zip(*internal)) if internal else [()] * len(struct.fields)
    table = pa.Table.from_arrays(
        [
            pa.array(_fit(col, f.dataType), type=af.type)
            for col, f, af in zip(columns, struct.fields, arrow_schema)
        ],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema=struct)


def _taken_whole(data: Any) -> bool:
    """Inputs ``createDataFrame`` reads as a whole, not as an iterable
    of rows."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    from pyspark.core.rdd import RDD

    return isinstance(data, (pd.DataFrame, np.ndarray, pa.Table, RDD, DataFrame))


def _resolve_rows(spark: SparkSession, rows: list, schema: Any) -> tuple[StructType, list]:
    """``createDataFrame``'s schema resolution and row preparation
    (``SparkSession._create_dataframe`` / ``_createFromLocal``): returns
    the struct and the rows as tuples in its field order."""
    if isinstance(schema, str):
        schema = spark._parse_ddl(schema)
    if isinstance(schema, StructType):
        struct, verify = schema, _make_type_verifier(schema)
        for r in rows:
            verify(r)
    elif isinstance(schema, DataType):
        verify = _make_type_verifier(schema, name="field value")
        for r in rows:
            verify(r)
        struct, rows = StructType().add("value", schema), [(r,) for r in rows]
    elif schema is None or isinstance(schema, (list, tuple)):
        struct = spark._inferSchemaFromList(rows, names=schema)
        # convert before renaming: dict rows are read by their inferred keys
        convert = _create_converter(struct)
        for i, name in enumerate(schema or ()):
            struct.fields[i].name = struct.names[i] = name
        return struct, [convert(r) for r in rows]
    else:
        raise PySparkTypeError(
            errorClass="NOT_LIST_OR_NONE_OR_STRUCT",
            messageParameters={"arg_name": "schema", "arg_type": type(schema).__name__},
        )
    convert = _create_converter(struct)
    return struct, [convert(r) for r in rows]


_ARROW_ATOMIC = (
    BooleanType,
    ByteType,
    ShortType,
    IntegerType,
    LongType,
    FloatType,
    DoubleType,
    DecimalType,
    StringType,
    BinaryType,
    DateType,
    TimestampType,
    TimestampNTZType,
    DayTimeIntervalType,
    NullType,
)


def _arrow_carries(dt: DataType, nested: bool = False) -> bool:
    """Whether every value of ``dt`` crosses to Arrow from its internal
    (``toInternal``) form unchanged. Nested decimals are refused: only
    top-level ones get ``_fit``'s rounding."""
    if isinstance(dt, StructType):
        return all(_arrow_carries(f.dataType, True) for f in dt.fields)
    if isinstance(dt, ArrayType):
        return _arrow_carries(dt.elementType, True)
    if isinstance(dt, MapType):
        return _arrow_carries(dt.keyType, True) and _arrow_carries(dt.valueType, True)
    if nested and isinstance(dt, DecimalType):
        return False
    return type(dt) in _ARROW_ATOMIC


def _fit(col: Sequence[Any], dt: DataType) -> Sequence[Any]:
    """Round top-level decimals to the column's scale the way the JVM
    does on the row path (HALF_UP); Arrow refuses to drop digits."""
    if not isinstance(dt, DecimalType):
        return col
    q = decimal.Decimal(1).scaleb(-dt.scale)
    ctx = decimal.Context(prec=38, rounding=decimal.ROUND_HALF_UP)  # Spark's max precision
    return [None if v is None else v.quantize(q, context=ctx) for v in col]


def local_file_paths(spark: SparkSession, path: str) -> DataFrame:
    """Mirror of lrmr.FromLocalFile (/root/reference/input.go:11-22):
    one row per file path, column ``value``. Small listings only — at
    scale use a native reader with a glob, which also splits files."""
    paths = []
    for root, _dirs, files in os.walk(path):
        for f in sorted(files):
            paths.append((os.path.join(root, f),))
    return parallelize(spark, paths, "value string")


def read_csv(
    spark: SparkSession, path: str, schema: Any = None, header: bool = True, **options: Any
) -> DataFrame:
    """Native CSV reader — replaces the reference's per-file user-code
    CSV decode (/root/reference/test/input_csv_decoder.go:23-76) with a
    splittable, pushdown-capable scan."""
    reader = spark.read.option("header", header).options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema: Any = None, **options: Any) -> DataFrame:
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


# path -> ((file stamp, session conf), inferred schema); one entry per
# path, least recently read first, at most _PARQUET_SCHEMAS_MAX paths so
# a long session over many paths stays bounded. Key and schema are
# stored as one tuple, so two threads racing on a path can cost an extra
# inference but never pair a key with another key's schema.
_PARQUET_SCHEMAS_MAX = 128
_PARQUET_SCHEMAS: OrderedDict[str, tuple[tuple, StructType]] = OrderedDict()
_PARQUET_SCHEMAS_LOCK = threading.Lock()


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """The engine's reader for input parquet.

    Spark infers a parquet schema with a Spark job on every read, even
    of one unchanged file. This reader remembers the schema inferred
    for a local path and passes it back with ``.schema()`` — no job —
    while both of these are unchanged:

    - the stamp ``(relpath, st_ino, st_size, st_mtime_ns)`` of every
      file under the path, ``_``-prefixed summary files included;
    - the session's SQL conf, which holds everything that shapes
      inference (``nanosAsLong``, ``binaryAsString``, ``mergeSchema``,
      ``caseSensitive``, ...).

    Otherwise it infers as ``spark.read.parquet`` does and stores the
    result. It keeps the ``_PARQUET_SCHEMAS_MAX`` most recently read
    paths; a path read before those infers again. A rewrite in place
    that keeps a file's size and its mtime to the nanosecond goes
    unseen. Paths on another filesystem
    (``s3a://``, ``hdfs://``), paths that name no local file or
    directory (globs) and directories that lose a file while they are
    stamped always infer."""
    stamp = _local_stamp(path)
    if stamp is None:
        return spark.read.parquet(path)
    key = (stamp, _conf_key(spark))
    with _PARQUET_SCHEMAS_LOCK:
        hit = _PARQUET_SCHEMAS.get(path)
        if hit is not None:
            _PARQUET_SCHEMAS.move_to_end(path)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    # a copy: df.schema is the frame's own object, which callers may mutate
    schema = StructType.fromJson(df.schema.jsonValue())
    with _PARQUET_SCHEMAS_LOCK:
        _PARQUET_SCHEMAS[path] = (key, schema)
        _PARQUET_SCHEMAS.move_to_end(path)
        while len(_PARQUET_SCHEMAS) > _PARQUET_SCHEMAS_MAX:
            _PARQUET_SCHEMAS.popitem(last=False)
    return df


def _local_stamp(path: str) -> tuple | None:
    """``(relpath, st_ino, st_size, st_mtime_ns)`` of every file under a
    local path, or ``None`` for another scheme, a missing path or a file
    removed while walking."""
    local = path[len("file:"):] if path.startswith("file:") else path
    if "://" in local or not os.path.exists(local):
        return None
    if os.path.isfile(local):
        files = [local]
    else:
        files = []
        for root, dirs, names in os.walk(local):
            dirs.sort()
            files += [os.path.join(root, f) for f in sorted(names)]
    stamp = []
    for f in files:
        try:
            st = os.stat(f)
        except FileNotFoundError:
            return None
        stamp.append((os.path.relpath(f, local), st.st_ino, st.st_size, st.st_mtime_ns))
    return tuple(stamp)


def _conf_key(spark: SparkSession) -> str:
    """The session's SQL conf in one JVM call (``spark.conf.getAll``
    fetches it entry by entry, about 20 ms)."""
    return spark.conf._jconf.getAll().toString()


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def decode_csv_paths(
    paths_df: DataFrame, schema: str, key_col: str | None = None, header: bool = True
) -> DataFrame:
    """The reference's flagship DecodeCSV stage shape
    (/root/reference/test/input_csv_decoder.go:23-76): a DF of file
    paths → parsed records, optionally keyed by one column. Implemented
    by collecting the (small) path list and handing it to the native
    CSV reader — the files themselves are never driver-side."""
    spark = paths_df.sparkSession
    paths = [r[0] for r in paths_df.collect()]
    df = spark.read.option("header", header).schema(schema).csv(paths)
    if key_col is not None:
        from pyspark.sql import functions as F

        df = df.withColumn("key", F.col(key_col))
    return df


def read_text(
    spark: SparkSession, path: str, wholetext: bool = False, **options: Any
) -> DataFrame:
    """Line-oriented (or whole-file) text reader — the raw-corpus
    ingestion path. ``wholetext=False`` splits large files by line
    ranges (parallel within a file); ``wholetext=True`` yields one row
    per file (for document-per-file corpora — pair with many small
    files, not one giant one, since a whole file must fit a task)."""
    # wholetext must ride the reader call, not .option() (the option
    # key is consumed at text()-call time in PySpark)
    return spark.read.options(**options).text(path, wholetext=wholetext)


def read_binary_files(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Binary-file reader (built-in ``binaryFile`` format): one row per
    file with (path, modificationTime, length, content) — the ingestion
    path for image/audio/video corpora into the multimodal operators
    (operators.multimodal takes the ``content`` binary column).

    Scale notes: metadata columns (path/length/mtime) are read from the
    file listing, so filters on them prune files BEFORE any byte is
    fetched (spark.sql.sources.binaryFile.maxLength guards huge blobs);
    files are not splittable — one file = one task input, so shard media
    into object-store-sized pieces upstream."""
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
) -> None:
    """Partitioned columnar sink — partition columns become directory
    pruning at read time. ``max_records_per_file`` caps output file
    size (the write-side half of the small/huge-file hygiene that
    compact_parquet repairs read-side): at 100 TB, unbounded task
    outputs produce multi-GB files that defeat parallel scan splits,
    while a cap keeps every file a unit of parallelism."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    buckets: int,
    bucket_cols: list[str],
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed + sorted table sink (bucketBy/sortBy + saveAsTable).

    The storage layout that makes repeated join/dedup pipelines
    shuffle-free at 100 TB: both sides of a recurring join bucketed by
    the join key with the same bucket count sort-merge-join with ZERO
    exchanges (and with sortBy, zero sorts) — the shuffle is paid once
    at write time instead of on every query. The reference has no write
    path at all; this is the Spark-native north star."""
    writer = df.write.mode(mode).format("parquet").bucketBy(buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def read_delta(spark: SparkSession, path: str) -> DataFrame:
    """Delta Lake reader — activates whenever the delta jars are on the
    session classpath (e.g. a cluster launched with the delta-spark
    package); gated so imports of this module never fail. The probe
    (optional_deps.has_delta) sharpens the error: pip package present
    but jars missing means the SESSION was built without them — they
    must be on the classpath at JVM launch, not importable later."""
    try:
        return spark.read.format("delta").load(path)
    except Exception as exc:  # pragma: no cover - jar-dependent
        from ..optional_deps import has_delta

        hint = (
            "delta-spark is pip-installed but the jars are not on this "
            "session's classpath — build the session with "
            "delta.configure_spark_with_delta_pip() (jars must be set "
            "at JVM launch)"
            if has_delta()
            else "Delta Lake requires the delta-spark package on the classpath"
        )
        raise NotImplementedError(hint) from exc


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    **options: Any,
) -> DataFrame:
    """JDBC reader with partitioned parallel pulls — set
    ``partition_column`` + bounds so the read splits into
    ``num_partitions`` range queries instead of one serial cursor (the
    difference between minutes and hours against a big table). Driver
    jars are not present in this container; gated like read_delta."""
    try:
        reader = (
            spark.read.format("jdbc")
            .option("url", url)
            .option("dbtable", table)
            .options(**options)
        )
        if partition_column is not None:
            reader = (
                reader.option("partitionColumn", partition_column)
                .option("numPartitions", num_partitions)
                .option("lowerBound", lower_bound)
                .option("upperBound", upper_bound)
            )
        return reader.load()
    except Exception as exc:  # pragma: no cover - driver-jar-dependent
        raise NotImplementedError(
            "JDBC reads require the database driver jar on the classpath"
        ) from exc


def compact_parquet(
    spark: SparkSession, path: str, target_files: int, sort_within: list[str] | None = None
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ``target_files`` files (optionally sorted within each file for
    min/max row-group skipping). Streaming sinks and incremental
    appends accumulate thousands of tiny files whose per-file open cost
    dominates scans; periodic compaction is the table-maintenance
    operation every lakehouse schedules (Delta OPTIMIZE / Iceberg
    rewrite_data_files — same logical rewrite, no table format needed).

    Rewrites into a sibling staging dir then atomically swaps, so a
    concurrent reader sees either the old or the new layout. Returns
    the number of data files after compaction."""
    import shutil

    df = spark.read.parquet(path)
    df = df.repartition(target_files)
    if sort_within:
        df = df.sortWithinPartitions(*sort_within)
    staging = path.rstrip("/") + ".compact_tmp"
    backup = path.rstrip("/") + ".compact_old"
    shutil.rmtree(staging, ignore_errors=True)
    df.write.mode("overwrite").parquet(staging)
    shutil.rmtree(backup, ignore_errors=True)
    os.rename(path, backup)
    os.rename(staging, path)
    shutil.rmtree(backup, ignore_errors=True)
    return sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
