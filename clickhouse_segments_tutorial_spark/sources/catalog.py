"""Table catalog over the parquet corpus.

The reference reads/writes named ClickHouse tables inside a per-run database
(/root/reference/src/jestGlobalSetup.ts:11-13). Here a ``Catalog`` binds a
scale-factor directory of parquet files to lazily-loaded DataFrames and
(optionally) temp views so the same queries run via DataFrame API or SQL.

Scans stay columnar + pushdown-friendly: ``spark.read.parquet`` lets
Catalyst prune columns and push predicates into the parquet reader (check
for ``PushedFilters`` in ``.explain``) — the Spark analog of ClickHouse
primary-key range pruning (SURVEY.md §4).

Every table read here (:func:`load_table`, and :func:`read_parquet` for the
cascade tables) passes an explicit schema taken on the driver from ONE data
file's footer. A bare ``spark.read.parquet(path)`` runs a Spark job per call
just to infer that schema from the same footer — on a cascade that reads
three tables per batch, that job is pure per-batch overhead.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..schemas import CORPUS_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Spark writes its own schema (JSON) into every parquet footer under this key
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
_SIGNED_INTS = {8: T.ByteType(), 16: T.ShortType(), 32: T.IntegerType(), 64: T.LongType()}


def _hidden(name: str) -> bool:
    # the names Spark's file index skips: _SUCCESS, _temporary, .crc files
    # ("_x=1" is still a partition directory)
    return (name.startswith("_") and "=" not in name) or name.startswith(".")


def _first_data_file(path: str) -> str | None:
    if os.path.isfile(path):
        return path
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not _hidden(d))
        for f in sorted(files):
            if not _hidden(f):
                return os.path.join(root, f)
    return None


def _arrow_to_spark(at: pa.DataType) -> T.DataType | None:
    """Spark type for a non-timestamp arrow column; None for any type this
    mapping does not cover (the caller then lets Spark infer)."""
    if pa.types.is_dictionary(at):
        at = at.value_type
    if pa.types.is_boolean(at):
        return T.BooleanType()
    if pa.types.is_signed_integer(at):
        return _SIGNED_INTS[at.bit_width]
    if pa.types.is_float32(at):
        return T.FloatType()
    if pa.types.is_float64(at):
        return T.DoubleType()
    if pa.types.is_string(at) or pa.types.is_large_string(at):
        return T.StringType()
    if pa.types.is_binary(at) or pa.types.is_large_binary(at):
        return T.BinaryType()
    if pa.types.is_date32(at):
        return T.DateType()
    if pa.types.is_decimal(at) and at.precision <= 38:
        return T.DecimalType(at.precision, at.scale)
    if pa.types.is_list(at) or pa.types.is_large_list(at):
        elem = _arrow_to_spark(at.value_type)
        return None if elem is None else T.ArrayType(elem, True)
    if pa.types.is_struct(at):
        fields = [(f.name, _arrow_to_spark(f.type)) for f in at]
        if any(t is None for _, t in fields):
            return None
        return T.StructType([T.StructField(n, t, True) for n, t in fields])
    return None


def _timestamp_type(col, *, nanos_as_long: bool, infer_ntz: bool) -> T.DataType | None:
    """What Spark's parquet schema converter makes of a timestamp column,
    from the PARQUET type: the arrow view reports INT96 and some coerced
    columns as ``timestamp[ns]`` whatever the stored unit."""
    if col.physical_type == "INT96":
        return T.TimestampType()
    meta = json.loads(col.logical_type.to_json())
    if meta.get("Type") != "Timestamp":
        return None
    if meta["timeUnit"] == "nanoseconds":
        # raw int64 nanos under nanosAsLong; otherwise Spark refuses the
        # column, and the fallback read raises that error
        return T.LongType() if nanos_as_long else None
    if meta["isAdjustedToUTC"] or not infer_ntz:
        return T.TimestampType()
    return T.TimestampNTZType()


def _footer_schema(spark: SparkSession, data_file: str) -> T.StructType | None:
    """The data schema Spark would infer for a table, read from one of its
    data files' footer on the driver — no Spark job. None when a column's
    type is outside what this reproduces exactly (the caller then lets
    Spark infer).

    Spark-written files carry Spark's own schema in the footer, which is
    used as is: it is what Spark's inference returns for them, and it does
    not depend on how the file stores a timestamp (INT96 and INT64 files
    of one table agree). Files from other writers are mapped column by
    column. Partition columns are in no footer; Spark's file index still
    discovers them from the directory names."""
    pf = pq.ParquetFile(data_file)
    spark_json = (pf.metadata.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if spark_json is not None:
        return T.StructType.fromJson(json.loads(spark_json))
    leaves = {pf.schema.column(i).path: pf.schema.column(i) for i in range(len(pf.schema))}
    nanos_as_long = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "true"
    infer_ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true") == "true"
    fields = []
    for field in pf.schema_arrow:
        if pa.types.is_timestamp(field.type):
            dtype = _timestamp_type(
                leaves[field.name], nanos_as_long=nanos_as_long, infer_ntz=infer_ntz
            )
        else:
            dtype = _arrow_to_spark(field.type)
        if dtype is None:
            return None
        fields.append(T.StructField(field.name, dtype, True))
    return T.StructType(fields)


def read_parquet(spark: SparkSession, path: str) -> DataFrame | None:
    """``spark.read.parquet(path)`` without the schema-inference job; None
    for a missing path or a directory with no data files (every partition
    aged out, or only a ``_SUCCESS`` marker) — an empty table."""
    data_file = _first_data_file(path)
    if data_file is None:
        return None
    schema = _footer_schema(spark, data_file)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one corpus table. The read schema comes from one data file's
    footer on the driver (:func:`read_parquet`), so the load itself runs
    no Spark job; ``schemas.CORPUS_TABLES`` declares the logical schema we
    normalize to.

    Nanosecond-precision parquet timestamps (events.ts is TIMESTAMP(NANOS))
    are illegal for Spark's vectorized reader by default; we read them as
    raw int64 nanos (legacy.parquet.nanosAsLong) and convert with exact
    integer division to microsecond TimestampType — same value DuckDB sees
    truncated to us.
    """
    if name not in CORPUS_TABLES:
        raise KeyError(f"unknown corpus table {name!r}")
    # NOTE: session-global side effect, deliberate — the flag must be live
    # whenever a catalog table's lazy scan executes, so it cannot be scoped
    # to this call. All engine paths read TIMESTAMP(NANOS) parquet through
    # this function (which converts exactly); other nanos readers in the
    # same session will see raw int64 longs instead of an unsupported-type
    # error. div 1000 truncates toward zero == floor for the corpus's
    # non-negative epochs (pre-1970 nanos would need floor-div).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Micros-without-timezone parquet (the current driver corpus) would
    # otherwise infer as TIMESTAMP_NTZ under Spark 4 defaults — a type that
    # watermarks, unix_micros and timestamp arithmetic reject. Read as
    # instants; with the UTC session timezone the values match DuckDB's
    # naive interpretation exactly.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = read_parquet(spark, path)
    if df is None:
        df = spark.read.parquet(path)  # raises Spark's own missing-path error
    declared = CORPUS_TABLES[name]
    for field in declared.fields:
        actual = df.schema[field.name].dataType if field.name in df.columns else None
        if isinstance(field.dataType, T.TimestampType) and isinstance(actual, T.LongType):
            df = df.withColumn(
                field.name,
                F.timestamp_micros(F.expr(f"`{field.name}` div 1000")),
            )
        elif isinstance(field.dataType, T.TimestampType) and isinstance(
            actual, T.TimestampNTZType
        ):
            # Defensive: a scan planned before the conf above was set (or an
            # externally-built session) can still surface NTZ; under the UTC
            # session timezone this cast is value-preserving.
            df = df.withColumn(field.name, F.col(field.name).cast(T.TimestampType()))
    return df


class Catalog:
    """Lazy view of one scale-factor directory."""

    def __init__(self, spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR):
        self.spark = spark
        self.sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}

    def table(self, name: str) -> DataFrame:
        if name not in self._cache:
            self._cache[name] = load_table(self.spark, self.sf_dir, name)
        return self._cache[name]

    def __getattr__(self, name: str) -> DataFrame:
        if name in CORPUS_TABLES:
            return self.table(name)
        raise AttributeError(name)

    def register_views(self, names: list[str] | None = None) -> None:
        """Register temp views so ``spark.sql`` can reference tables by name
        — mirrors the reference's named-table model."""
        for name in (names if names is not None else CORPUS_TABLES):
            self.table(name).createOrReplaceTempView(name)
