"""Declared schemas of the tables the engine reads, and the one reader.

``spark.read.parquet(path)`` without a schema runs a Spark job to infer
one: reading the sf0.001 nation table in a warm ``local[2]`` session took
59–67 ms of wall time and 94–165 ms of CPU (driver and JVM) that way,
against 6–8 ms and 11–22 ms with a declared schema. Every parquet read in
the engine goes through ``read_table`` instead: it checks the declared
schema against the same single footer
Spark's inference reads with ``mergeSchema`` off (the first data file in
path order), on the driver with pyarrow, and then reads with the declared
schema. A declared column the file lacks, or holds as another type, is a
``ValueError`` naming the path, the column and both types; Spark would
otherwise read a missing column as all-null and a narrower type widened.

The types are the generators': TPC-H keys and ``label`` are ``int`` where
the generator writes int32, and timestamps written without a time zone
(the board's ``ts`` and TPC-H dates) are ``timestamp_ntz``.
"""

from __future__ import annotations

import functools
import glob
import json
import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_type
from pyspark.sql.types import StructType, TimestampType

EVENTS = (
    "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, "
    "value double, props string"
)
DOCUMENTS = "doc_id bigint, text string, lang string, source string, n_chars bigint"
EMBEDDINGS = "vec_id bigint, embedding array<float>, label int"
NATION = "n_nationkey int, n_name string, n_regionkey int"
LINEITEM = (
    "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int, "
    "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
    "l_returnflag string, l_linestatus string, l_shipdate timestamp_ntz"
)
CUSTOMER = (
    "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double, "
    "c_mktsegment string"
)
ORDERS = (
    "o_orderkey bigint, o_custkey bigint, o_orderstatus string, o_totalprice double, "
    "o_orderdate timestamp_ntz, o_orderpriority string"
)
# sources.pages generates with it; warc_ts is written time-zone aware (UTC)
PAGES = "url string, warc_ts timestamp, html binary, text string, lang string"

# the key Spark stores its own schema under in the footers it writes; its
# inference prefers that schema to the parquet types
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def data_files(root: str) -> list[str]:
    """The files ``spark.read.parquet(root)`` reads, in path order. Spark
    skips names starting with ``.`` (so does glob) or ``_`` (bar ``_c=v``)."""
    return sorted(
        os.path.join(root, p)
        for p in glob.glob("**/*.parquet", root_dir=root, recursive=True)
        if not any(c.startswith("_") and "=" not in c for c in p.split(os.sep))
    )


def _layout(path: str) -> tuple[list[str], list[str]]:
    """(data files, partition columns) of the parquet file or directory
    ``path``. The partition columns are the ``name=value`` directories above
    the first data file: Spark reads them from the layout, not the files."""
    if os.path.isfile(path):
        return [path], []
    files = data_files(path)
    dirs = os.path.relpath(files[0], path).split(os.sep)[:-1] if files else []
    return files, [d.split("=", 1)[0] for d in dirs if "=" in d]


def partition_columns(root: str) -> list[str]:
    return _layout(root)[1]


@functools.lru_cache(maxsize=None)
def _parse(ddl: str) -> StructType:
    # the DDL parser is the JVM's: one round trip per schema and process
    return StructType.fromDDL(ddl)


def _footer_types(path: str) -> dict[str, str]:
    """column → the Spark type (``simpleString``) Spark infers from the
    footer of the parquet file ``path``."""
    pf = pq.ParquetFile(path)
    arrow = pf.schema_arrow
    spark_json = (arrow.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if spark_json:
        schema = StructType.fromJson(json.loads(spark_json))
        return {f.name: f.dataType.simpleString() for f in schema.fields}
    int96 = {c.path for c in (pf.schema.column(i) for i in range(len(pf.schema)))
              if c.physical_type == "INT96"}
    out = {}
    for f in arrow:
        try:
            st = TimestampType() if f.name in int96 else from_arrow_type(
                f.type, prefer_timestamp_ntz=True)
            out[f.name] = st.simpleString()
        except TypeError:  # a type Spark's Arrow bridge has no name for
            out[f.name] = f"arrow {f.type}"
    return out


def read_table(spark: SparkSession, path: str, schema: str | StructType) -> DataFrame:
    """``spark.read.schema(schema).parquet(path)``, after checking every
    declared column against the footer of the first data file at ``path``
    (a local parquet file or directory). Columns the file has and the
    schema does not are not read; declared partition columns (``name=v``
    directories) are typed by the schema and not checked."""
    files, parts = _layout(path)
    if not files:
        raise ValueError(f"{path}: no parquet data files to read")
    first, found = files[0], _footer_types(files[0])
    declared = _parse(schema) if isinstance(schema, str) else schema
    for f in declared.fields:
        if f.name in parts:
            continue
        want, got = f.dataType.simpleString(), found.get(f.name)
        if got is None:
            raise ValueError(
                f"{path}: declared column {f.name!r} ({want}) is missing from {first}")
        if got != want:
            raise ValueError(
                f"{path}: column {f.name!r} is {got} in {first}, declared {want}")
    return spark.read.schema(schema).parquet(path)
