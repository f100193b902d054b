"""Explicit StructType schemas for the 10 operative tables.

The reference infers schemas at read time with pandas (SURVEY.md §1.1); this
engine pins them explicitly so ingestion drift is loud. Schemas measured from
the driver-generated parquet on 2026-08-13 (FIXTURES.md).

Three views of ``events``:
  EVENTS_RAW    — the rounds-1-3 physical layout: timestamp[ns] parquet read
                  under spark.sql.legacy.parquet.nanosAsLong (ts is a *bigint
                  of epoch nanoseconds*).
  EVENTS_RAW_US — its twin for the layout the driver generates since round 4
                  (and Spark writes for a TimestampNTZ column): timestamp[us]
                  parquet without a time zone, so ts arrives as
                  TIMESTAMP_NTZ.
                  io.read_raw() picks one of the two from the ``ts`` type in
                  the parquet footer, read with pyarrow (no Spark job), and
                  refuses any other ``ts`` type.
  EVENTS        — the canonical engine-facing shape after io.load_table():
                  ts as TimestampNTZ (µs) plus ts_us bigint (epoch
                  microseconds) for exact integer time arithmetic that must
                  hash-match the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)


def _st(*fields: tuple) -> StructType:
    return StructType([StructField(n, t, nullable=True) for n, t in fields])


REGION = _st(("r_regionkey", IntegerType()), ("r_name", StringType()))

NATION = _st(
    ("n_nationkey", IntegerType()),
    ("n_name", StringType()),
    ("n_regionkey", IntegerType()),
)

SUPPLIER = _st(
    ("s_suppkey", LongType()),
    ("s_name", StringType()),
    ("s_nationkey", IntegerType()),
    ("s_acctbal", DoubleType()),
)

CUSTOMER = _st(
    ("c_custkey", LongType()),
    ("c_name", StringType()),
    ("c_nationkey", IntegerType()),
    ("c_acctbal", DoubleType()),
    ("c_mktsegment", StringType()),
)

PART = _st(
    ("p_partkey", LongType()),
    ("p_name", StringType()),
    ("p_brand", StringType()),
    ("p_type", StringType()),
    ("p_size", IntegerType()),
    ("p_retailprice", DoubleType()),
)

ORDERS = _st(
    ("o_orderkey", LongType()),
    ("o_custkey", LongType()),
    ("o_orderstatus", StringType()),
    ("o_totalprice", DoubleType()),
    ("o_orderdate", TimestampNTZType()),
    ("o_orderpriority", StringType()),
)

LINEITEM = _st(
    ("l_orderkey", LongType()),
    ("l_partkey", LongType()),
    ("l_suppkey", LongType()),
    ("l_linenumber", IntegerType()),
    ("l_quantity", DoubleType()),
    ("l_extendedprice", DoubleType()),
    ("l_discount", DoubleType()),
    ("l_tax", DoubleType()),
    ("l_returnflag", StringType()),
    ("l_linestatus", StringType()),
    ("l_shipdate", TimestampNTZType()),
)

EVENTS_RAW = _st(
    ("event_id", LongType()),
    ("ts", LongType()),  # epoch nanoseconds under nanosAsLong=true
    ("user_id", LongType()),
    ("event_type", StringType()),
    ("value", DoubleType()),
    ("props", StringType()),  # JSON: {"k": <int 0..99>}
)

EVENTS_RAW_US = _st(
    *(
        (f.name, TimestampNTZType() if f.name == "ts" else f.dataType)
        for f in EVENTS_RAW.fields
    )
)

EVENTS = _st(
    ("event_id", LongType()),
    ("ts", TimestampNTZType()),  # µs, floor-truncated from ns
    ("ts_us", LongType()),  # epoch microseconds (exact integer arithmetic)
    ("user_id", LongType()),
    ("event_type", StringType()),
    ("value", DoubleType()),
    ("props", StringType()),
)

DOCUMENTS = _st(
    ("doc_id", LongType()),
    ("text", StringType()),
    ("lang", StringType()),
    ("source", StringType()),
    ("n_chars", LongType()),
)

EMBEDDINGS = _st(
    ("vec_id", LongType()),
    ("embedding", ArrayType(FloatType())),
    ("label", IntegerType()),
)

#: canonical engine-facing schema per table name (events = post-load shape)
SCHEMAS: dict[str, StructType] = {
    "region": REGION,
    "nation": NATION,
    "supplier": SUPPLIER,
    "customer": CUSTOMER,
    "part": PART,
    "orders": ORDERS,
    "lineitem": LINEITEM,
    "events": EVENTS,
    "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}

TABLES: tuple[str, ...] = tuple(SCHEMAS)
