"""Schema registry — single source of truth for table schemas.

The reference demonstrates why this module exists: its explicit schemas
drifted from its generator (qa/validate_data_fast.py:63-77 names
columns `zona`/`tipo_atm`/`tipo_transaccion` that data_gen/generator.py
never produces — SURVEY.md section 1.3). Engine policy: every source has ONE
registered StructType; readers validate against it; inference is an
explicit opt-in for exploration only.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Reference-native (LogiCash) schemas — sql/ddl_staging.sql:24-37 and
# data_gen/generator.py:58-175 in /root/reference/.
# ---------------------------------------------------------------------------

DIM_ATMS = T.StructType(
    [
        T.StructField("id_atm", T.StringType(), False),
        T.StructField("ubicacion", T.StringType(), True),
        T.StructField("latitud", T.DoubleType(), True),
        T.StructField("longitud", T.DoubleType(), True),
        T.StructField("capacidad_maxima", T.LongType(), True),
        T.StructField("modelo", T.StringType(), True),
        T.StructField("estado", T.StringType(), True),
    ]
)

FACT_TRANSACTIONS = T.StructType(
    [
        T.StructField("id_transaccion", T.StringType(), False),
        T.StructField("id_atm", T.StringType(), True),  # 1% null FK
        T.StructField("fecha", T.TimestampType(), True),
        # money: DecimalType, never float (reference etl_job.py:105-109)
        T.StructField("monto", T.DecimalType(18, 2), True),
        T.StructField("tipo_movimiento", T.StringType(), True),
        T.StructField("status_transaccion", T.StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Driver fixture tables (/root/testdata/sf*/ — TESTDATA.md). Explicit
# schemas let readers skip parquet footer merging surprises and document
# the contract the queries() catalog codes against.
# ---------------------------------------------------------------------------

REGION = T.StructType(
    [
        T.StructField("r_regionkey", T.IntegerType(), True),
        T.StructField("r_name", T.StringType(), True),
    ]
)

NATION = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType(), True),
        T.StructField("n_name", T.StringType(), True),
        T.StructField("n_regionkey", T.IntegerType(), True),
    ]
)

CUSTOMER = T.StructType(
    [
        T.StructField("c_custkey", T.LongType(), True),
        T.StructField("c_name", T.StringType(), True),
        T.StructField("c_nationkey", T.IntegerType(), True),
        T.StructField("c_acctbal", T.DoubleType(), True),
        T.StructField("c_mktsegment", T.StringType(), True),
    ]
)

SUPPLIER = T.StructType(
    [
        T.StructField("s_suppkey", T.LongType(), True),
        T.StructField("s_name", T.StringType(), True),
        T.StructField("s_nationkey", T.IntegerType(), True),
        T.StructField("s_acctbal", T.DoubleType(), True),
    ]
)

PART = T.StructType(
    [
        T.StructField("p_partkey", T.LongType(), True),
        T.StructField("p_name", T.StringType(), True),
        T.StructField("p_brand", T.StringType(), True),
        T.StructField("p_type", T.StringType(), True),
        T.StructField("p_size", T.IntegerType(), True),
        T.StructField("p_retailprice", T.DoubleType(), True),
    ]
)

ORDERS = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType(), True),
        T.StructField("o_custkey", T.LongType(), True),
        T.StructField("o_orderstatus", T.StringType(), True),
        T.StructField("o_totalprice", T.DoubleType(), True),
        T.StructField("o_orderdate", T.TimestampType(), True),
        T.StructField("o_orderpriority", T.StringType(), True),
    ]
)

LINEITEM = T.StructType(
    [
        T.StructField("l_orderkey", T.LongType(), True),
        T.StructField("l_partkey", T.LongType(), True),
        T.StructField("l_suppkey", T.LongType(), True),
        T.StructField("l_linenumber", T.IntegerType(), True),
        T.StructField("l_quantity", T.DoubleType(), True),
        T.StructField("l_extendedprice", T.DoubleType(), True),
        T.StructField("l_discount", T.DoubleType(), True),
        T.StructField("l_tax", T.DoubleType(), True),
        T.StructField("l_returnflag", T.StringType(), True),
        T.StructField("l_linestatus", T.StringType(), True),
        T.StructField("l_shipdate", T.TimestampType(), True),
    ]
)

EVENTS = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)

EMBEDDINGS = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), True),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
        T.StructField("label", T.IntegerType(), True),
    ]
)

FIXTURE_TABLES: dict[str, T.StructType] = {
    "region": REGION,
    "nation": NATION,
    "customer": CUSTOMER,
    "supplier": SUPPLIER,
    "part": PART,
    "orders": ORDERS,
    "lineitem": LINEITEM,
    "events": EVENTS,
    "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}

