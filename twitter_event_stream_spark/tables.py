"""Fixture table loader + temp-view registrar (SURVEY §2.0 C1, FIXTURES.md).

Every query callable goes through :func:`load_tables`, which

1. re-applies the runtime session conventions (UTC, AQE);
2. reads each parquet table of the scale-factor directory with its declared
   schema (:data:`TABLE_SCHEMAS`), so no Spark job infers it — the fixtures
   store every timestamp as µs NTZ (isAdjustedToUTC=false), read as
   ``TIMESTAMP_NTZ`` (SURVEY §1.3(1)); a file whose column types differ
   fails at its first scan (``PARQUET_COLUMN_DATA_TYPE_MISMATCH``);
3. registers each table as a temp view under its canonical name.

DataFrames are lazy, so a load runs no Spark job; a small per-(session,
dir) cache avoids repeating the Py4J reader calls and the view registration
on every call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from twitter_event_stream_spark.session import configure_session

#: Dimension tables small enough to always broadcast in joins (SURVEY §4.2:
#: dims ≤20k rows). ``part`` qualifies at every shipped sf; at true 100 TB
#: scale ``part``/``customer`` would grow out of this set and the engine's
#: joins fall back to shuffled strategies via AQE size estimates.
BROADCAST_DIMS: frozenset[str] = frozenset({"region", "nation", "supplier", "part"})

#: DDL schema of every fixture table, in canonical order (FIXTURES.md). A
#: read with a declared schema runs no schema-inference job; a column
#: missing from a file would read as NULL, which the schema-equality test
#: rules out for every shipped fixture. ``events`` is also the wire schema
#: of the streaming bridge (``pipelines.WIRE_SCHEMA``).
TABLE_SCHEMAS: dict[str, str] = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": (
        "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, "
        "c_mktsegment STRING"
    ),
    "supplier": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part": (
        "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, "
        "p_size INT, p_retailprice DOUBLE"
    ),
    "orders": (
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"
    ),
    "lineitem": (
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, "
        "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, "
        "l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING, "
        "l_shipdate TIMESTAMP_NTZ"
    ),
    "events": (
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string"
    ),
    "documents": "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}

TABLE_NAMES: tuple[str, ...] = tuple(TABLE_SCHEMAS)

#: The loaded frames per (session, dir): a hit skips the Py4J reader calls
#: and, for the active dir, the view registration.
_cache: dict[tuple[int, str], dict[str, DataFrame]] = {}

#: Which sf_dir's tables are currently bound to the session's temp views.
#: Views are session-global state, so a cache hit for a *different* dir than
#: the last registration must re-register — otherwise ``spark.sql`` queries
#: silently read the previous scale factor.
_active_views: dict[int, str] = {}


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all fixture tables of ``sf_dir``; register canonical temp views."""
    configure_session(spark)
    sf = sf_dir.rstrip("/")
    key = (id(spark), sf)
    dfs = _cache.get(key)
    if dfs is None:
        dfs = {
            name: spark.read.schema(ddl).parquet(f"{sf}/{name}.parquet")
            for name, ddl in TABLE_SCHEMAS.items()
        }
        _cache[key] = dfs
    if _active_views.get(id(spark)) != sf:
        for name, df in dfs.items():
            df.createOrReplaceTempView(name)
        _active_views[id(spark)] = sf
    return dfs


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Single-table accessor used by the operator modules."""
    return load_tables(spark, sf_dir)[name]
