"""Oracle connection and canonical row form (SURVEY §5.2.1).

``oracle_connection`` registers the fixture tables as DuckDB views, as the
driver does; ``canon_rows`` puts a result set into an engine-neutral form
(columns sorted by name, values stringified, rows sorted). perfbench and the
tests use them; the pandas-based parity check that mirrors the driver's hash
gate lives with the tests (``tests/conftest.py``).
"""

from __future__ import annotations

import datetime as _dt
import math

import duckdb

from twitter_event_stream_spark.tables import TABLE_NAMES


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with the canonical views registered, mirroring the
    driver's pre-registration of the fixture tables."""
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{sf_dir.rstrip('/')}/{name}.parquet')"
        )
    return con


def canon_value(v) -> str:
    """Engine-neutral canonical string for one cell value."""
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            v = 0.0  # collapse -0.0
        return f"{v:.6f}"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "0x" + bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if hasattr(v, "tolist"):  # numpy scalars / arrays from duckdb
        return canon_value(v.tolist())
    if hasattr(v, "asDict"):  # Spark Row (struct column)
        d = v.asDict()
        return "{" + ",".join(f"{k}:{canon_value(d[k])}" for k in sorted(d)) + "}"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon_value(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def canon_rows(columns: list[str], rows: list[tuple]) -> list[tuple[str, ...]]:
    """Column-name-sorted, value-stringified, row-sorted canonical form."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(canon_value(row[i]) for i in order) for row in rows)
