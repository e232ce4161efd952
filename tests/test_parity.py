"""Differential oracle tests — every HASH-contract query vs DuckDB.

This mirrors the driver's t2 gate (row count + schema + order-insensitive
value hash), so a green run here predicts a green CORRECTNESS record.
"""

from __future__ import annotations

import pytest

from conftest import assert_declared_schemas_match, check_query
from twitter_event_stream_spark import registry

HASH_QUERIES = sorted(registry.all_oracles())
ROWS_QUERIES = sorted(set(registry.all_queries()) - set(registry.all_oracles()))


@pytest.mark.parametrize("name", HASH_QUERIES)
def test_hash_parity(spark, oracle, sf_dir, name):
    result = check_query(spark, registry.get(name), sf_dir, oracle)
    assert result.ok, result.report()
    assert result.spark_rows > 0, f"{name}: empty result defeats the check"


@pytest.mark.parametrize("name", ROWS_QUERIES)
def test_rows_queries_run(spark, sf_dir, name):
    df = registry.get(name).fn(spark, sf_dir)
    assert df.count() >= 0


def test_freq_items_has_no_false_negatives(spark, oracle, sf_dir):
    """``q_freq_items`` (ROWS: ``freqItems`` may add false positives) keeps
    every ``event_type`` whose exact frequency in ``events`` is above its
    10% support, counted by DuckDB."""
    got = [r.frequent_event_type for r in registry.get("q_freq_items").fn(spark, sf_dir).collect()]
    heavy = {
        t for (t,) in oracle.execute(
            "SELECT event_type FROM events GROUP BY event_type "
            "HAVING count(*) > 0.1 * (SELECT count(*) FROM events)"
        ).fetchall()
    }
    assert heavy, "no event type above the support: the check is empty"
    assert len(got) == len(set(got))
    assert heavy <= set(got)


@pytest.mark.deep
def test_differential_under_skewed_distribution(spark, tmp_path_factory):
    """Whole-registry differential audit #4 (round 5): every HASH query
    must STILL match its DuckDB oracle when the fixture's distributions
    are heavily skewed — 50% of events on one user, 75% one event type,
    80% one language, heavy-tailed values, half of orders on one customer
    — with every key column untouched (unique tiebreaks must survive by
    design). The uniform fixtures hide distribution-dependent logic bugs
    (bounds derived from data statistics, skew-sensitive rewrites, salted
    shapes); this audit reruns the full oracle comparison on the shifted
    data. Keys stay unique, so any HASH query that diverges here has a
    real distribution dependence, not a tiebreak artifact."""
    import os as _os

    import duckdb
    import pytest as _pytest
    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from twitter_event_stream_spark import registry
    from conftest import canon_pandas
    from twitter_event_stream_spark.tables import TABLE_NAMES

    src = _os.environ.get("TES_AUDIT_SRC_SF_DIR", "/root/testdata/sf0.001")
    if not _os.path.exists(src + "/events.parquet"):
        _pytest.skip(f"audit source fixture not present: {src}")
    d = str(tmp_path_factory.mktemp("skew_sf"))
    for name in TABLE_NAMES:
        df = spark.read.parquet(f"{src}/{name}.parquet")
        if name == "events":
            df = df.withColumn(
                "user_id",
                F.when(F.col("event_id") % 2 == 0, F.lit(7)).otherwise(
                    F.col("user_id")
                ),
            ).withColumn(
                "event_type",
                F.when(F.col("event_id") % 4 < 3, F.lit("click")).otherwise(
                    F.col("event_type")
                ),
            ).withColumn(
                "value",
                F.when(
                    F.col("event_id") % 10 == 0, F.col("value") * 1000
                ).otherwise(F.col("value")),
            )
        if name == "documents":
            df = df.withColumn(
                "lang",
                F.when(F.col("doc_id") % 10 < 8, F.lit("en")).otherwise(
                    F.col("lang")
                ),
            ).withColumn(
                "source",
                F.when(F.col("doc_id") % 3 < 2, F.lit("web")).otherwise(
                    F.col("source")
                ),
            )
        if name == "orders":
            df = df.withColumn(
                "o_custkey",
                F.when(F.col("o_orderkey") % 2 == 0, F.lit(1)).otherwise(
                    F.col("o_custkey")
                ),
            )
        if name == "lineitem":
            df = df.withColumn(
                "l_quantity",
                F.when(F.col("l_orderkey") % 5 == 0, F.lit(50.0)).otherwise(
                    F.col("l_quantity")
                ),
            )
        df.write.mode("overwrite").parquet(f"{d}/{name}.parquet")
    assert_declared_schemas_match(spark, d)
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS"
            f" SELECT * FROM read_parquet('{d}/{t}.parquet/*.parquet')"
        )
    oracles = E.oracle_sql()
    failures = {}
    for name, fn in sorted(registry.all_queries().items()):
        if name not in oracles:
            continue
        try:
            s = canon_pandas(fn(spark, d).toPandas())
            o = canon_pandas(con.sql(oracles[name]).df())
            if s != o:
                so = [r for r in s if r not in set(o)][:1]
                oo = [r for r in o if r not in set(s)][:1]
                failures[name] = f"s-only={so} o-only={oo}"
        except Exception as e:  # noqa: BLE001 — the audit reports, not hides
            failures[name] = f"{type(e).__name__}: {str(e)[:120]}"
    con.close()
    assert not failures, failures


@pytest.mark.deep
def test_differential_under_degenerate_text(spark, tmp_path_factory):
    """Whole-registry differential audit #5 (round 6, grown out of the
    sequence(1,0)-descends review catch): every documents-reading HASH
    query must still match its DuckDB oracle when the corpus contains
    DEGENERATE texts — empty strings, a single token, bare whitespace,
    single chars — and ZERO-NORM embeddings (the classic failed-encode
    artifact). Spark and DuckDB disagree on several primitives exactly
    there (Spark's sequence(1,0) DESCENDS where DuckDB's range is empty;
    element_at throws under ANSI; Spark's default-ANSI double divide
    ABORTS on /0 where DuckDB yields NULL), so fixtures of healthy
    48-553-char texts and nonzero vectors structurally cannot exercise
    the guards. Keys stay untouched; `text` is rewritten on a ~8% slice
    and ~3% of embeddings are zeroed."""
    import os as _os

    import duckdb
    import pytest as _pytest
    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from twitter_event_stream_spark import registry
    from conftest import canon_pandas
    from twitter_event_stream_spark.tables import TABLE_NAMES

    src = _os.environ.get("TES_AUDIT_SRC_SF_DIR", "/root/testdata/sf0.001")
    if not _os.path.exists(src + "/events.parquet"):
        _pytest.skip(f"audit source fixture not present: {src}")
    d = str(tmp_path_factory.mktemp("degen_sf"))
    degens = ["", "single", "  ", "x", "a b"]
    for name in TABLE_NAMES:
        df = spark.read.parquet(f"{src}/{name}.parquet")
        if name == "documents":
            arr = F.array(*[F.lit(s) for s in degens])
            df = df.withColumn(
                "text",
                F.when(
                    F.col("doc_id") % 37 < len(degens),
                    F.element_at(arr, (F.col("doc_id") % 37 + 1).cast("int")),
                ).otherwise(F.col("text")),
            )
        if name == "embeddings":
            df = df.withColumn(
                "embedding",
                F.when(
                    F.col("vec_id") % 31 == 0,
                    F.transform(
                        "embedding", lambda x: (x * F.lit(0.0)).cast("float")
                    ),
                ).otherwise(F.col("embedding")),
            )
        df.write.mode("overwrite").parquet(f"{d}/{name}.parquet")
    assert_declared_schemas_match(spark, d)
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS"
            f" SELECT * FROM read_parquet('{d}/{t}.parquet/*.parquet')"
        )
    oracles = E.oracle_sql()
    failures = {}
    for name, fn in sorted(registry.all_queries().items()):
        if name not in oracles:
            continue
        try:
            s = canon_pandas(fn(spark, d).toPandas())
            o = canon_pandas(con.sql(oracles[name]).df())
            if s != o:
                so = [r for r in s if r not in set(o)][:1]
                oo = [r for r in o if r not in set(s)][:1]
                failures[name] = f"s-only={so} o-only={oo}"
        except Exception as e:  # noqa: BLE001 — the audit reports, not hides
            failures[name] = f"{type(e).__name__}: {str(e)[:120]}"
    con.close()
    assert not failures, failures
