"""Property-based differential tests (SURVEY §5.2.3): random inputs through
identical scalar expressions on Spark and DuckDB must agree — extends the
fixture-based parity to adversarial values (hypothesis-generated)."""

from __future__ import annotations

import math
import os

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from twitter_event_stream_spark.exprs import R
from twitter_event_stream_spark.parity import canon_rows

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

finite_pos = st.floats(
    min_value=1e-3, max_value=1e6, allow_nan=False, allow_infinity=False
)
words = st.text(alphabet="abcdefghij xyz", min_size=1, max_size=40)


def _compare(spark, pdf: pd.DataFrame, spark_exprs: list[str], duck_sql: str):
    import duckdb

    sdf = spark.createDataFrame(pdf)
    sdf.createOrReplaceTempView("prop_t")
    s_res = spark.sql(f"SELECT {', '.join(spark_exprs)} FROM prop_t")
    s_rows = canon_rows(s_res.columns, [tuple(r) for r in s_res.collect()])
    con = duckdb.connect()
    con.register("prop_t", pdf)
    rel = con.sql(duck_sql)
    d_rows = canon_rows(list(rel.columns), rel.fetchall())
    con.close()
    assert s_rows == d_rows


@settings(**_SETTINGS)
@given(st.lists(finite_pos, min_size=1, max_size=25))
def test_math_functions_agree(spark, values):
    pdf = pd.DataFrame({"x": pd.Series(values, dtype="float64")})
    exprs = [
        f"{R('ln(x)', 6)} AS a",
        f"{R('sqrt(x)', 6)} AS b",
        f"{R('x * x', 4)} AS c",
        "CAST(floor(x) AS BIGINT) AS d",
    ]
    _compare(spark, pdf, exprs, f"SELECT {', '.join(exprs)} FROM prop_t")


@settings(**_SETTINGS)
@given(st.lists(words, min_size=1, max_size=25))
def test_string_functions_agree(spark, texts):
    pdf = pd.DataFrame({"s": pd.Series(texts, dtype="object")})
    spark_exprs = [
        "upper(s) AS a",
        "length(s) AS b",
        "md5(s) AS c",
        "levenshtein(s, 'abc xyz') AS d",
        "substring(s, 1, 3) AS e",
    ]
    duck_exprs = [
        "upper(s) AS a",
        "length(s) AS b",
        "md5(s) AS c",
        "levenshtein(s, 'abc xyz') AS d",
        "substring(s, 1, 3) AS e",
    ]
    _compare(spark, pdf, spark_exprs, f"SELECT {', '.join(duck_exprs)} FROM prop_t")


@settings(**_SETTINGS)
@given(
    st.lists(
        st.integers(min_value=0, max_value=2_000_000_000), min_size=1, max_size=25
    )
)
def test_timestamp_functions_agree(spark, epochs):
    pdf = pd.DataFrame({"e": pd.Series(epochs, dtype="int64")})
    spark_exprs = [
        "CAST(timestamp_seconds(e) AS STRING) AS t_str",
        "year(timestamp_seconds(e)) AS y",
        "date_trunc('hour', timestamp_seconds(e)) AS h",
    ]
    duck_exprs = [
        "CAST(to_timestamp(e)::TIMESTAMP AS VARCHAR) AS t_str",
        "year(to_timestamp(e)::TIMESTAMP) AS y",
        "date_trunc('hour', to_timestamp(e)::TIMESTAMP)::TIMESTAMP AS h",
    ]
    _compare(spark, pdf, spark_exprs, f"SELECT {', '.join(duck_exprs)} FROM prop_t")


@settings(**_SETTINGS)
@given(
    st.lists(
        st.lists(finite_pos, min_size=4, max_size=4), min_size=1, max_size=12
    )
)
def test_array_hof_dot_product_agrees(spark, vecs):
    """H7/K4/K6 spine: zip_with+aggregate dot product and norm on random
    float vectors must agree with DuckDB's list arithmetic — the identity
    the whole vector family rests on, at adversarial magnitudes."""
    pdf = pd.DataFrame({"id": range(len(vecs)), "v": vecs})
    dot = (
        "aggregate(zip_with(v, v, (x, y) -> x * y), CAST(0 AS DOUBLE),"
        " (acc, e) -> acc + e)"
    )
    spark_exprs = ["id", f"{R(dot, 6)} AS sq", f"{R(f'sqrt({dot})', 6)} AS nrm"]
    duck_dot = "list_aggregate(list_transform(v, x -> x * x), 'sum')"
    duck_sql = (
        f"SELECT id, {R(duck_dot, 6)} AS sq,"
        f" {R(f'sqrt({duck_dot})', 6)} AS nrm FROM prop_t"
    )
    _compare(spark, pdf, spark_exprs, duck_sql)


@settings(**_SETTINGS)
@given(
    st.text(alphabet="abcdef ", min_size=20, max_size=60),
    st.text(alphabet="abcdef ", min_size=20, max_size=60),
    st.text(alphabet="abcdef ", min_size=8, max_size=12),
)
def test_winnowing_shared_substring_guarantee(spark, prefix_a, prefix_b, shared):
    """X46 spec property (Schleimer et al. thm 1): two documents sharing a
    substring of length ≥ k + w - 1 (= 8 for k=4, w=5) must share at least
    one winnowing fingerprint. Exercised through the same SQL as the
    contract query, on hypothesis-generated documents."""
    docs = [(0, prefix_a + shared), (1, prefix_b + shared)]
    spark.createDataFrame(docs, "doc_id long, text string").createOrReplaceTempView(
        "documents"
    )
    try:
        rows = spark.sql(
            """
            WITH g AS (
              SELECT doc_id, pos0 + 1 AS pos,
                     CAST(conv(substr(md5(gram), 1, 8), 16, 10) AS BIGINT) AS h,
                     length(text) - 3 AS n_grams
              FROM (SELECT doc_id, text,
                           posexplode(transform(sequence(1, length(text) - 3),
                                                i -> substring(text, i, 4))) AS (pos0, gram)
                    FROM documents)
            ), w AS (
              SELECT doc_id, pos, n_grams,
                     min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS fp
              FROM g
            )
            SELECT DISTINCT doc_id, fp FROM w WHERE pos <= n_grams - 4
            """
        ).collect()
    finally:
        spark.catalog.dropTempView("documents")
    fps = {0: set(), 1: set()}
    for r in rows:
        fps[r.doc_id].add(r.fp)
    assert fps[0] & fps[1], "shared 8+ char substring must share a fingerprint"


@settings(**_SETTINGS)
@given(
    st.lists(
        st.floats(min_value=-100.0, max_value=100.0, allow_nan=False, width=32),
        min_size=4,
        max_size=16,
    )
)
def test_quantize_error_bound(spark, vec):
    """X49 spec property: symmetric absmax int8 quantization reconstructs
    every component within scale/2 (half a quantization step), and no code
    exceeds ±127 by more than the rounding of absmax itself."""
    if max(abs(v) for v in vec) == 0.0:
        vec[0] = 1.0
    pdf = pd.DataFrame({"vec_id": [1], "embedding": [vec]})
    sdf = spark.createDataFrame(pdf)
    sdf.createOrReplaceTempView("prop_emb")
    try:
        row = spark.sql(
            """
            WITH s AS (
              SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM prop_emb
            ), sc AS (
              SELECT vec_id, e,
                     greatest(array_max(transform(e, x -> abs(x))) / 127.0, 1e-12)
                       AS scale
              FROM s
            )
            SELECT scale,
                   array_max(transform(e,
                     x -> abs(x - floor(x / scale + 0.5) * scale))) AS max_err,
                   array_max(transform(e,
                     x -> abs(floor(x / scale + 0.5)))) AS max_code
            FROM sc
            """
        ).first()
    finally:
        spark.catalog.dropTempView("prop_emb")
    assert row.max_err <= row.scale / 2 + 1e-12
    assert row.max_code <= 128  # absmax rounds to at most 127.5 -> 128


@settings(**_SETTINGS)
@given(
    st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False).map(
            lambda v: round(v, 2)
        ),
        min_size=1,
        max_size=40,
    )
)
def test_ewma_fold_matches_pandas(spark, values):
    """X65: the HOF-fold EWMA equals pandas ewm(alpha, adjust=False) —
    the textbook recursive definition — on arbitrary value sequences."""
    import pandas as _pd
    from pyspark.sql import functions as _F

    pdf = _pd.DataFrame(
        {"i": range(len(values)), "v": _pd.Series(values, dtype="float64")}
    )
    sdf = spark.createDataFrame(pdf)
    got = (
        sdf.groupBy()
        .agg(
            _F.expr(
                "aggregate(slice(array_sort(collect_list(struct(i, v))), 2,"
                " size(collect_list(struct(i, v))) - 1),"
                " element_at(array_sort(collect_list(struct(i, v))), 1).v,"
                " (acc, s) -> 0.25 * s.v + 0.75 * acc)"
            ).alias("ewma")
        )
        .collect()[0]["ewma"]
    )
    want = pdf["v"].ewm(alpha=0.25, adjust=False).mean().iloc[-1]
    assert math.isclose(got, want, rel_tol=1e-9, abs_tol=1e-9)


@settings(**_SETTINGS)
@given(
    st.lists(
        st.floats(min_value=-1e4, max_value=1e4, allow_nan=False).map(
            lambda v: round(v, 2)
        ),
        min_size=1,
        max_size=30,
    )
)
def test_rolling_median_matches_pandas(spark, values):
    """X68: the frame-collected order-statistic rolling median equals
    pandas rolling(5, min_periods=1).median() on arbitrary sequences."""
    import pandas as _pd
    from pyspark.sql import Window as _W
    from pyspark.sql import functions as _F

    pdf = _pd.DataFrame(
        {"i": range(len(values)), "v": _pd.Series(values, dtype="float64")}
    )
    sdf = spark.createDataFrame(pdf)
    w = _W.orderBy("i").rowsBetween(-4, _W.currentRow)
    vs = _F.array_sort(_F.collect_list("v").over(w))
    n = _F.size(vs)
    lo = _F.floor((n + 1) / 2).cast("int")
    hi = (_F.floor(n / 2) + 1).cast("int")
    got = {
        r["i"]: r["m"]
        for r in sdf.select(
            "i",
            ((_F.element_at(vs, lo) + _F.element_at(vs, hi)) / 2.0).alias("m"),
        ).collect()
    }
    want = pdf["v"].rolling(5, min_periods=1).median()
    for i in range(len(values)):
        assert math.isclose(got[i], want.iloc[i], rel_tol=1e-9, abs_tol=1e-9)


def test_ann_recall_bounds_sf01(spark):
    """X9/K5 accuracy/cost contract at the graded scale (sf0.1, 2000
    vectors): recall@5 of both ANN paths against exact numpy ground truth
    on the same probes. Documents the trade the 100 TB story depends on —
    IVF probes 2 of 8 cells (uniform random fixture vectors are a
    worst case for clustering: measured 0.56), LSH's 4 OR-ed hash tables
    with radius 1.2 comfortably cover the top-5 band at ~1.1-1.16
    (measured 1.0). Bounds sit below measurements with margin; the seeded
    pipelines are deterministic, so a violation means the operator
    changed, not the data.

    The sf0.1 fixture dir is resolvable via TES_ANN_SF_DIR (the recall
    bounds are calibrated to the 2000-vector sf0.1 table, so this lane is
    pinned to that scale rather than the suite-wide TES_TEST_SF_DIR);
    skips when the dir is absent so the suite stays portable."""
    import numpy as np
    import pyarrow.parquet as pq
    import pytest

    from twitter_event_stream_spark import registry

    sf = os.environ.get("TES_ANN_SF_DIR", "/root/testdata/sf0.1")
    if not os.path.exists(sf + "/embeddings.parquet"):
        pytest.skip(f"ANN recall fixture not present: {sf}")
    t = pq.read_table(sf + "/embeddings.parquet")
    ids = np.array(t["vec_id"])
    X = np.array(t["embedding"].to_pylist(), dtype=np.float64)
    order = np.argsort(ids)
    ids, X = ids[order], X[order]
    nrm = np.linalg.norm(X, axis=1)

    def exact_top5(pid, metric):
        i = int(np.where(ids == pid)[0][0])
        if metric == "cosine":
            score = -(X @ X[i]) / (nrm * nrm[i])
        else:
            score = np.linalg.norm(X - X[i], axis=1)
        score[i] = np.inf
        return {int(ids[j]) for j in np.argsort(score)[:5]}

    ivf: dict[int, set] = {}
    for r in registry.get("q_llm_ann_ivf").fn(spark, sf).collect():
        ivf.setdefault(r.probe_id, set()).add(r.cand_id)
    hits = sum(len(exact_top5(p, "cosine") & ivf.get(p, set())) for p in range(20))
    ivf_recall = hits / (20 * 5)
    assert ivf_recall >= 0.4, f"IVF recall@5 degraded: {ivf_recall:.2f}"

    lsh: dict[int, set] = {}
    for r in registry.get("q_llm_ann_lsh").fn(spark, sf).collect():
        lsh.setdefault(r.probe_id, set()).add(r.cand_id)
    hits = sum(len(exact_top5(p, "euclid") & lsh.get(p, set())) for p in range(5))
    lsh_recall = hits / (5 * 5)
    assert lsh_recall >= 0.8, f"LSH recall@5 degraded: {lsh_recall:.2f}"


@settings(**_SETTINGS)
@given(
    st.lists(
        st.text(alphabet="ab.@0-+ %_c", min_size=0, max_size=30), min_size=1, max_size=20
    )
)
def test_pii_regex_dialect_agrees(spark, texts):
    """X85 regex-dialect property: the PII patterns are written in the
    RE2 ∩ Java subset, so `regexp_replace` must agree byte-for-byte
    between Spark and DuckDB on adversarial text built from the PII
    alphabet (dots, @, digits, +, -) — including degenerate near-matches
    the fixture never produces."""
    from twitter_event_stream_spark.operators.curation_extra import (
        _EMAIL,
        _IPV4,
        _PHONE,
    )

    # Seed some true positives among the noise so replacement paths run.
    seeded = [
        t + s
        for t, s in zip(
            texts,
            ["", " a1@b.co", " 1.2.3.4", " +1-555-0000", " x@y.zz 9.9.9.9"] * 4,
        )
    ]
    pdf = pd.DataFrame({"s": pd.Series(seeded, dtype="object")})
    # Spark SQL string literals process backslash escapes; DuckDB's don't.
    se, si, sp = (p.replace("\\", "\\\\") for p in (_EMAIL, _IPV4, _PHONE))
    spark_exprs = [
        f"regexp_replace(regexp_replace(regexp_replace(s, '{se}', '<E>'),"
        f" '{si}', '<I>'), '{sp}', '<P>') AS scrub",
    ]
    duck_sql = (
        "SELECT regexp_replace(regexp_replace(regexp_replace(s,"
        f" '{_EMAIL}', '<E>', 'g'), '{_IPV4}', '<I>', 'g'),"
        f" '{_PHONE}', '<P>', 'g') AS scrub FROM prop_t"
    )
    _compare(spark, pdf, spark_exprs, duck_sql)


@settings(**_SETTINGS)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["alpha", "beta", "gamma", "delta"]),
            min_size=1,
            max_size=6,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_para_dedup_matches_reference_model(spark, doc_paras):
    """X92 property: on corpora drawn from a 4-paragraph alphabet (forcing
    heavy cross-document duplication), the distributed first-occurrence
    dedup must match a sequential Python reference model exactly — kept
    counts AND the digest of every reassembled document."""
    import hashlib

    from twitter_event_stream_spark.operators.curation_extra import para_dedup

    texts = [". ".join(ps) for ps in doc_paras]
    pdf = pd.DataFrame(
        {"doc_id": range(len(texts)), "text": pd.Series(texts, dtype="object")}
    )
    got = {
        r.doc_id: (r.n_paras, r.n_kept, r.rebuilt_md5)
        for r in para_dedup(spark.createDataFrame(pdf)).collect()
    }

    seen: set = set()
    for doc_id, text in enumerate(texts):
        parts = text.split(". ")
        kept = []
        for para in parts:
            if para not in seen:
                seen.add(para)
                kept.append(para)
        want = (
            len(parts),
            len(kept),
            hashlib.md5(". ".join(kept).encode()).hexdigest(),
        )
        assert got[doc_id] == want, (doc_id, got[doc_id], want)


@settings(**_SETTINGS)
@given(
    groups=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c", "skew", None]),
            st.integers(min_value=0, max_value=10_000),
        ),
        min_size=1,
        max_size=300,
        unique=True,
    ),
    n_parts=st.sampled_from([1, 2, 3, 8]),
)
@pytest.mark.deep  # r15 (r14 verdict #3): breadth-value randomized suite — re-laned to deep to keep the fast gate under its 15-min budget
def test_two_pass_rank_matches_naive_window(spark, groups, n_parts):
    """X88 primitive: `two_pass_rank` must equal the naive per-group
    row_number window for ANY grouping — skewed group sizes, a single
    group, a NULL group (the round-5 review catch: a null-unsafe offsets
    join silently dropped NULL groups), groups smaller than the partition
    count, n_parts=1 — because the two-pass decomposition is a pure
    algebraic rewrite of the rank, not an approximation. Keys are unique
    per group by construction (the documented tie precondition) and
    hex-alphabet (the documented key convention)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from twitter_event_stream_spark.operators.scale_ops import two_pass_rank

    # full hex alphabet incl. a-f and the ffff/0000 bucket-boundary ends
    rows = [(g, f"{k * 6553:08x}") for g, k in groups]
    df = spark.createDataFrame(rows, "g string, k string")
    got = {
        (r.g, r.k): r.pos
        for r in two_pass_rank(df, ["g"], "k", n_parts=n_parts).collect()
    }
    want = {
        (r.g, r.k): r.pos
        for r in df.withColumn(
            "pos", F.row_number().over(W.partitionBy("g").orderBy("k"))
        ).collect()
    }
    assert got == want


@settings(**_SETTINGS)
@given(
    vals=st.lists(
        # adversarial value distributions: heavy ties (tiny domain), NULLs,
        # negatives, a wide-range outlier mix — everything that stresses
        # sketch-derived bucket boundaries and the tie-sharing rule
        st.one_of(
            st.none(),
            st.sampled_from([0.0, 1.0, -1.0]),  # mass on few values
            st.floats(
                min_value=-1e6,
                max_value=1e6,
                allow_nan=False,
                allow_infinity=False,
            ),
        ),
        min_size=1,
        max_size=200,
    ),
    k=st.sampled_from([1, 3, 10]),
    n_buckets=st.sampled_from([1, 4, 32]),
)
@pytest.mark.deep  # r15 (r14 verdict #3): breadth-value randomized suite — re-laned to deep to keep the fast gate under its 15-min budget
def test_ntile_distributed_matches_naive_window(spark, vals, k, n_buckets):
    """X102 r6 primitive: `ntile_distributed` (sketch-bucketed two-pass
    global rank + closed-form tile arithmetic) must equal the naive
    `ntile(k) OVER (ORDER BY value NULLS FIRST, id)` window for ANY value
    distribution — total ties, NULLs, n < k, one bucket, boundary-exact
    values — because the decomposition is a pure algebraic rewrite of the
    exact rank, not an approximation (sketch error moves bucket
    *populations* only)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from twitter_event_stream_spark.operators.scale_ops import (
        ntile_distributed,
        two_pass_rank_by_value,
    )

    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id int, v double")
    got = {
        r.id: r.bin
        for r in ntile_distributed(
            df, "v", "id", n_tiles=k, n_buckets=n_buckets
        ).collect()
    }
    w = W.orderBy(F.col("v").asc_nulls_first(), F.col("id").asc())
    want = {r.id: r.t for r in df.withColumn("t", F.ntile(k).over(w)).collect()}
    assert got == want
    ranked, n = two_pass_rank_by_value(
        df, "v", "id", rank_name="r", n_buckets=n_buckets
    )
    assert n == len(vals)
    got_r = {r.id: r.r for r in ranked.collect()}
    want_r = {
        r.id: r.r
        for r in df.withColumn("r", F.row_number().over(w)).collect()
    }
    assert got_r == want_r


def test_two_pass_rank_raises_on_non_hex_key(spark):
    """The r5 review item: a key violating the documented hex precondition
    must fail LOUDLY (raise_error in the bucket expression), not silently
    drop rows through a null-bucket offsets join."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    from twitter_event_stream_spark.operators.scale_ops import two_pass_rank

    df = spark.createDataFrame(
        [("a", "deadbeef"), ("a", "zzzz-not-hex")], "g string, k string"
    )
    with pytest.raises((SparkRuntimeException, Py4JJavaError)) as exc:
        two_pass_rank(df, ["g"], "k").collect()
    assert "two_pass_rank" in str(exc.value)


@settings(**_SETTINGS)
@given(
    docs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9999),  # doc key
            st.sampled_from(["en", "de", "zh"]),
            # NULL / zero-token rows add nothing to the cumsum — the case
            # that breaks a naive budget/min_tokens pigeonhole (r5 review)
            st.one_of(st.none(), st.integers(min_value=0, max_value=400)),
        ),
        min_size=1,
        max_size=120,
        unique_by=lambda t: t[0],
    ),
    budget=st.sampled_from([1, 50, 500, 5000]),
)
def test_mix_sample_prune_is_lossless(spark, docs, budget):
    """X87 algebra: rank-pruning each language to
    ceil(budget/min_positive_tokens) + n_free rows before the cumsum must
    yield EXACTLY the naive unpruned cumsum-filter result — the prune
    bound is a proof, not a heuristic (an eligible row's prefix holds at
    most budget/min_pos token-bearing rows plus every free row). Exercised
    on adversarial mixes including NULL/zero-token documents and budgets
    below the smallest document."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(f"{k:05d}", lang, n) for k, lang, n in docs],
        "rk string, lang string, n_tokens int",
    )
    positive = [n for _, _, n in docs if n is not None and n >= 1]
    min_pos = max(1, min(positive)) if positive else 1
    n_free = sum(1 for _, _, n in docs if n is None or n < 1)
    bound = budget // min_pos + 1 + n_free
    wr = W.partitionBy("lang").orderBy("rk")
    wc = wr.rowsBetween(W.unboundedPreceding, W.currentRow)
    pruned = (
        df.withColumn("r", F.row_number().over(wr))
        .filter(F.col("r") <= bound)
        .drop("r")
        .withColumn("cum", F.sum("n_tokens").over(wc))
        .filter(F.col("cum") <= budget)
    )
    naive = df.withColumn("cum", F.sum("n_tokens").over(wc)).filter(
        F.col("cum") <= budget
    )
    got = {(r.lang, r.rk, r.cum) for r in pruned.collect()}
    want = {(r.lang, r.rk, r.cum) for r in naive.collect()}
    assert got == want


@st.composite
def _near_dup_corpora(draw):
    """Randomized small corpora exercising the adversarial shapes of the
    near-dup graph: exact-copy cliques (0-edit mutations), mutation CHAINS
    (a→a'→a'' where the ends may not be near-dups of each other),
    singletons, degenerate short docs, and non-contiguous doc_ids."""
    vocab = [f"w{i}" for i in range(20)] + ["x", ""]
    n = draw(st.integers(min_value=2, max_value=9))
    texts: list[str] = []
    for _ in range(n):
        if texts and draw(st.booleans()):
            base = draw(st.sampled_from(texts)).split(" ")
            for _ in range(draw(st.integers(min_value=0, max_value=2))):
                pos = draw(st.integers(min_value=0, max_value=len(base) - 1))
                base[pos] = draw(st.sampled_from(vocab))
            texts.append(" ".join(base))
        else:
            texts.append(
                " ".join(
                    draw(
                        st.lists(
                            st.sampled_from(vocab), min_size=1, max_size=10
                        )
                    )
                )
            )
    ids = draw(
        st.lists(
            st.integers(min_value=0, max_value=10**6),
            min_size=n,
            max_size=n,
            unique=True,
        )
    )
    return list(zip(ids, texts))


@pytest.mark.deep  # r15 (r14 verdict #3): breadth-value randomized suite — re-laned to deep to keep the fast gate under its 15-min budget
@settings(**{**_SETTINGS, "max_examples": 12})
@given(_near_dup_corpora())
def test_star_edges_equal_pair_graph_components_random(spark, docs):
    """r9 (r8 verdict #6) — the O(n·bands) leave-one-out star-edge graph
    must have EXACTLY the connected components of the k²-per-clique
    ≥7-of-8-band pair graph on ADVERSARIAL corpora, not just the fixture:
    the equivalence proof (each 7-band key bucket is a clique; a star to
    the bucket-min spans it) is subtle enough to deserve random chains,
    cliques, and singletons. Same labels ⇒ same nodes AND same min-id
    components."""
    from twitter_event_stream_spark.operators.graph import (
        connected_components,
    )
    from twitter_event_stream_spark.operators.llm_extra import (
        minhash_cluster_edges,
        minhash_det_pairs,
    )

    d = spark.createDataFrame(docs, "doc_id long, text string")
    lab_pairs = {
        (r.node, r.label)
        for r in connected_components(
            minhash_det_pairs(d).select("a_id", "b_id"), "a_id", "b_id"
        ).collect()
    }
    lab_star = {
        (r.node, r.label)
        for r in connected_components(
            minhash_cluster_edges(d), "a_id", "b_id"
        ).collect()
    }
    assert lab_star == lab_pairs


@pytest.mark.deep
@settings(**{**_SETTINGS, "max_examples": 6})
@given(_near_dup_corpora())
def test_ingest_gate_matches_functional_spec_random(spark, docs):
    """r9 — the X116 gate against its complete functional spec on
    ADVERSARIAL corpora (mutation chains, exact-copy cliques, empty
    texts): a batch doc is rejected iff SOME candidate is within
    max_hamming (a corpus doc, or a smaller-id batch peer — banded recall
    is pigeonhole-exact at <=3 under 4x16-bit bands, so 'iff' is exact,
    not probabilistic); its audit row carries the minimal (hamming,
    dup_of) over ALL such candidates with the batch-membership reason;
    published docs are pairwise and corpus-wise > max_hamming apart; and
    an at-least-once replay republishes the identical set."""
    import shutil
    import tempfile

    from twitter_event_stream_spark.operators.corpus_full import (
        simhash64,
        write_simhash_index,
    )
    from twitter_event_stream_spark.streaming.pipelines import (
        dedup_ingest_batch,
        read_ingest_rejects,
        read_ingested,
    )

    corpus = docs[0::2]
    batch = [(i + 2_000_000, t) for i, t in docs[1::2]]
    base = tempfile.mkdtemp(prefix="gateprop")
    try:
        cdf = spark.createDataFrame(corpus, "doc_id long, text string")
        bdf = spark.createDataFrame(batch, "doc_id long, text string")
        write_simhash_index(spark, cdf, f"{base}/idx")
        handler = dedup_ingest_batch(f"{base}/idx", f"{base}/out")
        handler(bdf, 0)

        pub = {r.doc_id for r in read_ingested(spark, f"{base}/out").collect()}
        verdicts = {
            r.doc_id: (r.dup_of, r.hamming, r.reason)
            for r in read_ingest_rejects(spark, f"{base}/out").collect()
        }
        corpus_ids = {i for i, _ in corpus}
        batch_ids = {i for i, _ in batch}
        assert pub | set(verdicts) == batch_ids
        assert not (pub & set(verdicts))

        sigs = {
            r.doc_id: r.simhash64
            for r in simhash64(
                spark.createDataFrame(
                    corpus + batch, "doc_id long, text string"
                )
            ).collect()
        }

        def ham(a: int, b: int) -> int:
            return bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1")

        for d in sorted(batch_ids):
            cands = [(ham(d, c), c) for c in corpus_ids if ham(d, c) <= 3]
            cands += [
                (ham(d, b), b)
                for b in batch_ids
                if b < d and ham(d, b) <= 3
            ]
            if cands:
                h, c = min(cands)
                assert d in verdicts, (d, cands)
                want_reason = "intra_batch" if c in batch_ids else "index_dup"
                assert verdicts[d] == (c, h, want_reason), (
                    d, verdicts[d], (c, h, want_reason),
                )
            else:
                assert d in pub, (d, verdicts.get(d))
        for a in pub:
            for c in corpus_ids:
                assert ham(a, c) > 3, (a, c)
            for b in pub:
                if a < b:
                    assert ham(a, b) > 3, (a, b)

        # at-least-once replay: the index now holds the survivors' own
        # rows; the republished set must be identical, not empty
        handler(bdf, 0)
        pub2 = {
            r.doc_id for r in read_ingested(spark, f"{base}/out").collect()
        }
        assert pub2 == pub
    finally:
        shutil.rmtree(base, ignore_errors=True)


@settings(**{**_SETTINGS, "max_examples": 10})
@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=0, max_value=30)),
            st.one_of(st.none(), st.integers(min_value=0, max_value=30)),
        ),
        min_size=1,
        max_size=40,
    )
)
@pytest.mark.deep  # r15 (r14 verdict #3): breadth-value randomized suite — re-laned to deep to keep the fast gate under its 15-min budget
def test_connected_components_random_graphs(spark, edges):
    """r9 — both CC phases against a union-find reference on RANDOM
    graphs (self-loops, duplicate edges, null endpoints, disconnected
    blobs): the bounded numpy finish and the distributed
    hash-min + pointer-jump loop must both return exactly the min-id
    component labels. The synthetic-graph test pins a handful of shapes;
    random graphs cover the chains/cycles/star mixes that stress the
    pointer-jump convergence argument."""
    from twitter_event_stream_spark.operators.graph import (
        connected_components,
    )

    df = spark.createDataFrame(edges, "a long, b long")
    local = {
        (r.node, r.label) for r in connected_components(df, "a", "b").collect()
    }
    dist = {
        (r.node, r.label)
        for r in connected_components(
            df, "a", "b", local_threshold=0
        ).collect()
    }

    parent: dict = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a is None or b is None:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp_min: dict = {}
    for n in parent:
        r = find(n)
        comp_min[r] = min(comp_min.get(r, n), n)
    expected = {(n, comp_min[find(n)]) for n in parent}
    assert local == expected
    assert dist == expected


@pytest.mark.deep  # r15 (r14 verdict #3): breadth-value randomized suite — re-laned to deep to keep the fast gate under its 15-min budget
@settings(**{**_SETTINGS, "max_examples": 6})
@given(_near_dup_corpora())
def test_simhash_banded_exact_recall_random(spark, docs):
    """r9 — the pigeonhole-exactness claim on RANDOM corpora: for
    n_bands > max_hamming, simhash_banded_pairs must return EXACTLY the
    brute-force set of pairs within the radius (both the 4x16 config the
    persisted index uses and the 8x8 config of the bounded query) — the
    whole dedup stack (X106, X115, X116) rests on this not being
    approximate."""
    from twitter_event_stream_spark.operators.corpus_full import simhash64
    from twitter_event_stream_spark.operators.llm_extra import (
        simhash_banded_pairs,
    )

    d = spark.createDataFrame(docs, "doc_id long, text string")
    sh = simhash64(d)
    sigs = {r.doc_id: r.simhash64 for r in sh.collect()}
    ids = sorted(sigs)

    def ham(a: int, b: int) -> int:
        return bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1")

    for max_hamming, n_bands in ((3, 4), (6, 8)):
        got = {
            (r.a_id, r.b_id, r.hamming)
            for r in simhash_banded_pairs(
                spark, sh, max_hamming=max_hamming, n_bands=n_bands,
                bits=64, sig_col="simhash64",
            ).collect()
        }
        want = {
            (a, b, ham(a, b))
            for i, a in enumerate(ids)
            for b in ids[i + 1:]
            if ham(a, b) <= max_hamming
        }
        assert got == want, (max_hamming, n_bands)


@settings(**{**_SETTINGS, "max_examples": 8})
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),
            st.integers(min_value=0, max_value=40),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_session_window_matches_gaps_and_islands_fold(spark, rows):
    """r9 — the session-window boundary contract the I3 oracle rewrite
    depends on, checked against a local fold on RANDOM timestamps on a
    10-minute grid (so gaps of EXACTLY the 30-minute gap parameter, and
    duplicate timestamps, occur constantly). Measured semantics (Spark
    4.1.2, and what this test PINS): an event at exactly last + gap
    MERGES into the session — the boundary is inclusive for merging — so
    the gaps-and-islands break is strictly-greater-than-gap. The first
    run of this test falsified the engine's previous documented claim
    (split at exactly-gap, `>=` oracle) with the 2-event counterexample
    [t, t+30min]; fixture timestamps never land exactly on a boundary,
    which is why three rounds of hash-parity sweeps could not catch
    it."""
    import datetime

    from pyspark.sql import functions as F

    base = datetime.datetime(2024, 3, 1)
    data = [
        (u, base + datetime.timedelta(seconds=600 * k)) for u, k in rows
    ]
    df = spark.createDataFrame(data, "user_id int, ts timestamp")
    got = {
        (r.user_id, r.start, r.n)
        for r in df.groupBy(
            F.session_window("ts", "30 minutes").alias("sw"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.col("sw.start").alias("start"), "n")
        .collect()
    }
    expected = set()
    for u in {u for u, _ in data}:
        ts = sorted(t for uu, t in data if uu == u)
        start, n, last = ts[0], 0, None
        for t in ts:
            if last is not None and (t - last).total_seconds() > 1800:
                expected.add((u, start, n))
                start, n = t, 0
            n += 1
            last = t
        expected.add((u, start, n))
    assert got == expected


@settings(**{**_SETTINGS, "max_examples": 8})
@given(
    st.lists(st.integers(min_value=0, max_value=16), min_size=1, max_size=25)
)
def test_fixed_window_boundary_semantics(spark, ks):
    """r9 — tumbling and sliding window boundaries on a 15-minute grid
    (events land EXACTLY on hour and slide boundaries), against local
    folds: window(ts, 1h) assigns a boundary event to the window STARTING
    at it ([start, start+len), matching the I1 date_trunc oracle), and
    window(ts, 1h, 15m) puts every event in exactly the 4 slide-aligned
    windows the I2 oracle reconstructs. The session-window sibling test
    falsified the engine's documented merge boundary, so the fixed-window
    claims get measured too, not assumed."""
    import datetime

    from pyspark.sql import functions as F

    base = datetime.datetime(2024, 3, 1)
    data = [(base + datetime.timedelta(seconds=900 * k),) for k in ks]
    df = spark.createDataFrame(data, "ts timestamp")

    tum = {
        (r.s, r.e, r.n)
        for r in df.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("s"), F.col("w.end").alias("e"), "n"
        )
        .collect()
    }
    exp_tum: dict = {}
    for (t,) in data:
        s = t.replace(minute=0, second=0, microsecond=0)
        exp_tum[s] = exp_tum.get(s, 0) + 1
    assert tum == {
        (s, s + datetime.timedelta(hours=1), n) for s, n in exp_tum.items()
    }

    sli = {
        (r.s, r.n)
        for r in df.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("s"), "n")
        .collect()
    }
    exp_sli: dict = {}
    for (t,) in data:
        t15 = t - datetime.timedelta(
            minutes=t.minute % 15, seconds=t.second,
            microseconds=t.microsecond,
        )
        for j in range(4):
            s = t15 - datetime.timedelta(minutes=15 * j)
            exp_sli[s] = exp_sli.get(s, 0) + 1
    assert sli == {(s, n) for s, n in exp_sli.items()}


@settings(**_SETTINGS)
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.text(min_size=0, max_size=120),  # arbitrary unicode garbage
            st.builds(
                lambda i, t, u: (
                    f'{{"event_id": {i}, "ts": "{t}", "user_id": {u},'
                    f' "event_type": "click", "value": 1.0, "props": "x"}}'
                ),
                st.integers(min_value=0, max_value=10**9),
                st.just("2024-03-01T12:00:00"),
                st.integers(min_value=0, max_value=99),
            ),
            st.builds(lambda d: __import__("json").dumps(d), st.dictionaries(
                st.sampled_from(["event_id", "ts", "user_id", "junk"]),
                st.one_of(st.integers(), st.text(max_size=8), st.none()),
                max_size=3,
            )),
        ),
        min_size=1,
        max_size=30,
    )
)
@pytest.mark.deep  # r15 (r14 verdict #3): breadth-value randomized suite — re-laned to deep to keep the fast gate under its 15-min budget
def test_dlq_decode_total_partition(spark, lines):
    """X120 fuzz: decode_events_dlq never throws on arbitrary input, and
    dlq_split is a TOTAL PARTITION — every input row lands in exactly one
    lane, a good lane row has the dedup/watermark keys, and a reject keeps
    its raw line (or tags `empty` for null)."""
    from twitter_event_stream_spark.streaming.pipelines import (
        decode_events_dlq,
        dlq_split,
    )

    raw = spark.createDataFrame([(x,) for x in lines], "value string")
    decoded = decode_events_dlq(raw)
    events, dead = dlq_split(decoded)
    n_events, n_dead = events.count(), dead.count()
    assert n_events + n_dead == len(lines)
    for r in events.collect():
        assert r.event_id is not None and r.ts is not None
    dead_rows = dead.collect()
    assert {r.reject_reason for r in dead_rows} <= {
        "malformed",
        "empty",
        "missing_required",
    }
    # Every non-null rejected line is preserved verbatim for the quarantine.
    assert all(r.raw_value is not None for r in dead_rows
               if r.reject_reason != "empty")
    n_null = sum(1 for x in lines if x is None)
    assert sum(1 for r in dead_rows if r.reject_reason == "empty") == n_null


# --- X116/X117 manifest commit protocol under random crash interleavings ---


class _SimCrash(Exception):
    """Injected fault: the process dies between two writes of the ingest
    protocol (rejects publish -> corpus publish -> index append ->
    manifest)."""


def _attempt_ingest(idx_path, out_dir, bdf, bid, crash_after):
    """One at-least-once delivery attempt of batch ``bid``: the handler
    runs with the protocol's four write ops instrumented so the attempt
    dies after ``crash_after`` of them complete (4 = clean completion).
    Returns True when the attempt committed (reached the manifest)."""
    from unittest import mock

    import twitter_event_stream_spark.operators.corpus_full as CF
    import twitter_event_stream_spark.streaming.pipelines as P

    state = {"n": 0}

    def gated(real):
        def inner(*a, **k):
            if state["n"] >= crash_after:
                raise _SimCrash()
            res = real(*a, **k)
            state["n"] += 1
            return res

        return inner

    with mock.patch.object(
        P, "_publish_atomic", gated(P._publish_atomic)
    ), mock.patch.object(
        P, "_write_fs_manifest", gated(P._write_fs_manifest)
    ), mock.patch.object(
        CF, "write_band_rows", gated(CF.write_band_rows)
    ):
        # handler built INSIDE the patch: the factory binds write_band_rows
        # by `from ... import`, so it must read the instrumented attribute
        handler = P.dedup_ingest_batch(idx_path, out_dir)
        try:
            handler(bdf, bid)
            return True
        except _SimCrash:
            return False


def _committed_view(spark, out_dir):
    """What a reader sees: (committed ids, published doc_ids, reject rows).
    Must always be a readable, consistent prefix — never partial state."""
    from twitter_event_stream_spark.fsio import manifested_batch_ids
    from twitter_event_stream_spark.streaming.pipelines import (
        read_ingest_rejects,
        read_ingested,
    )

    ids = manifested_batch_ids(spark, out_dir)
    if not ids:
        return ((), (), ())
    pub = tuple(sorted(r.doc_id for r in read_ingested(spark, out_dir).collect()))
    rej = tuple(sorted(map(tuple, read_ingest_rejects(spark, out_dir).collect())))
    return (tuple(ids), pub, rej)


@st.composite
def _crash_scenarios(draw):
    docs = draw(_near_dup_corpora())
    # 2 batches, each preceded by 0-1 crashing attempts dying after 0..3
    # completed writes (each handler run is several Spark jobs, so the
    # scenario space is kept small; the crash POSITION is the dimension
    # that matters, and all four positions × both batches are reachable)
    schedule = [
        draw(st.lists(st.integers(min_value=0, max_value=3), max_size=1))
        for _ in range(2)
    ]
    return docs, schedule


@pytest.mark.deep
@settings(**{**_SETTINGS, "max_examples": 4})
@given(_crash_scenarios())
def test_ingest_commit_protocol_random_crash_interleavings(spark, scenario):
    """r10 (r9 verdict #6) — the X116/X117 commit protocol as a functional
    spec over RANDOM interleavings of publish/append/manifest/crash/replay
    across 2-3 batches: after every attempt (crashed anywhere in the
    protocol, or completed), readers see exactly the state a CRASH-FREE
    run of the committed batch prefix produces — same committed ids, same
    published docs, same audit rows, byte-stable — and the final index
    holds the same band rows. Single fault points are pinned by the
    targeted crash-sim tests; this pins arbitrary compositions."""
    import shutil
    import tempfile

    from twitter_event_stream_spark.operators.corpus_full import (
        write_simhash_index,
    )
    from twitter_event_stream_spark.streaming.pipelines import (
        dedup_ingest_batch,
    )

    docs, schedule = scenario
    n_batches = len(schedule)
    batches = [docs[i::n_batches] for i in range(n_batches)]
    seed = [(5_000_000, "seed corpus document with its own vocabulary")]

    base = tempfile.mkdtemp(prefix="commitprop")
    try:
        # golden: the same batch sequence, crash-free, in a sibling tree —
        # its view after each commit is the spec for the crashy run
        golden_views = []
        g_idx, g_out = f"{base}/g_idx", f"{base}/g_out"
        write_simhash_index(
            spark,
            spark.createDataFrame(seed, "doc_id long, text string"),
            g_idx,
        )
        g_handler = dedup_ingest_batch(g_idx, g_out)
        for bid, docs_b in enumerate(batches):
            g_handler(
                spark.createDataFrame(docs_b, "doc_id long, text string"), bid
            )
            golden_views.append(_committed_view(spark, g_out))

        idx, out = f"{base}/idx", f"{base}/out"
        write_simhash_index(
            spark,
            spark.createDataFrame(seed, "doc_id long, text string"),
            idx,
        )
        committed = 0
        for bid, docs_b in enumerate(batches):
            bdf = spark.createDataFrame(docs_b, "doc_id long, text string")
            for crash_after in schedule[bid]:
                assert not _attempt_ingest(idx, out, bdf, bid, crash_after)
                # invariant: a crashed attempt exposes NOTHING new — the
                # view is still exactly the committed prefix's golden view
                want = golden_views[committed - 1] if committed else ((), (), ())
                assert _committed_view(spark, out) == want, (
                    bid, crash_after, committed,
                )
            assert _attempt_ingest(idx, out, bdf, bid, crash_after=4)
            committed += 1
            assert _committed_view(spark, out) == golden_views[committed - 1]

        # final index: same band rows as the crash-free run (the crashed
        # appends were either absorbed by replay determinism or never
        # happened; nothing extra, nothing missing)
        from twitter_event_stream_spark.fsio import resolve_data_dir

        got_idx, want_idx = (
            sorted(
                map(tuple, spark.read.parquet(resolve_data_dir(spark, p)).collect())
            )
            for p in (idx, g_idx)
        )
        assert got_idx == want_idx
    finally:
        shutil.rmtree(base, ignore_errors=True)


# --- X123 vector ingest protocol under random crash interleavings ----------


def _attempt_vector_ingest(idx_path, bdf, bid, crash=None):
    """One at-least-once attempt of vector batch ``bid``: ``crash`` is None
    (clean), ``"before"`` (the handler dies before its append starts) or
    ``"after"`` (it dies after the append committed, before it returns).
    Returns True when the handler returned."""
    from unittest import mock

    import twitter_event_stream_spark.operators.vector_search as VS
    import twitter_event_stream_spark.streaming.pipelines as P

    real = VS.append_ivf_index

    def gated(*a, **k):
        if crash == "before":
            raise _SimCrash()
        real(*a, **k)
        if crash == "after":
            raise _SimCrash()

    with mock.patch.object(VS, "append_ivf_index", gated):
        try:
            P.vector_ingest_batch(idx_path)(bdf, bid)
            return True
        except _SimCrash:
            return False


_VECTOR_MAINT = ("none", "compact_ivf_cells", "rebuild_ivf_index")


@st.composite
def _vector_crash_scenarios(draw):
    """Per batch: 0-2 crashing attempts, each dying before or after the
    append; after every attempt, crashed or clean, one maintenance event
    drawn from {none, compact_ivf_cells, rebuild_ivf_index}; plus an
    optional foreachBatch RETRY of batch 0 late in the run."""
    crashes = [
        draw(st.lists(st.sampled_from(["before", "after"]), max_size=2))
        for _ in range(2)
    ]
    maint = [
        [draw(st.sampled_from(_VECTOR_MAINT)) for _ in range(len(c) + 1)]
        for c in crashes
    ]
    late_retry = draw(st.booleans())
    return crashes, maint, late_retry


@pytest.mark.deep
@settings(**{**_SETTINGS, "max_examples": 4})
@given(_vector_crash_scenarios())
def test_vector_protocol_random_crash_interleavings(spark, sf_dir, scenario):
    """r10 — the X123 protocol as a functional spec over random
    compositions of handler crashes before and after the append, replays,
    compactions, rebuilds and late retries, with OVERLAPPING batches
    (cross-batch redelivery): after every event no vec_id is visible
    twice and the visible set equals base ∪ committed batches, plus a
    crashed batch exactly when its append finished; at the end the cell
    tree equals a one-shot assignment of that set against the stored
    centroids. Maintenance runs between handler calls, the single-writer
    cadence."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from twitter_event_stream_spark.fsio import resolve_data_dir
    from twitter_event_stream_spark.operators.vector_search import (
        _cell_assign,
        _stored_centroid_bc,
        compact_ivf_cells,
        ivf_topk_indexed,
        read_ivf_cells,
        rebuild_ivf_index,
        write_ivf_index,
    )
    from twitter_event_stream_spark.tables import table

    crashes, maint, late_retry = scenario
    e = table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    base_df = e.filter(F.col("vec_id") % 2 == 0)
    # two OVERLAPPING odd slices: batch 1 redelivers half of batch 0
    b0 = e.filter(F.col("vec_id") % 4 == 1).select("vec_id", "embedding")
    b1 = e.filter(
        (F.col("vec_id") % 4 == 3) | (F.col("vec_id") % 8 == 1)
    ).select("vec_id", "embedding")
    batches = [b0, b1]
    ids_of = [
        frozenset(r.vec_id for r in b.collect()) for b in batches
    ]
    base_ids = frozenset(r.vec_id for r in base_df.select("vec_id").collect())

    root = tempfile.mkdtemp(prefix="vecprop")
    idx = f"{root}/idx"
    try:
        write_ivf_index(spark, base_df, idx)
        appended: set[int] = set()  # committed, or crashed after the append

        def want():
            return base_ids.union(*(ids_of[b] for b in appended))

        def visible_ok():
            got = [
                r.vec_id
                for r in read_ivf_cells(spark, idx).select("vec_id").collect()
            ]
            assert len(got) == len(set(got)), "a vec_id is visible twice"
            assert set(got) == want(), (
                sorted(set(got) ^ want()), sorted(appended)
            )

        def maintain(op):
            if op == "compact_ivf_cells":
                compact_ivf_cells(spark, idx)
            elif op == "rebuild_ivf_index":
                rebuild_ivf_index(spark, idx)
            visible_ok()

        for b in range(2):
            for crash, op in zip(crashes[b], maint[b]):
                assert not _attempt_vector_ingest(idx, batches[b], b, crash)
                if crash == "after":
                    appended.add(b)
                visible_ok()
                maintain(op)
            assert _attempt_vector_ingest(idx, batches[b], b)
            appended.add(b)
            visible_ok()
            maintain(maint[b][-1])

        if late_retry:
            # foreachBatch retry of batch 0 arbitrarily late — after batch
            # 1 and any compaction or rebuild
            assert _attempt_vector_ingest(idx, batches[0], 0)
            visible_ok()

        # converge: the tree's (vec_id, cell) content is EXACTLY the
        # one-shot stored-centroid assignment of the visible set — however
        # the crashes, compactions and rebuilds interleaved (content
        # equality implies probe equality: identical candidates, identical
        # ranking arithmetic)
        cells = spark.read.parquet(f"{resolve_data_dir(spark, idx)}/cells")
        bc = _stored_centroid_bc(spark, idx)
        visible_vecs = e.filter(F.col("vec_id").isin(list(want()))).select(
            "vec_id", "embedding"
        )
        want_cells = sorted(
            (r.vec_id, r.cell)
            for r in _cell_assign(visible_vecs, bc, 1).collect()
        )
        got_cells = sorted(
            (r.vec_id, r.cell) for r in cells.select("vec_id", "cell").collect()
        )
        assert got_cells == want_cells
        # probe sanity: the ingested (odd) vectors are reachable neighbors
        probes = e.filter(F.col("vec_id") < 20)
        res = ivf_topk_indexed(spark, idx, probes, k=5).collect()
        assert res and any(r.cand_id % 2 == 1 for r in res)
    finally:
        shutil.rmtree(root, ignore_errors=True)
