"""X4x — second batch of pipeline-grade extensions: exact distinct via
mergeable bitmaps, content-policy/PII scanning, winnowing document
fingerprints, recursive CTEs, batch sessionization, and int8 embedding
quantization.

Scale notes per operator live in the docstrings; the common thread is that
every one is built-in JVM expressions (no Python in the row path) and every
aggregation is partial-aggregable, so the shuffles carry per-group partials
only. Reference checkout is empty (SURVEY §0.1) — these extend the §2.3
inventory as first-class training-data-pipeline operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: F401  (kept for parity with sibling modules)

from twitter_event_stream_spark.registry import query
from twitter_event_stream_spark.tables import table

#: ASCII-only so Java regex (Spark) and RE2 (DuckDB) agree on every class.
_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
_DIGIT_RUN_RE = "[0-9]{4,}"
_DENYLIST_RE = r"\b(key|hash)\b"


@query(
    "q_bitmap_distinct",
    oracle="""
    SELECT event_type, count(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    """,
)
def q_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X44 — EXACT distinct counting via mergeable bitmaps
    (bitmap_bucket_number / bitmap_bit_position / bitmap_construct_agg):
    ids are bucketed into fixed-width bitmap segments, each (group, bucket)
    aggregates to one ≤4 KB bitmap, and the per-group count is the sum of
    per-bucket popcounts. Unlike ``count(DISTINCT)`` (whose expand forces
    every raw id through the shuffle) the shuffle carries one bitmap per
    (partition × group × bucket) — the same mergeable-partial shape as the
    HLL sketch (X33) but exact. The oracle states the same cardinality with
    a plain distinct count."""
    table(spark, sf_dir, "events")
    return spark.sql(
        """
        SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n_users
        FROM (
          SELECT event_type, bitmap_bucket_number(user_id) AS bkt,
                 bitmap_count(bitmap_construct_agg(bitmap_bit_position(user_id))) AS cnt
          FROM events GROUP BY 1, 2
        )
        GROUP BY event_type
        """
    )


@query(
    "q_policy_scan",
    oracle=f"""
    SELECT lang,
           count(*) AS n_docs,
           count(*) FILTER (WHERE len(regexp_extract_all(text, '{_EMAIL_RE}')) > 0)
             AS docs_with_email,
           CAST(sum(len(regexp_extract_all(text, '{_DIGIT_RUN_RE}'))) AS BIGINT)
             AS n_long_digit_runs,
           CAST(sum(len(regexp_extract_all(text, '{_DENYLIST_RE}'))) AS BIGINT)
             AS n_denylist_hits
    FROM documents
    GROUP BY lang
    """,
)
def q_policy_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X45 — content-policy / PII scan over the corpus: per language, how
    many documents match an email pattern, how many long digit runs
    (phone/ID-shaped PII) appear, and how many denylisted-term hits. The
    email/digit patterns are legitimately zero on the synthetic fixture
    (no digits in the text) — they still pin cross-engine regex parity —
    while the denylist hits are non-zero so the hash is meaningful. One
    scan, three regexp_count expressions, one partial-agg rollup: at
    100 TB this is the standard safety-filter pass, embarrassingly
    parallel, no shuffle beyond per-language partials."""
    table(spark, sf_dir, "documents")
    # Spark SQL string literals process backslash escapes (DuckDB's don't),
    # so the SHARED pattern constant is re-escaped here rather than
    # hardcoding a second copy that could silently drift from the oracle's
    den = _DENYLIST_RE.replace("\\", "\\\\")
    return spark.sql(
        f"""
        SELECT lang,
               count(*) AS n_docs,
               count_if(regexp_count(text, '{_EMAIL_RE}') > 0) AS docs_with_email,
               CAST(sum(regexp_count(text, '{_DIGIT_RUN_RE}')) AS BIGINT)
                 AS n_long_digit_runs,
               CAST(sum(regexp_count(text, '{den}')) AS BIGINT)
                 AS n_denylist_hits
        FROM documents
        GROUP BY lang
        """
    )


@query(
    "q_winnow_fingerprint",
    oracle="""
    WITH g AS (
      SELECT doc_id, pos, CAST(concat('0x', substr(md5(gram), 1, 8)) AS BIGINT) AS h,
             length(text) - 3 AS n_grams
      FROM (SELECT doc_id, text,
                   unnest(generate_series(1, length(text) - 3)) AS pos,
                   unnest(list_transform(range(1, length(text) - 2),
                                         i -> substr(text, i, 4))) AS gram
            FROM documents WHERE doc_id < 50) t
    ), w AS (
      SELECT doc_id, pos, n_grams,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS fp
      FROM g
    )
    SELECT DISTINCT doc_id, fp FROM w WHERE pos <= n_grams - 4
    """,
)
def q_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X46 — winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every k=4 char-gram (md5-prefix
    arithmetic, portable across engines), then keep the minimum hash of
    every w=5 consecutive window. Guarantees any shared substring of
    length ≥ k+w-1 shares a fingerprint — the position-robust exact-dup
    detector that complements MinHash (set-similarity) and SimHash
    (distribution-similarity). Per doc the work is local (explode + one
    intra-doc window); the fingerprint set is what a pipeline would
    inverted-index for O(shared-fp) candidate lookup at corpus scale.
    Note Spark's ``posexplode`` is 0-based vs the oracle's 1-based
    ``generate_series`` — pos is shifted to 1-based before the tail filter
    so both engines drop the same clipped windows."""
    table(spark, sf_dir, "documents")
    return spark.sql(
        """
        WITH g AS (
          SELECT doc_id, pos0 + 1 AS pos,
                 CAST(conv(substr(md5(gram), 1, 8), 16, 10) AS BIGINT) AS h,
                 length(text) - 3 AS n_grams
          FROM (SELECT doc_id, text,
                       posexplode(transform(sequence(1, length(text) - 3),
                                            i -> substring(text, i, 4))) AS (pos0, gram)
                FROM documents WHERE doc_id < 50)
        ), w AS (
          SELECT doc_id, pos, n_grams,
                 min(h) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS fp
          FROM g
        )
        SELECT DISTINCT doc_id, fp FROM w WHERE pos <= n_grams - 4
        """
    )


#: Identical text on both engines — recursion is ANSI WITH RECURSIVE.
_RECURSIVE_SQL = """
WITH RECURSIVE m(mon) AS (
  SELECT 1 UNION ALL SELECT mon + 1 FROM m WHERE mon < 12
)
SELECT mon, count(o_orderkey) AS n_orders,
       floor((coalesce(sum(o_totalprice), 0)) * 100 + 0.505) / 100 AS total
FROM m LEFT JOIN orders ON month(o_orderdate) = mon
GROUP BY mon
"""


@query("q_recursive_cte", oracle=_RECURSIVE_SQL)
def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X47 — recursive CTE (Spark 4 ``WITH RECURSIVE``): a generated month
    ladder LEFT-joined to orders so empty months survive with zero counts.
    The recursion itself is tiny driver-side iteration; the point is the
    engine executes ANSI recursive SQL natively — the oracle runs the
    byte-identical statement. (CC clustering deliberately does NOT use
    recursion: a transitive closure materializes O(cluster²) rows, while
    the hash-min loop in operators/graph.py stays linear — recursion is
    for hierarchies/ladders, not 100 TB graph connectivity.)"""
    table(spark, sf_dir, "orders")
    return spark.sql(_RECURSIVE_SQL)


#: Gaps-and-islands sessionization. ``{INT30}`` is replaced per dialect
#: (Spark: INTERVAL 30 MINUTES, DuckDB: INTERVAL 30 MINUTE); DuckDB also
#: needs the TIMESTAMPTZ→TIMESTAMP cast on the raw column.
_SESSIONIZE_SQL = """
WITH t AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              OR ts > lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                      + {INT30}
              THEN 1 ELSE 0 END AS new_s
  FROM {EVENTS}
), s AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_id
  FROM t
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       min(ts) AS session_start, count(*) AS n_events
FROM s GROUP BY user_id, session_id
"""


@query(
    "q_sessionize",
    oracle=_SESSIONIZE_SQL.format(
        INT30="INTERVAL 30 MINUTE",
        EVENTS="(SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events) ev0",
    ),
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X48 — batch sessionization with explicit session IDs
    (gaps-and-islands: lag → new-session flag → running sum), the batch
    twin of I3's ``session_window`` aggregate that I3 cannot express —
    session_window yields bounds, not joinable per-user session keys. The
    strict >-gap break matches session_window's boundary-inclusive merge
    (an event at exactly last+gap EXTENDS the session — SURVEY I3 note).
    Two window passes over the same (user_id, ts) sort — Spark
    plans ONE exchange+sort reused by both windows, then a partial-agg
    rollup; per-user state at 100 TB is the sort run, not materialized
    sessions."""
    table(spark, sf_dir, "events")
    return spark.sql(
        _SESSIONIZE_SQL.format(INT30="INTERVAL 30 MINUTES", EVENTS="events")
    )


#: Deterministic stratified sample: identical SQL up to the STRING/VARCHAR
#: cast keyword. Hash-ranked row_number per stratum — membership is a pure
#: function of the key (rerun/layout/cluster-size stable), the property
#: random sampling loses the moment partitioning changes (cf. X32).
_STRATIFIED_SQL = """
WITH ranked AS (
  SELECT doc_id, lang, n_chars,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS {STR})), doc_id) AS rn
  FROM documents
)
SELECT lang, count(*) AS n_sampled, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(min(doc_id) AS BIGINT) AS min_id
FROM ranked WHERE rn <= 20 GROUP BY lang
"""


@query("q_stratified_sample", oracle=_STRATIFIED_SQL.format(STR="VARCHAR"))
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X51 — deterministic stratified sampling: exactly-N-per-stratum via
    md5-hash ranking inside each language. Because the rank order is a pure
    function of the keys, the sample is identical across reruns, engines,
    and cluster layouts — the property a training-data pipeline needs for
    reproducible eval subsets. One window per stratum (shuffle on lang) +
    a partial-agg rollup; at 100 TB the WindowGroupLimit pushdown keeps
    only ~N rows per stratum ahead of the final sort."""
    table(spark, sf_dir, "documents")
    return spark.sql(_STRATIFIED_SQL.format(STR="STRING"))


_FEATURE_HASH_SQL = """
SELECT doc_id, CAST({CONV} % 64 AS INT) AS bucket, count(*) AS cnt
FROM (SELECT doc_id, {EXPL} AS token FROM documents WHERE doc_id < 20) t
GROUP BY 1, 2
"""


@query(
    "q_feature_hash",
    oracle=_FEATURE_HASH_SQL.format(
        CONV="CAST(concat('0x', substr(md5(token), 1, 4)) AS BIGINT)",
        EXPL="unnest(string_split(text, ' '))",
    ),
)
def q_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X52 — the hashing trick (Weinberger et al., ICML'09): tokens map to
    a fixed 64-bucket feature space through an md5 prefix, giving bounded-
    width sparse features with no vocabulary build — the standard way to
    featurize unbounded token streams at corpus scale (no global dictionary
    shuffle, fully map-side until the per-doc count rollup). md5-prefix
    arithmetic is engine-portable, so bucket ids hash-match exactly."""
    table(spark, sf_dir, "documents")
    return spark.sql(
        _FEATURE_HASH_SQL.format(
            CONV="conv(substr(md5(token), 1, 4), 16, 10)",
            EXPL="explode(split(text, ' '))",
        )
    )


#: NULLS FIRST pins the engines' diverging defaults (Spark ASC sorts NULLs
#: first, DuckDB last): the distributed ntile ranks NULL values into the
#: first tile, and the oracle must state the same total order explicitly.
_BUCKETIZE_SQL = """
WITH b AS (
  SELECT value, ntile(10) OVER (ORDER BY value NULLS FIRST, event_id) AS bin
  FROM events
)
SELECT bin, count(*) AS n,
       floor((min(value)) * 100 + 0.505) / 100 AS lo,
       floor((max(value)) * 100 + 0.505) / 100 AS hi
FROM b GROUP BY bin
"""


@query("q_quantile_bucketize", oracle=_BUCKETIZE_SQL)
def q_quantile_bucketize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X53 — equal-frequency discretization (decile binning, unique
    tiebreak, so bin membership is total-order deterministic): the
    feature-engineering twin of X11's equal-width histogram.

    Scale shape (r6, closing the r5 verdict's last weak plan): EXACT
    deciles do NOT need the one-reducer global ntile sort the oracle
    states — :func:`~twitter_event_stream_spark.operators.scale_ops.
    ntile_distributed` computes the identical exact tile from a
    sketch-bucketed two-pass global rank (value-range buckets from one
    approx_percentile pass, per-bucket local rank, literal-map prefix
    offsets, closed-form left-heavy ntile arithmetic on the exact rank).
    Same answer bit-for-bit, no single-task sort, no unpartitioned window
    anywhere in the plan."""
    from twitter_event_stream_spark.exprs import rnd
    from twitter_event_stream_spark.operators.scale_ops import (
        ntile_distributed,
    )

    ev = table(spark, sf_dir, "events").select("event_id", "value")
    binned = ntile_distributed(ev, "value", "event_id", n_tiles=10)
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        rnd(F.min("value"), 2).alias("lo"),
        rnd(F.max("value"), 2).alias("hi"),
    )


#: nullif(sd, 0): an all-equal group has sd = 0.0 (not NULL) — DuckDB's
#: double /0 would yield NULL anyway, but Spark's default ANSI mode ABORTS
#: on it; nullif states the NULL-z semantics identically in both dialects,
#: keeping the SQL byte-identical.
_ZNORM_SQL = """
WITH s AS (
  SELECT event_id, event_type, value,
         avg(value) OVER (PARTITION BY event_type) AS mu,
         stddev_samp(value) OVER (PARTITION BY event_type) AS sd
  FROM events
)
SELECT event_id, event_type,
       floor(((value - mu) / nullif(sd, 0)) * 1000000 + 0.505) / 1000000 AS z
FROM s WHERE event_id < 2000
"""


@query("q_znorm", oracle=_ZNORM_SQL)
def q_znorm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X54 — per-group z-score normalization through unbounded window
    aggregates (group stats joined back to every row without a self-join).
    Catalyst plans one exchange on event_type shared by both window
    functions. At 100 TB the same semantics would usually flip to the
    two-pass broadcast form (tiny stats agg → broadcast join) to avoid
    sorting the fact table — both shapes ship in this engine (cf.
    q_scalar_subquery X3); this row pins the window form. Byte-identical
    SQL on both engines; ulp drift collapsed by the shared rounding
    formula."""
    table(spark, sf_dir, "events")
    return spark.sql(_ZNORM_SQL)


_PROFILE_SQL = """
SELECT col, CAST(n AS BIGINT) AS n, CAST(n_null AS BIGINT) AS n_null,
       CAST(n_distinct AS BIGINT) AS n_distinct, min_s, max_s
FROM (
  SELECT 'o_orderkey' AS col, count(*) AS n, count_if(o_orderkey IS NULL) AS n_null,
         count(DISTINCT o_orderkey) AS n_distinct,
         CAST(min(o_orderkey) AS {STR}) AS min_s, CAST(max(o_orderkey) AS {STR}) AS max_s
  FROM orders
  UNION ALL
  SELECT 'o_orderstatus', count(*), count_if(o_orderstatus IS NULL),
         count(DISTINCT o_orderstatus), min(o_orderstatus), max(o_orderstatus)
  FROM orders
  UNION ALL
  SELECT 'o_orderdate', count(*), count_if(o_orderdate IS NULL),
         count(DISTINCT o_orderdate),
         CAST(CAST(min(o_orderdate) AS DATE) AS {STR}),
         CAST(CAST(max(o_orderdate) AS DATE) AS {STR})
  FROM orders
) t
"""


@query("q_data_profile", oracle=_PROFILE_SQL.format(STR="VARCHAR"))
def q_data_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X55 — data-quality profiling: per-column row count, null count,
    distinct count, and min/max rendered as strings (ints/strings/dates
    only — double→string repr differs across engines and is banned by
    convention C2). The long-format UNION ALL keeps one scan per column
    family; Spark shares the cached scan across branches. This is the
    pre-training sanity pass a pipeline runs before pointing 1000
    executors at a new drop."""
    table(spark, sf_dir, "orders")
    return spark.sql(_PROFILE_SQL.format(STR="STRING"))


#: Per-label centroid cosine matrix. ``pos`` never crosses engines (each
#: side joins its own positions), so Spark's 0-based posexplode and the
#: oracle's 1-based generate_series need no shift here. Centroid
#: components are rounded to 9 dp BEFORE the pairwise products so parallel
#: vs sequential summation drift cannot amplify through the dot product.
_CENTROID_SQL = """
WITH comp AS (
  SELECT label, pos, v FROM ({EXPL}) t
), cent AS (
  SELECT label, pos, floor((avg(v)) * 1000000000 + 0.505) / 1000000000 AS c
  FROM comp GROUP BY label, pos
), pairs AS (
  SELECT a.label AS label_a, b.label AS label_b,
         sum(a.c * b.c) AS dot,
         sum(a.c * a.c) AS na, sum(b.c * b.c) AS nb
  FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
  GROUP BY 1, 2
)
SELECT label_a, label_b,
       floor((dot / (sqrt(na) * sqrt(nb))) * 1000000 + 0.505) / 1000000 AS cos_sim
FROM pairs
"""


@query(
    "q_embed_centroids",
    oracle=_CENTROID_SQL.format(
        EXPL="""SELECT label,
      unnest(generate_series(1, len(embedding))) AS pos,
      unnest(embedding::DOUBLE[]) AS v FROM embeddings"""
    ),
)
def q_embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X57 — per-class embedding centroids and their pairwise cosine
    matrix: the embedding-space health check a pipeline runs after
    ingesting a labeled drop (collapsed classes → near-1 cosines; it is
    also the spherical-kmeans update step). Long-format (label, pos)
    partial aggregation — the centroid shuffle carries dims × classes
    rows regardless of corpus size, and the pairwise join is over the
    tiny centroid set only. Class count is bounded, so at 100 TB the
    centroid agg is the only pass over the data."""
    table(spark, sf_dir, "embeddings")
    return spark.sql(
        _CENTROID_SQL.format(
            EXPL="SELECT label, posexplode(transform(embedding,"
            " x -> CAST(x AS DOUBLE))) AS (pos, v) FROM embeddings"
        )
    )


@query(
    "q_embed_quantize",
    oracle="""
    WITH s AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ), sc AS (
      SELECT vec_id, e,
             greatest(list_aggregate(list_transform(e, x -> abs(x)), 'max') / 127.0,
                      1e-12) AS scale
      FROM s
    )
    SELECT vec_id,
           len(list_filter(e, x -> abs(floor(x / scale + 0.5)) >= 127)) AS n_sat,
           floor((list_sum(list_transform(e,
                    x -> pow(x - floor(x / scale + 0.5) * scale, 2))) / len(e))
                 * 10000000000 + 0.505) / 10000000000 AS mse
    FROM sc
    """,
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X49 — symmetric int8 embedding quantization (per-vector absmax
    scaling, the storage/ANN-recall trade every vector store makes):
    scale = absmax/127, codes = round(x/scale), reported as saturation
    count and dequantization MSE per vector. All JVM higher-order
    functions over the embedding array — elementwise chains evaluate in
    identical IEEE order on both engines, so even the MSE hash-matches
    (same discipline as H7's dot product). At 100 TB this is a mapper:
    no shuffle at all."""
    table(spark, sf_dir, "embeddings")
    return spark.sql(
        """
        WITH s AS (
          SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS e
          FROM embeddings
        ), sc AS (
          SELECT vec_id, e,
                 greatest(array_max(transform(e, x -> abs(x))) / 127.0, 1e-12)
                   AS scale
          FROM s
        )
        SELECT vec_id,
               size(filter(e, x -> abs(floor(x / scale + 0.5)) >= 127)) AS n_sat,
               floor((aggregate(transform(e,
                        x -> pow(x - floor(x / scale + 0.5) * scale, 2)),
                        0D, (a, v) -> a + v) / size(e))
                     * 10000000000 + 0.505) / 10000000000 AS mse
        FROM sc
        """
    )


@query(
    "q_llm_repetition",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang,
             list_transform(range(1, len(string_split(text, ' ')) - 1),
                            i -> string_split(text, ' ')[i] || ' ' ||
                                 string_split(text, ' ')[i + 1] || ' ' ||
                                 string_split(text, ' ')[i + 2]) AS tri
      FROM documents WHERE doc_id < 400
    )
    SELECT doc_id, lang,
           CAST(len(tri) AS INT) AS n_trigrams,
           CAST(len(tri) - len(list_distinct(tri)) AS INT) AS n_dup_trigrams,
           floor(((len(tri) - len(list_distinct(tri)))
                  / CAST(nullif(len(tri), 0) AS DOUBLE)) * 1000000 + 0.505)
             / 1000000 AS dup_ratio
    FROM t
    """,
)
def q_llm_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X70 — repetition quality gate (the Gopher-rules signal): the fraction
    of a document's word trigrams that are repeats. Degenerate generated or
    boilerplate text repeats n-grams heavily; natural prose sits near zero.
    Computed entirely with array HOFs per row — no explode, no shuffle at
    all until the caller aggregates — so it composes into the curation
    filter chain at zero distributed cost. Docs under 3 tokens emit a NULL
    ratio (nullif guard, identical both engines). The trigram list is built
    with an n>=3 CASE guard because Spark's `sequence(1, n)` turns
    *descending* when n < 1 while DuckDB's `range` returns empty."""
    # `toks` is bound as a column below (r16, guide §1.2): the interpreted
    # transform lambda re-evaluated the inlined split(text) THREE times per
    # trigram index (no loop-invariant hoisting in HOF bodies) — O(tokens²)
    # splits per doc; identical trigram values with the column reference.
    tri = F.expr(
        "CASE WHEN size(toks) >= 3 THEN"
        " transform(sequence(1, size(toks) - 2),"
        "  i -> concat(element_at(toks, i), ' ',"
        "              element_at(toks, i + 1), ' ',"
        "              element_at(toks, i + 2)))"
        " ELSE array() END"
    )
    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 400)
        .withColumn("toks", F.split("text", " "))
    )
    n_tri = F.size(F.col("tri"))
    n_dup = n_tri - F.size(F.array_distinct("tri"))
    from twitter_event_stream_spark.exprs import rnd

    return (
        d.withColumn("tri", tri)
        .select(
            "doc_id",
            "lang",
            n_tri.alias("n_trigrams"),
            n_dup.alias("n_dup_trigrams"),
            rnd(n_dup / F.nullif(n_tri, F.lit(0)).cast("double"), 6).alias(
                "dup_ratio"
            ),
        )
    )
