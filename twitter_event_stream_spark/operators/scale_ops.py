"""X6x — scale-pattern operators: the query shapes that decide whether a
pipeline survives a 100 TB run.

Four of these exist because of how Spark executes at scale, not because SQL
lacks the words: a skew profiler (find the keys that will wreck a shuffle
*before* the job runs), a bucketed range join (turn an unbounded theta join
— BroadcastNestedLoop at scale — into an equi-join plus residual filter),
sequence packing (the concatenate-and-chunk step that turns documents into
fixed-length training sequences), and EWMA smoothing folded entirely inside
the JVM. Char-entropy and n-gram containment round out the quality/contamination
family. Reference checkout is empty (SURVEY §0.1) — these extend the §2.3
inventory as first-class training-data-pipeline operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from twitter_event_stream_spark.exprs import R, rnd
from twitter_event_stream_spark.registry import query
from twitter_event_stream_spark.tables import table


@query(
    "q_skew_profile",
    oracle=f"""
    WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
    s AS (SELECT CAST(sum(n) AS DOUBLE) AS total, count(*) AS n_keys FROM c),
    r AS (SELECT row_number() OVER (ORDER BY n DESC, user_id) AS rank,
                 user_id, n, total, n_keys
          FROM c CROSS JOIN s)
    SELECT CAST(rank AS INT) AS rank, user_id, CAST(n AS BIGINT) AS n_events,
           {R('n / total', 6)} AS share,
           {R('n / (total / n_keys)', 6)} AS skew_ratio
    FROM r WHERE rank <= 10
    """,
)
def q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X60 — join/agg key skew profiler: the top-10 heaviest keys with their
    absolute counts, share of all rows, and skew ratio vs the mean key. This
    is the diagnostic you run BEFORE a 100 TB shuffle — a skew_ratio ≫ 1 key
    is the straggler task that AQE skew-join splitting (pinned on by the
    session) exists for. Shape: one partial-agg groupBy, a 1-row global agg
    broadcast back, and a TakeOrderedAndProject for the top-k — the per-key
    count table never globally sorts, and the window rank runs on 10 rows
    post-limit."""
    ev = table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    stats = counts.agg(
        F.sum("n").cast("double").alias("total"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    top = counts.orderBy(F.desc("n"), "user_id").limit(10)
    w = Window.orderBy(F.desc("n"), "user_id")
    return (
        top.crossJoin(F.broadcast(stats))
        .withColumn("rank", F.row_number().over(w))
        .select(
            "rank",
            "user_id",
            F.col("n").alias("n_events"),
            rnd(F.col("n") / F.col("total"), 6).alias("share"),
            rnd(F.col("n") / (F.col("total") / F.col("n_keys")), 6).alias(
                "skew_ratio"
            ),
        )
    )


@query(
    "q_range_bucket_join",
    oracle="""
    SELECT p.event_id, count(*) AS n_prior_clicks
    FROM events p JOIN events c
      ON c.user_id = p.user_id AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts < p.ts
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id
    """,
)
def q_range_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X61 — bucketed range join: clicks in the 10 minutes before each
    purchase by the same user. The oracle states the naive interval theta
    join; the engine plans the scale-safe form — both sides bucketed to the
    600 s window width, the click side replicated to (bucket, bucket+1) so
    every qualifying pair co-buckets at least once, equi-join on
    (user_id, bucket), then the exact interval residual filter. An unbounded
    time-range predicate alone degenerates to BroadcastNestedLoopJoin at
    scale; the bucket equi-key makes it a plain shuffled hash join with
    ≤2× replication of one side — the standard range-join optimization.
    Each qualifying pair co-buckets in exactly one replica (the two replica
    buckets differ), so no post-join dedup is needed."""
    ev = table(spark, sf_dir, "events")
    bucket = F.floor(F.unix_timestamp("ts") / 600)
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", bucket.alias("bucket")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts"), bucket.alias("cb")
    )
    crep = c.withColumn(
        "bucket", F.explode(F.array(F.col("cb"), F.col("cb") + 1))
    ).drop("cb")
    return (
        p.join(crep, ["user_id", "bucket"])
        .filter(
            (F.col("cts") >= F.col("ts") - F.expr("INTERVAL 10 MINUTES"))
            & (F.col("cts") < F.col("ts"))
        )
        .groupBy("event_id")
        .agg(F.count(F.lit(1)).alias("n_prior_clicks"))
    )


@query(
    "q_pack_sequences",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang, doc_id % 4 AS shard,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ), c AS (
      SELECT *, sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) AS cum
      FROM d
    )
    SELECT lang, shard,
           CAST(floor((cum - n_tokens) / 512) AS BIGINT) AS seq_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS tokens_started,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM c
    GROUP BY 1, 2, 3
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X62 — training-sequence packing (concatenate-and-chunk): documents are
    laid head-to-tail per (lang, shard) stream in doc_id order; each doc's
    tokens start at running-sum offset, and the doc belongs to the 512-token
    training sequence its first token lands in. Emits per-sequence packing
    stats (docs started, tokens contributed, doc-id range). The shard key
    (doc_id % 4) is the scale lever: packing needs only *per-stream*
    sequentiality, so sharding bounds every window partition regardless of
    corpus size — the same salting shape production packers use; at 100 TB
    you raise the shard count, not the partition size. All window + agg,
    no Python."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        (F.col("doc_id") % 4).alias("shard"),
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = d.withColumn("cum", F.sum("n_tokens").over(w))
    return (
        c.withColumn(
            "seq_id", F.floor((F.col("cum") - F.col("n_tokens")) / 512)
        )
        .groupBy("lang", "shard", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("tokens_started"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@query(
    "q_char_entropy",
    oracle=f"""
    WITH ch AS (
      SELECT doc_id,
             unnest(list_transform(range(1, length(text) + 1),
                                   i -> substr(text, i, 1))) AS ch
      FROM documents WHERE doc_id < 300
    ), c AS (
      SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2
    ), t AS (
      SELECT doc_id, c, sum(c) OVER (PARTITION BY doc_id) AS tot FROM c
    )
    SELECT doc_id, CAST(max(tot) AS BIGINT) AS n_chars,
           count(*) AS n_distinct_chars,
           {R('-sum((c / tot) * ln(c / tot))', 6)} AS entropy
    FROM t GROUP BY doc_id
    """,
)
def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X63 — character-level Shannon entropy per document: a classic cheap
    quality gate (near-zero entropy = degenerate repetition, boilerplate,
    padding; natural text sits in a narrow band per language). One explode
    to 1-grams, a per-(doc, char) count, and an entropy fold — every stage
    partial-aggregable, fully JVM-side. The per-doc total rides a window
    over the counts (bounded by alphabet size per doc, not text length).
    The rnd() wrap collapses partial-sum ulp drift (SURVEY §2.0 C2)."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    # n >= 1 guard: Spark's sequence(1, 0) DESCENDS to [1, 0] (it does not
    # return empty like DuckDB's range), so an empty text would fabricate
    # two '' pseudo-chars and a spurious output row the oracle lacks
    chars = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN length(text) >= 1 THEN"
                " transform(sequence(1, length(text)), i -> substring(text, i, 1))"
                " ELSE array() END"
            )
        ).alias("ch"),
    )
    cnt = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    t = cnt.withColumn("tot", F.sum("c").over(Window.partitionBy("doc_id")))
    p = F.col("c") / F.col("tot")
    return t.groupBy("doc_id").agg(
        F.max("tot").alias("n_chars"),
        F.count(F.lit(1)).alias("n_distinct_chars"),
        rnd(-F.sum(p * F.log(p)), 6).alias("entropy"),
    )


@query(
    "q_containment_ngram",
    oracle=f"""
    WITH g AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, len(string_split(text, ' '))),
               i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1]
             ))) AS gram
      FROM documents WHERE doc_id < 80
    ), s AS (
      SELECT doc_id, count(*) AS sz FROM g GROUP BY 1
    ), i AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_common
      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING count(*) >= 3
    )
    SELECT a_id, b_id, n_common,
           {R('n_common / sa.sz', 6)} AS containment_a,
           {R('n_common / sb.sz', 6)} AS containment_b
    FROM i JOIN s sa ON sa.doc_id = a_id JOIN s sb ON sb.doc_id = b_id
    """,
)
def q_containment_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X64 — directional word-bigram containment: |A∩B| / |A| and / |B| for
    candidate pairs. Unlike symmetric Jaccard (q_llm_jaccard), containment
    catches the asymmetric case that matters for contamination — a short
    test document fully embedded in a long training document scores near 1.0
    on containment while its Jaccard stays low. Blocked on shared grams
    (never all-pairs), ≥3 shared bigrams to qualify; the per-doc gram-set
    sizes join back as two broadcast-size lookups. At 100 TB the same
    pipeline runs with the gram join bucketed and the size table broadcast."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 80)
    # n >= 2 guard: a single-token doc gives sequence(1, 0) = [1, 0]
    # (Spark sequences DESCEND, unlike DuckDB's empty range) whose
    # element_at(..., 0) THROWS under ANSI — the oracle just emits no
    # grams, so match it with an explicit empty array
    # toks bound as a column before the lambda (r16, guide §1.2): the
    # interpreted transform body re-split the text twice per bigram index
    # (no loop-invariant hoisting in HOF lambdas); identical gram values.
    grams = F.expr(
        "CASE WHEN size(toks) >= 2 THEN"
        " array_distinct(transform(sequence(1, size(toks) - 1),"
        " i -> concat(element_at(toks, i), ' ',"
        "             element_at(toks, i + 1))))"
        " ELSE array() END"
    )
    g = d.withColumn("toks", F.split("text", " ")).select(
        "doc_id", F.explode(grams).alias("gram")
    )
    sizes = g.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = g.select(F.col("doc_id").alias("a_id"), "gram")
    b = g.select(F.col("doc_id").alias("b_id"), "gram")
    inter = (
        a.join(b, "gram")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= 3)
    )
    sa = sizes.select(F.col("doc_id").alias("a_id"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("b_id"), F.col("sz").alias("sz_b"))
    return (
        inter.join(F.broadcast(sa), "a_id")
        .join(F.broadcast(sb), "b_id")
        .select(
            "a_id",
            "b_id",
            "n_common",
            rnd(F.col("n_common") / F.col("sz_a"), 6).alias("containment_a"),
            rnd(F.col("n_common") / F.col("sz_b"), 6).alias("containment_b"),
        )
    )


@query(
    "q_ewma",
    oracle=f"""
    WITH per AS (
      SELECT user_id, count(*) AS n_events,
             list(value ORDER BY ts, event_id) AS vals
      FROM events WHERE user_id < 20 GROUP BY user_id
    )
    SELECT user_id, n_events,
           {R('list_reduce(vals, (acc, x) -> 0.25 * x + 0.75 * acc)', 6)} AS ewma
    FROM per
    """,
)
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X65 — per-key EWMA (α=0.25) over each user's event values in time
    order: the classic smoothing/decay signal (rate limiting, trend scoring,
    reputation). The recursive y_i = αx_i + (1-α)y_{i-1} is not a
    window-frame aggregate, so the engine folds it per key inside the JVM:
    collect the (ts, event_id, value) structs, sort_array for a
    deterministic order, then a higher-order `aggregate` seeded with the
    first value — matching DuckDB's `list_reduce` first-element-init fold
    exactly, same IEEE op sequence, so the hash matches bit-for-bit. Per-key
    state is bounded by that key's history; keys parallelize freely (the
    same shape `applyInPandasWithState` runs incrementally in streaming)."""
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    per = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sort_array(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("evs"),
    )
    ewma = F.expr(
        "aggregate(slice(evs, 2, size(evs) - 1),"
        " element_at(evs, 1).value,"
        " (acc, s) -> 0.25 * s.value + 0.75 * acc)"
    )
    return per.select("user_id", "n_events", rnd(ewma, 6).alias("ewma"))


def two_pass_rank(
    df: DataFrame,
    partition_cols: list[str],
    order_col: str,
    n_parts: int | None = None,
    rank_name: str = "pos",
) -> DataFrame:
    """Distributed dense global rank of ``order_col`` within each
    ``partition_cols`` group — the two-pass bucket + broadcast-offset form
    of zipWithIndex (X88's engine primitive).

    A ``row_number`` window partitioned by a LOW-cardinality key funnels
    each group through one reducer sorting |group| rows — the classic
    100 TB non-shape. This operator keeps identical semantics with no
    single-task sort:

    1. every row's bucket is a PURE EXPRESSION of its key — the first 4
       hex chars of ``order_col`` scaled into ``n_parts`` contiguous key
       ranges. Deterministic by construction: NOT ``repartitionByRange``,
       whose sampled boundaries depend on the RDD id, so the local-rank
       branch and the counts branch of this very query can disagree on
       partition membership and silently corrupt ranks (caught by the
       sf0.1 sweep in round 5);
    2. each (bucket, group) ranks locally in one window — groups are
       bounded by bucket occupancy (uniform for hash-derived keys), all
       ranking in parallel;
    3. per-(bucket, group) row counts — at most n_parts × n_groups tiny
       rows — become exclusive prefix sums, broadcast back (null-safe on
       group keys, so NULL groups rank like any other) and
       rank = offset + local rank.

    Preconditions: ``order_col`` is a fixed-width lowercase-hex key
    (md5/xxhash/sha — the engine's deterministic-order convention),
    non-null, unique within each group. Lexicographic order of such keys
    equals numeric order of any fixed prefix, so bucket boundaries respect
    the global order with ties impossible. Balance follows from hash
    uniformity; a non-uniform key degrades parallelism, never
    correctness."""
    n = n_parts or df.sparkSession.sparkContext.defaultParallelism
    # A NULL / non-hex order_col would bucket to NULL or 0 and silently drop
    # or mis-rank those rows in the offsets join (conv() parses "zzzz" as 0,
    # empty as NULL) — precondition violations raise loudly instead. The
    # 4-char regex is evaluated once per row against a bounded prefix:
    # noise next to the window sort it guards.
    bucket = F.expr(
        f"CASE WHEN {order_col} IS NULL"
        f"      OR NOT substring({order_col}, 1, 4) RLIKE '^[0-9a-f]{{4}}$'"
        f" THEN CAST(raise_error('two_pass_rank: order_col \"{order_col}\" is"
        f" not a non-null lowercase-hex key') AS INT)"
        f" ELSE CAST(CAST(conv(substring({order_col}, 1, 4), 16, 10) AS BIGINT)"
        f" * {n} DIV 65536 AS INT) END"
    )
    b = df.withColumn("_bk", bucket)
    local = b.withColumn(
        "_lrank",
        F.row_number().over(
            Window.partitionBy("_bk", *partition_cols).orderBy(order_col)
        ),
    )
    counts = b.groupBy("_bk", *partition_cols).agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    off_w = (
        Window.partitionBy(*partition_cols)
        .orderBy("_bk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = F.broadcast(
        counts.select(
            F.col("_bk").alias("_bk_o"),
            *[F.col(c).alias(f"_g_{c}") for c in partition_cols],
            F.coalesce(F.sum("_cnt").over(off_w), F.lit(0)).alias("_off"),
        )
    )
    cond = local["_bk"] == offsets["_bk_o"]
    for c in partition_cols:
        cond = cond & local[c].eqNullSafe(offsets[f"_g_{c}"])
    return (
        local.join(offsets, cond)
        .withColumn(rank_name, F.col("_off") + F.col("_lrank"))
        .drop("_bk", "_bk_o", "_lrank", "_off", *[f"_g_{c}" for c in partition_cols])
    )


def two_pass_rank_by_value(
    df: DataFrame,
    value_col: str,
    tiebreak_col: str,
    rank_name: str = "pos",
    n_buckets: int | None = None,
    accuracy: int = 10000,
) -> tuple[DataFrame, int]:
    """Distributed EXACT global rank ordered by ``(value_col ASC NULLS
    FIRST, tiebreak_col ASC)`` — :func:`two_pass_rank` generalized from
    hash-ordered hex keys to arbitrary value order (X102's r6 extension,
    the r5 verdict's #1 item). Returns ``(ranked_df, n_rows)``.

    The hex form can bucket by a pure prefix expression because hash keys
    are uniform; an arbitrary value column is not, so the bucket boundaries
    come from ONE mergeable-sketch pass instead:

    1. one bounded job: ``approx_percentile(value, [i/n_buckets])`` — a
       GK-style mergeable sketch, partial per partition, never a global
       sort — yields ~n_buckets-1 cutpoints, fixed as plan literals;
    2. every row's bucket is then the PURE EXPRESSION ``count of cutpoints
       <= value`` (monotone in value, so bucket ranges respect the global
       order; ties on a cutpoint share a bucket and are split by the local
       tiebreak). NULL values get bucket -1 — ranked first, matching
       Spark's ASC NULLS FIRST;
    3. one bounded job: per-bucket counts (≤ n_buckets+2 rows) collected
       and turned into exclusive prefix-sum offsets, re-entering the plan
       as a LITERAL MAP — no join, no window over the counts at all (the
       hex form's offsets window is partitioned by the group key; a global
       rank has no group key, and an unpartitioned window — even a
       33-row one — is exactly the shape the registry plan audit bans);
    4. one window per bucket ranks locally; global rank = offset[bucket]
       + local rank.

    Both driver-side jobs return bounded rows (a sketch row; ≤ n_buckets+2
    count rows) — the engine's documented broadcast-scalar pattern, eager
    at construction time by design so the returned DataFrame is a pure
    lazy plan. Sketch error only skews bucket *populations* (rank error
    <= n/accuracy per GK bound), never rank values: correctness needs only
    that every row uses the same literal cutpoints, which plan literals
    guarantee by construction (the r5 repartitionByRange lesson). Heavy
    ties on one value concentrate that value's bucket — degrading balance,
    never correctness.

    ``n_buckets=None`` (default) scales with the session's parallelism,
    exactly like :func:`two_pass_rank`'s ``n_parts``: bucket occupancy is
    n/n_buckets, so a FIXED bucket count just re-creates the single-task
    sort divided by a constant — on a 1000-executor cluster the local
    rank must spread over the cluster's task slots, not over 32.

    PRECONDITION — deterministic input: the per-bucket counts are
    collected at construction time and baked in as literals, so ``df``
    must produce the same rows at action time (same caveat as
    q_mix_sample's budget scan). A nondeterministic lineage (RNG sampling
    without a seed, a non-idempotent source) can shift bucket populations
    between the counts pass and execution — under ANSI ``element_at`` a
    bucket unseen at count time then ABORTS the job (better than silently
    wrong ranks). Cache or checkpoint such inputs first; every registered
    caller reads deterministic parquet."""
    if n_buckets is None:
        n_buckets = max(32, df.sparkSession.sparkContext.defaultParallelism)
    qs = [i / n_buckets for i in range(1, n_buckets)]
    stats = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile_approx(
            value_col, F.array(*[F.lit(q) for q in qs]), accuracy
        ).alias("cuts"),
    ).first()
    n_rows = stats["n"]
    cuts = sorted(set(float(c) for c in (stats["cuts"] or [])))
    if cuts:
        arr = F.array(*[F.lit(c) for c in cuts])
        in_bucket = F.aggregate(
            arr,
            F.lit(0),
            lambda acc, c: acc
            + F.when(F.col(value_col) >= c, F.lit(1)).otherwise(F.lit(0)),
        )
    else:  # empty input or all-NULL values: one bucket
        in_bucket = F.lit(0)
    b = df.withColumn(
        "_bk",
        F.when(F.col(value_col).isNull(), F.lit(-1)).otherwise(in_bucket),
    )
    counts = {
        r["_bk"]: r["c"]
        for r in b.groupBy("_bk").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    acc = 0
    offsets = {}
    for bk in sorted(counts):
        offsets[bk] = acc
        acc += counts[bk]
    if offsets:
        # offsets are explicit LONGs: literal inference would type small
        # values int32, and a >2^31-row corpus (routine at 100 TB) must
        # not overflow the rank arithmetic
        off_map = F.create_map(
            *[
                c
                for bk, off in offsets.items()
                for c in (F.lit(bk), F.lit(off).cast("long"))
            ]
        )
        off = F.element_at(off_map, F.col("_bk"))
    else:
        off = F.lit(0).cast("long")
    local = b.withColumn(
        "_lrank",
        F.row_number().over(
            Window.partitionBy("_bk").orderBy(
                F.col(value_col).asc_nulls_first(), F.col(tiebreak_col).asc()
            )
        ),
    )
    ranked = local.withColumn(rank_name, off + F.col("_lrank")).drop(
        "_bk", "_lrank"
    )
    return ranked, n_rows


def ntile_distributed(
    df: DataFrame,
    value_col: str,
    tiebreak_col: str,
    n_tiles: int = 10,
    bin_name: str = "bin",
    n_buckets: int | None = None,
) -> DataFrame:
    """EXACT ``ntile(n_tiles) OVER (ORDER BY value, tiebreak)`` with no
    single-task sort: :func:`two_pass_rank_by_value` supplies the exact
    global rank, then ntile is closed-form arithmetic on (rank, n) — the
    first ``n mod k`` tiles take ``ceil(n/k)`` rows, the rest take
    ``floor(n/k)``, exactly Spark's/DuckDB's left-heavy fill. ``n`` is
    known from the counts pass, so the tile expression is pure literals."""
    ranked, n = two_pass_rank_by_value(
        df, value_col, tiebreak_col, rank_name="_r", n_buckets=n_buckets
    )
    q, rem = divmod(n, n_tiles) if n else (0, 0)
    if q == 0:  # n < n_tiles: row i is tile i
        tile = "_r"
    else:
        head = rem * (q + 1)
        tile = (
            f"CASE WHEN _r <= {head} THEN (_r - 1) DIV {q + 1} + 1"
            f" ELSE {rem} + (_r - {head} - 1) DIV {q} + 1 END"
        )
    return ranked.withColumn(
        bin_name, F.expr(tile).cast("int")
    ).drop("_r")
