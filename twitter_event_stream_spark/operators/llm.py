"""K — LLM-training-data pipeline operators (mandated by BASELINE.json:6).

Exact dedup, n-gram Jaccard near-dup, MinHash-LSH near-dup, brute-force and
LSH-approximate similarity search, embedding arithmetic, text statistics,
term frequency / tf-idf, language routing.

Scale design (the whole point of this family):
- **Exact dedup** hashes content (md5) and groupBys the 128-bit digest — the
  shuffle carries digests, not documents. At 100 TB, digest-groupBy is the
  only viable exact dedup; contents never co-locate.
- **Jaccard** explodes *distinct* shingles and self-joins on (lang, token) —
  partitioned by token so hot tokens are the skew risk; the candidate set is
  bounded (per-lang, id-window) exactly as a production blocking stage
  would. AQE skew-split handles residual hot keys.
- **knn brute force** broadcasts the (small) probe set against the candidate
  corpus — O(|probes|·N) with no candidate shuffle at all. The scale path is
  K5's LSH bucketing (probe joins only its bucket).
- **tf-idf** is two hash aggregations + a broadcast of the (tiny) per-token
  document frequencies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from twitter_event_stream_spark.exprs import R, rnd
from twitter_event_stream_spark.registry import query
from twitter_event_stream_spark.tables import table

#: Widen float32 embeddings to double before any arithmetic (SURVEY §1.3(4)).
_VD = "transform(embedding, x -> CAST(x AS DOUBLE))"
#: Sequential-fold dot product — both engines fold left-to-right, so the
#: resulting doubles are bit-identical (parity-verified, SURVEY App. A).
_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"
)


@query(
    "q_llm_dedup_exact",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           count(DISTINCT md5(text)) AS n_unique,
           count(*) - count(DISTINCT md5(text)) AS n_dupes
    FROM documents
    GROUP BY lang
    """,
)
def q_llm_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 — exact near-copy dedup by content hash, reported per language."""
    d = table(spark, sf_dir, "documents")
    h = F.md5("text")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(h).alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct(h)).alias("n_dupes"),
    )


@query(
    "q_llm_jaccard",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS token
      FROM documents WHERE doc_id < 60
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_common
      FROM toks a JOIN toks b
        ON a.token = b.token AND a.lang = b.lang AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT a_id, b_id, n_common,
           {R('n_common / (sa.n + sb.n - n_common)', 6)} AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = a_id
    JOIN sizes sb ON sb.doc_id = b_id
    WHERE n_common / (sa.n + sb.n - n_common) >= 0.5
    """,
)
def q_llm_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 — exact token-set Jaccard for blocked candidate pairs (same lang,
    id-bounded window): explode distinct tokens → token-partitioned
    self-join → |∩|/|∪|."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    toks = d.select(
        "doc_id", "lang", F.explode(F.array_distinct(F.split("text", " "))).alias("token")
    )
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = toks.select(
        F.col("doc_id").alias("a_id"), F.col("lang").alias("a_lang"), "token"
    )
    b = toks.select(
        F.col("doc_id").alias("b_id"), F.col("lang").alias("b_lang"), "token"
    )
    inter = (
        a.join(b, ["token"])
        .filter((F.col("a_lang") == F.col("b_lang")) & (F.col("a_id") < F.col("b_id")))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("a_id"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("b_id"), F.col("n").alias("nb"))
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        inter.join(F.broadcast(sa), "a_id")
        .join(F.broadcast(sb), "b_id")
        .filter(jac >= 0.5)
        .select("a_id", "b_id", "n_common", rnd(jac, 6).alias("jaccard"))
    )


@query(
    "q_llm_knn_cosine",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings
    ), sims AS (
      SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
             {R('list_dot_product(p.v, c.v) / (p.nrm * c.nrm)', 4)} AS sim
      FROM n p JOIN n c ON c.vec_id != p.vec_id
      WHERE p.vec_id < 20
    )
    SELECT probe_id, cand_id, sim, rn FROM (
      SELECT probe_id, cand_id, sim,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY sim DESC, cand_id) AS rn
      FROM sims
    ) t
    WHERE rn <= 5
    """,
)
def q_llm_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 — brute-force cosine top-5 for a bounded probe set. The probe side
    is broadcast, so candidates never shuffle; ranking is on the *rounded*
    similarity with a cand_id tiebreak (SURVEY K4 tie-safety note)."""
    e = table(spark, sf_dir, "embeddings")
    vecs = e.select(
        "vec_id",
        F.expr(_VD).alias("v"),
        F.sqrt(F.expr(_DOT.format(a=_VD, b=_VD))).alias("nrm"),
    )
    probes = vecs.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("probe_id"),
        F.col("v").alias("pv"),
        F.col("nrm").alias("pn"),
    )
    cands = vecs.select(
        F.col("vec_id").alias("cand_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    dot = F.expr(_DOT.format(a="pv", b="cv"))
    sims = (
        cands.join(F.broadcast(probes), F.col("cand_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "cand_id",
            # nullif: a zero-norm embedding has no cosine direction —
            # DuckDB's double /0 yields NULL while Spark's default ANSI
            # mode would ABORT the job; NULL sims sink below real
            # neighbors in the desc window (parity either way)
            rnd(dot / F.nullif(F.col("pn") * F.col("cn"), F.lit(0.0)), 4).alias("sim"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("sim").desc(), F.col("cand_id"))
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("probe_id", "cand_id", "sim", "rn")
    )


@query(
    "q_llm_vecnorm",
    oracle=f"""
    SELECT label,
           count(*) AS n_vecs,
           {R('avg(embedding[1]::DOUBLE)', 6)} AS centroid_c1,
           {R('avg(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])))', 6)}
             AS avg_norm
    FROM embeddings
    GROUP BY label
    """,
)
def q_llm_vecnorm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K6 — embedding arithmetic: per-label centroid component + mean L2
    norm (float32 widened to double before any math)."""
    e = table(spark, sf_dir, "embeddings")
    norm = F.sqrt(F.expr(_DOT.format(a=_VD, b=_VD)))
    return e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        rnd(F.avg(F.element_at("embedding", 1).cast("double")), 6).alias("centroid_c1"),
        rnd(F.avg(norm), 6).alias("avg_norm"),
    )


_TOKLEN = "len(string_split(text, ' '))"


@query(
    "q_llm_textstats",
    oracle=f"""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum({_TOKLEN}) AS BIGINT) AS total_tokens,
           {R('avg(n_chars)')} AS avg_chars,
           {R(f'avg(n_chars / {_TOKLEN})', 6)} AS avg_token_chars
    FROM documents
    GROUP BY lang
    """,
)
def q_llm_textstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K7 — text quality statistics per language: doc counts, token counts,
    character ratios (quality-scoring building blocks)."""
    d = table(spark, sf_dir, "documents")
    n_toks = F.size(F.split("text", " "))
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_toks).alias("total_tokens"),
        rnd(F.avg("n_chars"), 2).alias("avg_chars"),
        rnd(F.avg(F.col("n_chars") / n_toks), 6).alias("avg_token_chars"),
    )


@query(
    "q_llm_tf",
    oracle="""
    SELECT token, count(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
    GROUP BY token
    ORDER BY cnt DESC, token
    LIMIT 20
    """,
)
def q_llm_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K8 — global term frequency top-20 (explode → two-phase agg → top-k
    with token tiebreak)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token"))
        .limit(20)
    )


@query(
    "q_llm_tfidf",
    oracle=f"""
    WITH n_total AS (SELECT count(*) AS n FROM documents),
    dfreq AS (
      SELECT token, count(DISTINCT doc_id) AS df
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents) t
      GROUP BY token
    ),
    tf AS (
      SELECT doc_id, token, count(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents WHERE doc_id < 10) t
      GROUP BY doc_id, token
    )
    SELECT tf.doc_id, tf.token, tf.tf,
           {R('ln(CAST(n_total.n AS DOUBLE) / dfreq.df)', 6)} AS idf,
           {R('tf.tf * ln(CAST(n_total.n AS DOUBLE) / dfreq.df)', 6)} AS tfidf
    FROM tf JOIN dfreq ON tf.token = dfreq.token CROSS JOIN n_total
    """,
)
def q_llm_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K9 — tf-idf: corpus-wide document frequencies (broadcast — tiny) ×
    per-document term frequencies for a bounded doc window."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    dfreq = toks.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n_total = d.agg(F.count(F.lit(1)).alias("n"))
    tf = (
        toks.filter(F.col("doc_id") < 10)
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    idf = F.log(F.col("n").cast("double") / F.col("df"))
    return (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(n_total))
        .select(
            "doc_id",
            "token",
            "tf",
            rnd(idf, 6).alias("idf"),
            rnd(F.col("tf") * idf, 6).alias("tfidf"),
        )
    )


@query(
    "q_llm_lang_route",
    oracle="""
    SELECT lang, source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE lang IN ('de', 'fr')
    GROUP BY lang, source
    """,
)
def q_llm_lang_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K10 — language filter/partition routing (the corpus analog of the
    reference's per-user subscription filter R3/R4); the write-side twin
    (`partitionBy('lang')`) is exercised by an INFRA test."""
    d = table(spark, sf_dir, "documents")
    return (
        d.filter(F.col("lang").isin("de", "fr"))
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@query("q_llm_neardup_lsh", oracle=None)
def q_llm_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 (ROWS) — MinHash-LSH near-duplicate candidate pairs over token
    sets (HashingTF → MinHashLSH → approxSimilarityJoin). Hash-seed
    dependent, so no SQL oracle; seeded for run-to-run determinism.

    Scale path: band/bucket join — each document only meets documents
    sharing a MinHash bucket, turning O(n²) dedup into per-bucket joins.
    Caveat measured at sf0.1: the fixture's ~40-token vocabulary makes every
    document share buckets with every other (banding blocks nothing →
    candidate set degenerates to O(n²)), so the query is id-windowed; on a
    real corpus the vocabulary is large and banding prunes as designed —
    measured on a 5k-token-vocab synthetic corpus the SAME pipeline's
    candidate set is 1,776 of 90,100 pairs (2.0%) at planted near-dup
    recall 1.0 (pinned by
    tests/test_infra.py::test_minhash_banding_prunes_on_realistic_vocab).

    This query demonstrates the Spark ML library operator and returns a
    lazy plan, run in full by each action. Measured at sf0.01: HashingTF
    0.13 s, MinHashLSH.fit 0.03 s (data-independent random coefficients),
    approxSimilarityJoin 3-6 s — the fixture's ~40-token vocabulary
    saturates every bucket, so the join evaluates exact Jaccard on ~125k
    candidate pairs of 16k-dim sparse vectors. For PRODUCTION whole-corpus
    near-dup, use the deterministic X6/X105 machinery instead —
    ``q_llm_minhash_det`` (llm_extra) and
    ``corpus_full.q_corpus_curation_full`` / ``q_simhash_dedup_full``
    (signatures computed once, star-edge connected components, no model
    fit per run).
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    d = table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 500) & F.col("text").isNotNull()
    )
    # coalesce: the id-clamped input is a few hundred rows — 32 scan
    # partitions just add task overhead to the saturated-candidate join
    # (rows pinned unchanged by test_neardup_lsh_invariants)
    toks = d.coalesce(4).select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("tokens")
    )
    tf = HashingTF(
        inputCol="tokens", outputCol="features", numFeatures=1 << 14, binary=True
    )
    feats = tf.transform(toks)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=5, seed=42)
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 0.35, distCol="jaccard_dist")
    return pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id")).select(
        F.col("datasetA.doc_id").alias("a_id"),
        F.col("datasetB.doc_id").alias("b_id"),
        rnd("jaccard_dist", 4).alias("dist"),
    )


@query("q_llm_ann_lsh", oracle=None)
def q_llm_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5 (ROWS) — approximate nearest neighbors via random-hyperplane /
    bucketed random projection LSH over embeddings; the scale path for K4
    (probe joins only its hash bucket instead of the whole corpus).

    Demonstrates the Spark ML library operator (model re-fit per
    invocation). For PRODUCTION ANN, use the IVF machinery instead —
    ``q_llm_ann_ivf`` / X114's persisted build-once/probe-many index
    (``vector_search.write_ivf_index`` + ``ivf_topk_indexed``, partition-
    pruned probes, no per-run fit)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    e = table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    vecs = e.select("vec_id", array_to_vector(F.col("embedding")).alias("features"))
    if vecs.isEmpty():  # MLlib .fit raises on an empty corpus
        return spark.createDataFrame(
            [], "probe_id long, cand_id long, dist double"
        )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=0.5,
        numHashTables=4, seed=42,
    )
    model = lsh.fit(vecs)
    probes = vecs.filter(F.col("vec_id") < 5)
    pairs = model.approxSimilarityJoin(probes, vecs, 1.2, distCol="euclid_dist")
    return (
        pairs.filter(F.col("datasetA.vec_id") != F.col("datasetB.vec_id"))
        .select(
            F.col("datasetA.vec_id").alias("probe_id"),
            F.col("datasetB.vec_id").alias("cand_id"),
            rnd("euclid_dist", 4).alias("dist"),
        )
    )
