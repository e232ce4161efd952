"""Full-corpus flagship queries (X105-X107): the unbounded forms must agree
with the bounded HASH-verified flagships on the shared id window, their
summaries must be internally consistent, and repeated runs must be
bit-identical (the ROWS contract has no oracle, so determinism and
overlap-equality ARE the correctness pins)."""

from __future__ import annotations

from pyspark.sql import functions as F

from twitter_event_stream_spark import registry
from twitter_event_stream_spark.operators.corpus_full import simhash64
from twitter_event_stream_spark.operators.llm_extra import (
    minhash_det_pairs,
    simhash_banded_pairs,
)
from twitter_event_stream_spark.tables import table


def test_minhash_pairs_full_overlap(spark, sf_dir):
    """Pair membership is per-pair local (each doc's signature depends only
    on its own shingles), so the FULL-corpus banded join restricted to the
    bounded flagship's id window must reproduce the HASH-verified
    `q_llm_minhash_det` pair set exactly — the bridge that transfers the
    oracle's verdict to the unbounded pipeline."""
    d = table(spark, sf_dir, "documents")
    full = {
        (r.a_id, r.b_id)
        for r in minhash_det_pairs(d)
        .filter((F.col("a_id") < 200) & (F.col("b_id") < 200))
        .collect()
    }
    bounded = {
        (r.a_id, r.b_id)
        for r in registry.get("q_llm_minhash_det").fn(spark, sf_dir).collect()
    }
    assert full == bounded and len(bounded) > 0


def test_simhash64_banded_exact_recall(spark, sf_dir):
    """The Manku-configuration banded join (4 bands × 16 bits, k=3) must
    return EXACTLY the all-pairs Hamming ≤ 3 result on a bounded window —
    pigeonhole recall is a guarantee at 64 bits too, and the plan must
    stay a hash join (no cartesian)."""
    sh = simhash64(
        table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    ).localCheckpoint()
    banded = simhash_banded_pairs(
        spark, sh, max_hamming=3, n_bands=4, bits=64, sig_col="simhash64"
    )
    got = {(r.a_id, r.b_id, r.hamming) for r in banded.collect()}
    a = sh.select(F.col("doc_id").alias("a_id"), F.col("simhash64").alias("a_sh"))
    b = sh.select(F.col("doc_id").alias("b_id"), F.col("simhash64").alias("b_sh"))
    ham = F.bit_count(F.col("a_sh").bitwiseXOR(F.col("b_sh")))
    want = {
        (r.a_id, r.b_id, r.hamming)
        for r in a.join(b, F.col("a_id") < F.col("b_id"))
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= 3)
        .select("a_id", "b_id", "hamming")
        .collect()
    }
    assert got == want
    plan = banded._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_simhash64_swar_matches_unpacked_votes(spark, sf_dir):
    """r17: simhash64's vote counting is SWAR-packed (bit b and b+32 of
    each token hash summed in the two 32-bit lanes of one long; bit set
    iff 2·ones > n_tokens). That must be BIT-IDENTICAL to the classic
    64-conditional-sum ±1 vote form on the fixture and on adversarial
    texts (empty, single-token, all-ties, unicode/astral, long repeats) —
    the ROWS contract has no oracle, so this equivalence IS the pin."""
    import functools

    def unpacked(d, text_col="text"):
        toks = d.select(
            F.col("doc_id"),
            F.explode(F.split(F.col(text_col), " ")).alias("tok"),
        ).withColumn("h", F.xxhash64("tok", F.lit(42)))
        votes = toks.groupBy("doc_id").agg(
            *[
                F.sum(
                    F.when(
                        F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1
                    ).otherwise(-1)
                ).alias(f"_v{b}")
                for b in range(64)
            ]
        )
        sig = functools.reduce(
            lambda acc, b: acc.bitwiseOR(
                F.when(
                    F.col(f"_v{b}") > 0,
                    F.shiftleft(F.lit(1).cast("long"), b),
                ).otherwise(F.lit(0).cast("long"))
            ),
            range(64),
            F.lit(0).cast("long"),
        )
        return votes.select("doc_id", sig.alias("simhash64"))

    adversarial = spark.createDataFrame(
        [
            (1, ""),
            (2, "a"),
            (3, "a a a a"),  # even count — exercises the 2·ones == n tie
            (4, "x y z x y z"),
            (5, "héllo wörld héllo"),
            (6, " "),
            (7, "😀 😀 b"),
            (8, "tok " * 500),
        ],
        "doc_id long, text string",
    )
    for d in (
        table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500),
        adversarial,
    ):
        diff = (
            simhash64(d)
            .alias("n")
            .join(unpacked(d).alias("o"), "doc_id", "full")
            .filter(~F.expr("n.simhash64 <=> o.simhash64"))
            .count()
        )
        assert diff == 0


def test_cluster_edges_components_equal_pair_graph(spark, sf_dir):
    """The O(n·bands) star-edge graph must have EXACTLY the connected
    components (nodes and min-id labels) of the k²-per-clique ≥7-of-8-band
    pair graph — the equivalence that lets `q_corpus_curation_full` skip
    clique enumeration entirely (987k pairs vs ≤40k star edges at sf0.1).
    Proof shape: ≥7 shared bands ⟺ equality on ≥1 leave-one-out 7-band
    key; each key bucket is a clique, and a star spans a clique."""
    from twitter_event_stream_spark.operators.graph import (
        connected_components,
    )
    from twitter_event_stream_spark.operators.llm_extra import (
        minhash_cluster_edges,
    )

    d = table(spark, sf_dir, "documents")
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
    assert lab_star == lab_pairs and len(lab_star) > 0


def test_corpus_curation_full_funnel(spark, sf_dir):
    """Per-language funnel invariants + determinism + consistency with the
    bounded flagship's language set."""
    q = registry.get("q_corpus_curation_full").fn
    rows1 = q(spark, sf_dir).collect()
    rows2 = q(spark, sf_dir).collect()
    assert rows1 == rows2 and len(rows1) > 0
    total_docs = table(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows1) == total_docs
    for r in rows1:
        assert 0 < r.n_curated <= r.n_canonical <= r.n_docs
        assert r.total_tokens > 0


def test_dedup_cluster_stats_full(spark, sf_dir):
    """Whole-corpus dedup report: every doc is in exactly one cluster
    (singletons included), removable = docs - clusters per size row, and
    the distribution is consistent with the curation funnel's canonical
    count (clusters == canonical docs)."""
    rows = registry.get("q_dedup_cluster_stats_full").fn(spark, sf_dir).collect()
    assert len(rows) > 0
    n_docs_total = table(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs_total
    for r in rows:
        assert r.n_docs == r.cluster_size * r.n_clusters
        assert r.n_removable == r.n_docs - r.n_clusters
    n_clusters = sum(r.n_clusters for r in rows)
    funnel = registry.get("q_corpus_curation_full").fn(spark, sf_dir).collect()
    assert n_clusters == sum(f.n_canonical for f in funnel)


def test_dedup_cluster_stats_full_recomputes_each_call(spark, sf_dir, tmp_path):
    """No result is reused across calls: a second call builds the star
    edges and CC labels again, so it runs no fewer Spark jobs than the
    first. The fixture is read through a fresh path so no earlier test's
    call in this session can have run first."""
    import os
    import uuid

    fresh = str(tmp_path / "sf")
    os.symlink(sf_dir, fresh)
    # the loader reads the tables' schemas once per path: keep those
    # jobs out of the first count
    table(spark, fresh, "documents")
    sc = spark.sparkContext
    q = registry.get("q_dedup_cluster_stats_full").fn

    def jobs_and_rows():
        group = f"recompute-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "recompute check")
        try:
            rows = sorted(q(spark, fresh).collect())
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group)), rows

    jobs1, rows1 = jobs_and_rows()
    jobs2, rows2 = jobs_and_rows()
    assert rows1 == rows2 and len(rows1) > 0
    assert jobs2 >= jobs1 > 0, (jobs1, jobs2)


def test_dup_spans_full_invariants(spark, sf_dir):
    """Whole-corpus span-duplication report: doc universe = docs with ≥5
    tokens, dup grams bounded by total grams, deterministic."""
    from pyspark.sql import functions as F

    q = registry.get("q_dup_spans_full").fn
    rows1 = q(spark, sf_dir).collect()
    rows2 = q(spark, sf_dir).collect()
    assert rows1 == rows2 and len(rows1) > 0
    d = table(spark, sf_dir, "documents")
    n_eligible = d.filter(F.size(F.split("text", " ")) >= 5).count()
    assert sum(r.n_docs for r in rows1) == n_eligible
    for r in rows1:
        assert 0 <= r.total_dup_grams <= r.total_grams
        assert 0 <= r.n_dup_heavy_docs <= r.n_docs


def test_simhash_dedup_full_summary(spark, sf_dir):
    """Single-row summary: present even when empty, internally consistent,
    and every accepted pair within the configured Hamming budget."""
    row = registry.get("q_simhash_dedup_full").fn(spark, sf_dir).collect()
    assert len(row) == 1
    s = row[0]
    if s.n_pairs == 0:
        # sum-derived fields pin 0 on the empty branch, not NULL (r8 ADVICE)
        assert s.n_dup_docs == 0 and s.n_exact_sig_pairs == 0
        assert s.max_hamming is None
    else:
        assert s.max_hamming <= 3
        assert 2 <= s.n_dup_docs <= 2 * s.n_pairs
        assert 0 <= s.n_exact_sig_pairs <= s.n_pairs


def test_embed_neardup_full_summary(spark, sf_dir):
    """Summary row must agree with the blocked operator it wraps: same pair
    count, similarity bands partition the pairs, extremes within
    [threshold, 1]."""
    from twitter_event_stream_spark.operators.vector_search import (
        embed_neardup_blocked,
    )

    row = registry.get("q_embed_neardup_full").fn(spark, sf_dir).collect()
    assert len(row) == 1
    s = row[0]
    e = table(spark, sf_dir, "embeddings")
    n_direct = embed_neardup_blocked(spark, e, threshold=0.3).count()
    assert s.n_pairs == n_direct
    if s.n_pairs:
        assert s.n_sim_ge_090 + s.n_sim_060_090 + s.n_sim_lt_060 == s.n_pairs
        assert 0.3 <= s.min_sim <= s.max_sim <= 1.0001
    else:
        # band counts pin 0 on the empty branch, not NULL (r8 ADVICE)
        assert (s.n_sim_ge_090, s.n_sim_060_090, s.n_sim_lt_060) == (0, 0, 0)


def test_full_summaries_dup_free_zero_not_null(spark, sf_dir, tmp_path_factory):
    """r9 (r8 ADVICE) — on a dup-free corpus the 'never empty' summary rows
    must carry 0, not NULL, in the sum-derived fields: n_exact_sig_pairs
    (q_simhash_dedup_full) and the three similarity-band counts
    (q_embed_neardup_full), consistent with n_pairs=0."""
    import shutil

    from twitter_event_stream_spark.tables import TABLE_NAMES

    base = str(tmp_path_factory.mktemp("dupfree"))
    for name in TABLE_NAMES:
        if name in ("documents", "embeddings"):
            continue
        shutil.copy(f"{sf_dir}/{name}.parquet", f"{base}/{name}.parquet")
    docs = spark.createDataFrame(
        [
            (1, "alpha bravo charlie delta echo foxtrot golf hotel", "en", "s", 10),
            (2, "uno dos tres cuatro cinco seis siete ocho nueve diez", "es", "s", 10),
            (3, "eins zwei drei vier fuenf sechs sieben acht neun zehn", "de", "s", 10),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.coalesce(1).write.parquet(f"{base}/documents.parquet")
    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0], 0),
            (2, [0.0, 1.0, 0.0], 1),
            (3, [0.0, 0.0, 1.0], 2),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    vecs.coalesce(1).write.parquet(f"{base}/embeddings.parquet")

    s = registry.get("q_simhash_dedup_full").fn(spark, base).collect()[0]
    assert s.n_pairs == 0
    assert s.n_dup_docs == 0 and s.n_exact_sig_pairs == 0
    assert s.max_hamming is None

    e = registry.get("q_embed_neardup_full").fn(spark, base).collect()[0]
    assert e.n_pairs == 0 and e.n_dup_vecs == 0
    assert (e.n_sim_ge_090, e.n_sim_060_090, e.n_sim_lt_060) == (0, 0, 0)
    assert e.min_sim is None and e.max_sim is None
