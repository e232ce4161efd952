"""Full-corpus flagship queries (SURVEY §2.3 X105-X107, r8).

The flagship LLM-pipeline queries (`q_corpus_curation`,
`q_llm_dedup_cluster`, `q_llm_simhash_pairs`) carry a bounded id window so
their DuckDB oracles (recursive closures, all-pairs joins) stay tractable —
but the engine's own scale machinery (banded MinHash, 64-bit banded
SimHash, IVF-cell-blocked embedding near-dup) has no such bound. This
module registers the UNBOUNDED forms as ROWS-contract queries: the whole
`documents` / `embeddings` table in, a bounded summary out, every stage one
of the already-verified scale primitives. Equality with the bounded HASH
forms on the shared id window is pinned in tests/test_corpus_full.py, and
the 10× scale probe (tools/scale_probe.py) runs all three to hold the
linear-scaling claim.

Output rows are aggregates (per-language rollup, single-row pair summary),
so the result stays collectable at any corpus size — the heavy
intermediates (shingles, signatures, candidate pairs, CC labels) never
leave the executors.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from twitter_event_stream_spark.fsio import data_file_count
from twitter_event_stream_spark.registry import query
from twitter_event_stream_spark.tables import table


def simhash64(d: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit token SimHash per document — the full-corpus signature for
    `q_simhash_dedup_full` (the 32-bit md5-arithmetic form `q_llm_simhash`
    stays as the oracle-parity contract shape).

    Whitespace tokens are hashed once with xxhash64 (JVM, seeded 42); each
    occurrence votes ±1 per bit (classic tf-weighted SimHash), and the
    per-doc votes reduce in ONE aggregation, all whole-stage codegen,
    map-side combined on doc_id. The signature assembles bit 63 through
    the arithmetic shift into the sign bit (two's complement), so the
    value is a plain BIGINT whose XOR popcount is the Hamming distance.

    Vote counting is SWAR-packed (r17, guide §1.2 per-task work): instead
    of 64 conditional ±1 sum buffers per doc, bit positions b and b+32 of
    each token hash are spread into the two 32-bit lanes of one long
    (``(h >> b) & 0x0000000100000001``) and summed unconditionally — 32
    packed sums + one token count instead of 64 branchy sums, with the
    identical result: the ±1 vote for bit b is positive iff
    ``2·ones_b > n_tokens`` (ones − (n − ones) > 0), an integer-exact
    equivalence, so signatures are bit-identical to the unpacked form
    (pinned in tests). Overflow safety: each 32-bit lane accumulates at
    most n_tokens-per-doc, so lanes are exact for docs up to 2³¹ tokens
    (~8 GiB of text in one document — far past any real corpus row; the
    bound is the ANSI-safe signed-sum limit, not 2³² bit-pattern
    capacity).
    """
    toks = d.select(
        F.col("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).withColumn("h", F.xxhash64("tok", F.lit(42)))
    lane_mask = F.lit(0x0000000100000001)  # bits b and b+32 of the hash
    votes = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.sum(F.shiftright("h", b).bitwiseAND(lane_mask)).alias(f"_s{b}")
            for b in range(32)
        ],
    )

    def ones(b: int):
        # lane 0 of _s{b} counts bit b; lane 1 counts bit b+32
        if b < 32:
            return F.col(f"_s{b}").bitwiseAND(F.lit(0xFFFFFFFF))
        return F.shiftrightunsigned(F.col(f"_s{b - 32}"), 32)

    sig = functools.reduce(
        lambda acc, b: acc.bitwiseOR(
            F.when(
                ones(b) * 2 > F.col("_n"),
                F.shiftleft(F.lit(1).cast("long"), b),
            ).otherwise(F.lit(0).cast("long"))
        ),
        range(64),
        F.lit(0).cast("long"),
    )
    return votes.select("doc_id", sig.alias("simhash64"))


def _full_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CC labels of the ≥7-of-8-band MinHash near-dup graph over the WHOLE
    documents table, cached per (session, sf_dir) like the bounded graph
    (graph._cached). Computed over :func:`~twitter_event_stream_spark.
    operators.llm_extra.minhash_cluster_edges` — the O(n·bands) star-edge
    formulation with provably identical components to the k²-per-clique
    pair list (the fixture's degenerate vocab makes dup cliques huge:
    987k pairs vs ≤40k star edges at sf0.1, and the gap grows with
    cluster size at 100 TB)."""
    from twitter_event_stream_spark.operators.graph import (
        _cached,
        connected_components,
    )
    from twitter_event_stream_spark.operators.llm_extra import (
        minhash_cluster_edges,
    )

    def build() -> DataFrame:
        edges = _cached(
            spark,
            sf_dir,
            "star_edges_full",
            lambda: minhash_cluster_edges(table(spark, sf_dir, "documents")),
        )
        return connected_components(edges, "a_id", "b_id")

    return _cached(spark, sf_dir, "labels_full", build)


@query("q_corpus_curation_full", oracle=None)
def q_corpus_curation_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X105 (ROWS) — `q_corpus_curation` with the id window REMOVED: the
    whole documents table through banded deterministic MinHash → connected
    components → canonical-per-cluster selection → lexical-diversity
    quality gate → per-language rollup. The bounded HASH flagship pins the
    semantics against the recursive-SQL oracle; this form pins that the
    SAME pipeline runs unbounded (pair membership is per-pair local, so
    the full run restricted to the oracle window reproduces the bounded
    pair set exactly — asserted in tests). Output: one row per language
    with the funnel counts, orderable and tiny at any corpus size."""
    labels = _full_labels(spark, sf_dir)
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    uniq_ratio = F.size(F.array_distinct(toks)) / n_tokens.cast("double")
    canonical = F.coalesce(F.col("label"), F.col("doc_id")) == F.col("doc_id")
    joined = d.join(
        labels.select(F.col("node").alias("doc_id"), "label"), "doc_id", "left"
    ).select(
        "lang",
        canonical.alias("is_canonical"),
        n_tokens.alias("n_tokens"),
        (uniq_ratio >= 0.3).alias("quality_ok"),
    )
    kept = F.col("is_canonical") & F.col("quality_ok")
    return (
        joined.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("is_canonical").cast("long")).alias("n_canonical"),
            F.sum(kept.cast("long")).alias("n_curated"),
            F.sum(F.when(kept, F.col("n_tokens")).otherwise(0)).alias(
                "total_tokens"
            ),
        )
        .orderBy("lang")
    )


@query("q_simhash_dedup_full", oracle=None)
def q_simhash_dedup_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X106 (ROWS) — whole-corpus SimHash near-duplicate scan in the
    Manku et al. WWW'07 configuration: 64-bit signatures, 4 bands of 16
    bits, Hamming ≤ 3 (n_bands > k ⇒ pigeonhole-exact recall). The
    16-bit band keys keep random band collisions ≈ n²/2^16 per band —
    negligible against the linear signature pass to ~10M docs — where the
    contract-shape 4-bit bands of `simhash_banded_pairs`' default would go
    quadratic. Single summary row (never empty, even with zero dups):
    pair count, distinct docs in any pair, exact-signature pair count,
    and the worst accepted distance."""
    from twitter_event_stream_spark.operators.llm_extra import (
        simhash_banded_pairs,
    )

    d = table(spark, sf_dir, "documents")
    pairs = simhash_banded_pairs(
        spark,
        simhash64(d),
        max_hamming=3,
        n_bands=4,
        bits=64,
        sig_col="simhash64",
    )
    # each pair contributes its two endpoints; min/max/count-style aggs are
    # endpoint-duplication-safe, n_pairs halves the row count back
    ends = pairs.select(
        F.explode(F.array("a_id", "b_id")).alias("doc_id"), "hamming"
    )
    return ends.agg(
        (F.count(F.lit(1)) / 2).cast("long").alias("n_pairs"),
        F.count_distinct("doc_id").alias("n_dup_docs"),
        # coalesce: sum() over the zero-row (dup-free) corpus is NULL, and
        # the "never empty" summary contract pins 0 there (r8 ADVICE)
        (F.coalesce(F.sum(F.when(F.col("hamming") == 0, 1).otherwise(0)), F.lit(0)) / 2)
        .cast("long")
        .alias("n_exact_sig_pairs"),
        F.max("hamming").alias("max_hamming"),
    )


@query("q_dedup_cluster_stats_full", oracle=None)
def q_dedup_cluster_stats_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X108 (ROWS) — `q_dedup_cluster_stats` (X101) unbounded: the
    cluster-size distribution of the WHOLE corpus's near-dup graph — the
    report a pipeline reads before committing a full dedup pass. Rides the
    session-cached star-edge CC labels (`_full_labels`), so its marginal
    cost over `q_corpus_curation_full` is two aggregations of a
    doc-count-sized table; unclustered docs count as singleton clusters,
    so `sum(n_docs)` always equals the corpus size (pinned in tests)."""
    labels = _full_labels(spark, sf_dir)
    d = table(spark, sf_dir, "documents")
    clustered = d.join(
        labels.select(F.col("node").alias("doc_id"), "label"), "doc_id", "left"
    ).select(F.coalesce("label", "doc_id").alias("cluster_id"))
    sizes = clustered.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1))).cast("long").alias("n_docs"),
        (F.col("cluster_size") * F.count(F.lit(1)) - F.count(F.lit(1)))
        .cast("long")
        .alias("n_removable"),
    )


@query("q_embed_neardup_full", oracle=None)
def q_embed_neardup_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X107 (ROWS) — whole-corpus embedding near-duplicate scan through
    the IVF-cell-blocked verifier (`embed_neardup_blocked`): seeded
    coarse quantizer, multi-probe cell replication, one BLAS gram matrix
    per cell — never all-pairs. Single summary row (never empty): pair
    count, distinct vectors in any pair, similarity-band counts and the
    rounded similarity extremes (min/max are float-order-safe where a
    mean would depend on reduction order)."""
    from twitter_event_stream_spark.operators.vector_search import (
        embed_neardup_blocked,
    )

    e = table(spark, sf_dir, "embeddings")
    pairs = embed_neardup_blocked(spark, e, threshold=0.3)
    ends = pairs.select(
        F.explode(F.array("a_id", "b_id")).alias("vec_id"), "sim"
    )
    return ends.agg(
        (F.count(F.lit(1)) / 2).cast("long").alias("n_pairs"),
        F.count_distinct("vec_id").alias("n_dup_vecs"),
        # coalesce: on a dup-free corpus these sums see zero rows and would
        # be NULL next to n_pairs=0 — the summary pins 0 (r8 ADVICE)
        (F.coalesce(F.sum(F.when(F.col("sim") >= 0.9, 1).otherwise(0)), F.lit(0)) / 2)
        .cast("long")
        .alias("n_sim_ge_090"),
        (
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("sim") >= 0.6) & (F.col("sim") < 0.9), 1
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            / 2
        )
        .cast("long")
        .alias("n_sim_060_090"),
        (F.coalesce(F.sum(F.when(F.col("sim") < 0.6, 1).otherwise(0)), F.lit(0)) / 2)
        .cast("long")
        .alias("n_sim_lt_060"),
        F.min("sim").alias("min_sim"),
        F.max("sim").alias("max_sim"),
    )


@query("q_dup_spans_full", oracle=None)
def q_dup_spans_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X111 (ROWS) — `q_dup_spans` (X109) unbounded: duplicated
    token-5-gram coverage of the WHOLE corpus, rolled up per language —
    the span-duplication report (total grams, grams appearing in ≥2 docs,
    docs that are majority-duplicated span-wise) a curation pass reads
    next to the doc-level dedup report. Same gram-key aggregation +
    equi-join shape as the bounded HASH form; only the per-lang rollup is
    new, so output stays tiny at any corpus size. Docs with <5 tokens have
    no 5-gram and are excluded (same statement as the bounded form)."""
    d = table(spark, sf_dir, "documents")
    # Bind split(text) to a column BEFORE the transform lambda (r16, guide
    # §1.2 per-task work): HOF lambda bodies are interpreted with no
    # loop-invariant hoisting, so the inlined form re-split the whole text
    # once per gram index — O(tokens²) splits per doc. Measured 1.8 s →
    # 0.52 s for the gram explode alone at sf0.1; identical gram values.
    dt = d.select("doc_id", "lang", F.split("text", " ").alias("toks"))
    grams = F.when(
        F.size("toks") >= 5,
        F.array_distinct(
            F.expr(
                "transform(sequence(1, size(toks) - 4),"
                " i -> array_join(slice(toks, i, 5), ' '))"
            )
        ),
    ).otherwise(F.array())
    # One explicit gram exchange feeds BOTH the shared-gram aggregation and
    # the join probe side (r17, guide §2.4 "two operations keyed the same
    # way can share one exchange"): without it each side recomputed the
    # whole tokenize→5-gram explode from the scan — the r16 ReusedExchange
    # assumption was measured FALSE (plans/r17/q_dup_spans_full_forced_
    # shuffle_final.txt). Two details make the two exchange subtrees
    # canonically IDENTICAL so AQE's stage cache actually reuses them:
    # (a) `lang` stays out of the gram stream (column pruning would give
    # the agg branch a narrower exchange payload — lang re-attaches via a
    # doc-level join after the rollup's input shrank to one row per doc);
    # (b) the explicit isnotnull(gram) filter mirrors the one the
    # optimizer infers on the join's build side (gram is never null —
    # array_join of a non-null array — so it drops nothing). Shuffling raw
    # gram rows costs nothing extra: they are already (doc, gram)-distinct
    # (array_distinct above), so the count_distinct's pre-shuffle partial
    # dedup it replaces was a no-op, and shuffle files are
    # stage-retry-recomputable — no lineage truncation, no executor-local
    # materialization. Verified: 2 parquet scans → 1 + ReusedExchange
    # (plans/r17/q_dup_spans_full_after.txt).
    # isnotnull(doc_id) mirrors what the lang re-attach join infers into
    # the probe branch (doc_id is the fixture key, never null — drops
    # nothing); without the mirror only one branch carries the pushed-down
    # filter and the exchanges stop canonicalizing equal.
    g = (
        dt.select("doc_id", F.explode(grams).alias("gram"))
        .filter(F.col("gram").isNotNull() & F.col("doc_id").isNotNull())
        .repartition("gram")
    )
    shared = (
        g.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gram")
    )
    per_doc = (
        g.join(shared.withColumn("dup", F.lit(1)), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("dup").alias("n_dup_grams"),
        )
        .join(d.select("doc_id", "lang"), "doc_id")
    )
    heavy = (F.col("n_dup_grams") * 2) > F.col("n_grams")
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_grams").alias("total_grams"),
            F.sum("n_dup_grams").alias("total_dup_grams"),
            F.sum(heavy.cast("long")).alias("n_dup_heavy_docs"),
        )
        .orderBy("lang")
    )


# --- incremental dedup index (r8, X115) ------------------------------------


def _simhash_band_rows(
    sh: DataFrame, n_bands: int = 4, bits: int = 64, sig_col: str = "simhash64"
) -> DataFrame:
    """Explode (doc_id, signature) into its banded lookup keys — the same
    (band, val) layout `simhash_banded_pairs` joins on, factored out so the
    persisted index and the probe side derive keys identically."""
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    return sh.select(
        "doc_id",
        F.col(sig_col).alias("sig"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright(sig_col, b * band_bits)
                    .bitwiseAND(F.lit(mask))
                    .alias("val"),
                )
                for b in range(n_bands)
            ])
        ).alias("bk"),
    ).select(
        "doc_id", "sig", F.col("bk.band").alias("band"),
        F.col("bk.val").alias("val"),
    )


def write_band_rows(rows: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write pre-computed (doc_id, sig, band, val) band rows in the index
    layout (parquet partitioned by band). Factored out of
    :func:`write_simhash_index` so callers that already hold a batch's band
    rows (the X116 ingest gate) can append them WITHOUT re-tokenizing and
    re-voting the text — keeping the 'signatures compute once per document
    ever' claim literally true. Appends land in the index's CURRENT
    version dir (fsio.resolve_data_dir); where no index exists yet, either
    mode publishes the rows as its first version.

    ``mode="overwrite"`` on an EXISTING index raises (r12): it would
    rewrite the LIVE ``_v-*`` dir in place, breaking snapshot isolation
    for concurrent probes. Rewrites go through
    :func:`write_simhash_index`, which stages a fresh version and flips
    the pointer."""
    from twitter_event_stream_spark.fsio import publish_version, resolve_data_dir

    spark = rows.sparkSession
    cur = resolve_data_dir(spark, path)
    if cur == path:
        publish_version(spark, path, lambda d: _write_band_dir(rows, d, "overwrite"))
    elif mode == "overwrite":
        raise ValueError(
            f"{path} is a live pointer-versioned index; overwriting its "
            "version dir in place would bypass the staged publish — use "
            "write_simhash_index for rewrites"
        )
    else:
        _write_band_dir(rows, cur, mode)


def _write_band_dir(rows: DataFrame, target: str, mode: str) -> None:
    rows.write.mode(mode).partitionBy("band").parquet(target)


def write_simhash_index(
    spark: SparkSession,
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    mode: str = "overwrite",
    pointer: bool | None = None,
) -> None:
    """Persist the corpus's SimHash dedup index (X115): 64-bit signatures
    pre-exploded into the Manku WWW'07 4x16-bit band keys, parquet
    partitioned by band. Build once over the corpus; each new ingest batch
    then dedups against it via :func:`dedup_against_index` without
    re-reading corpus TEXT or recomputing a single signature — the
    expensive tokenize + 64-vote aggregation runs exactly once per
    document over the corpus's lifetime. The text-dedup twin of the
    persisted IVF index (X114, vector_search.write_ivf_index).

    The index lives in the pointer-versioned layout
    (fsio.resolve_data_dir): data in ``<path>/_v-*`` named by a
    ``_current-<n>`` pointer file. ``mode="overwrite"`` (a build or a
    rebuild) publishes a fresh version atomically. ``mode="append"``
    grows the current version with a batch's survivors and is IDEMPOTENT
    under retry (r11, the direct-call twin of the streaming gate): the
    retried append re-adds only the (band, doc_id) rows the index lacks.
    Both write the index, so both follow the single-writer contract (fsio
    module docstring). ``pointer`` accepts True or None only
    (fsio.check_layout_flag)."""
    from twitter_event_stream_spark.fsio import (
        check_layout_flag,
        publish_version,
        resolve_data_dir,
    )

    check_layout_flag("pointer", pointer)
    rows = _simhash_band_rows(simhash64(docs, text_col))
    if mode == "append":
        cur = resolve_data_dir(spark, path)
        # ONLY a missing index means "first append creates the index": a
        # read failure on an EXISTING index must raise, not silently skip
        # the idempotency anti-join — a retried append would then write
        # duplicate band rows as durable (r11 ADVICE). Anti-join per
        # (band, doc_id), so a crashed partial append heals to all 4 bands.
        if cur != path:
            existing = spark.read.parquet(cur).select("band", "doc_id")
            rows = rows.join(existing, ["band", "doc_id"], "left_anti")
            _write_band_dir(rows, cur, "append")
            return
    elif mode != "overwrite":
        raise ValueError(f"mode must be 'overwrite' or 'append' (got {mode!r})")
    publish_version(spark, path, lambda d: _write_band_dir(rows, d, "overwrite"))


def dedup_against_index(
    spark: SparkSession,
    new_docs: DataFrame,
    path: str,
    max_hamming: int = 3,
    text_col: str = "text",
    band_rows: DataFrame | None = None,
    broadcast: bool = True,
    include_already_indexed: bool = False,
) -> DataFrame:
    """Flag which docs of an incoming batch near-duplicate the INDEXED
    corpus (X115): returns one row per batch doc — (doc_id, dup_of,
    hamming), dup_of NULL when no indexed doc is within ``max_hamming``
    (ties broken deterministically: minimal (hamming, corpus doc_id)).

    Self-identity is NOT duplication: an index row whose doc_id equals the
    probing doc's id is dropped before the verdict (doc_ids are globally
    unique by contract, so an equal id can only be the SAME document —
    seen when an at-least-once caller replays a batch whose rows were
    already appended, the X116 crash-retry window). Without this filter a
    replayed batch would flag every one of its own survivors as a
    hamming-0 dup of itself and republish an empty set over the previously
    published files.

    Scale shape: the batch (a micro-batch or daily drop, orders of
    magnitude smaller than the corpus) computes its signatures and band
    keys, and is BROADCAST against the index scan — the corpus side never
    shuffles and its signatures are read, not recomputed. Candidates per
    batch doc are bounded by band-bucket occupancy (pigeonhole-exact for
    Hamming <= 3 under 4 bands), and the only wide operation is the
    per-batch-doc min aggregation over those candidates. Duplicate
    candidates from multi-band matches are absorbed by the min, so no
    distinct pass is needed. Intra-batch duplicates are out of scope here
    — the X116 ingest gate runs the batch through the banded self-join
    first (pipelines.dedup_ingest_batch); pass ``band_rows`` (the
    pre-exploded (doc_id, sig, band, val) rows of ``new_docs``) to reuse
    signatures already computed for that pass instead of recomputing.
    ``broadcast=False`` drops the broadcast hint for batches too large to
    ship to every executor (drop-scale inputs) — the join falls back to a
    shuffle strategy chosen by AQE, same verdicts.
    ``include_already_indexed=True`` adds a boolean column flagging docs
    whose OWN rows are already in the index (the at-least-once replay
    signal, r10): the self-identity matches the verdict excludes are
    byproducts of the same banded join — self rows have hamming 0, so
    they ride the existing candidate filter for free — which is what lets
    the X116 handler skip re-appending a replayed batch's band rows
    without a second index scan."""
    if max_hamming >= 4:
        # the persisted index is 4x16-bit-banded; pigeonhole-exact recall
        # holds only for radii < n_bands — a larger radius would SILENTLY
        # miss pairs whose differing bits touch all four bands (same
        # contract simhash_banded_pairs enforces for its caller-chosen
        # banding). Rebuild the index with more bands for larger radii.
        raise ValueError(
            "index uses 4 bands: exact recall needs max_hamming < 4 "
            f"(got {max_hamming})"
        )
    from twitter_event_stream_spark.fsio import resolve_data_dir

    idx = spark.read.parquet(resolve_data_dir(spark, path))
    if band_rows is None:
        band_rows = _simhash_band_rows(simhash64(new_docs, text_col))
    nb = band_rows.select(
        F.col("doc_id").alias("n_id"), F.col("sig").alias("n_sig"),
        "band", "val",
    )
    cand = (
        idx.join(F.broadcast(nb) if broadcast else nb, ["band", "val"])
        .select(
            "n_id", "n_sig", F.col("doc_id").alias("dup_of"),
            F.col("sig").alias("c_sig"),
        )
    )
    hamming = F.bit_count(F.col("n_sig").bitwiseXOR(F.col("c_sig")))
    is_self = F.col("dup_of") == F.col("n_id")
    # self rows (a replayed batch meeting its own appended rows) have
    # hamming 0 and pass the candidate filter for free; the verdict min
    # skips them via the conditional, and max(is_self) is the replay flag
    best = (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .groupBy("n_id")
        .agg(
            F.min(
                F.when(~is_self, F.struct("hamming", "dup_of"))
            ).alias("m"),
            F.max(is_self).alias("already"),
        )
        .select(
            F.col("n_id").alias("doc_id"),
            F.col("m.dup_of").alias("dup_of"),
            F.col("m.hamming").alias("hamming"),
            "already",
        )
    )
    out = new_docs.select("doc_id").join(best, "doc_id", "left")
    if include_already_indexed:
        return out.withColumn(
            "already_indexed", F.coalesce("already", F.lit(False))
        ).drop("already")
    return out.drop("already")


def compact_band_rows(
    spark: SparkSession,
    path: str,
    files_per_band: int = 1,
    pointer_swap: bool | None = None,
) -> dict:
    """Compact the persisted SimHash dedup index (X115) down to
    ``files_per_band`` parquet files per band partition — the maintenance
    half of an append-only index (X119). Every ingest batch APPENDS files
    (the X116 gate appends once per micro-batch), so at production cadence
    the index accretes thousands of tiny files and probe cost drifts from
    O(bytes) to O(files): directory listing, parquet footer reads, and
    task scheduling all scale with file count. Compaction rewrites the
    SAME rows (content equality and unchanged probe verdicts pinned by
    test) clustered by band — ``repartition("band")`` lands each band in
    one writer task, so the rewrite is a single shuffle of the index —
    into a fresh version dir and flips the pointer
    (:func:`fsio.pointer_swap_dir`): probes resolve either the old file
    set or the new one, never a mix. Runs between ingest batches, per the
    single-writer contract (fsio module docstring). ``pointer_swap``
    accepts True or None only (fsio.check_layout_flag).

    Returns ``{"files_before", "files_after"}`` for the caller's log;
    trigger compaction on :func:`fsio.data_file_count` (say, > 64 files
    per band), not on row count — rows never change."""
    from twitter_event_stream_spark.fsio import (
        check_layout_flag,
        live_version_dir,
        publish_version,
    )

    check_layout_flag("pointer_swap", pointer_swap)
    cur = live_version_dir(spark, path)
    before = data_file_count(spark, cur)
    idx = spark.read.parquet(cur)
    if files_per_band <= 1:
        df = idx.repartition("band")
    else:
        df = (
            idx.withColumn(
                "_salt",
                F.pmod(F.xxhash64("doc_id"), F.lit(files_per_band)),
            )
            .repartition("band", "_salt")
            .drop("_salt")
        )
    publish_version(spark, path, lambda d: df.write.partitionBy("band").parquet(d))
    return {
        "files_before": before,
        "files_after": data_file_count(spark, path),
    }
