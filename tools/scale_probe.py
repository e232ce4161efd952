#!/usr/bin/env python
"""10× scale-probe lane (r5 verdict item 3): synthesize a ~sf1 fixture in
tmp from sf0.1 and drive the engine's most expensive query shapes at both
scales, asserting (a) ~linear scaling and (b) the no-cartesian /
no-corpus-sized-unpartitioned-window plan audits still hold — AQE flips
plan choices with input statistics, and every other plan assertion in the
repo runs at sf0.01/sf0.1 only.

Fixture synthesis (COPIES=10 by default):

* ``new_id = old_id * COPIES + k`` — id DENSITY is preserved, so the
  contract queries' id-window clamps scale linearly with a widened window
  (``doc_id < W`` holds W rows at any scale), and unclamped queries see
  COPIES× rows.
* ``documents.text`` is letter-ROTATED per copy (``translate`` with a
  shifted alphabet) so copies are lexically disjoint: the near-dup graph
  stays ~COPIES× the original's edges instead of exploding quadratically
  in cross-copy duplicate cliques (length, and hence n_chars, unchanged).
* ``events.ts`` shifts k seconds per copy (no pathological full-tie sort
  keys); ``embeddings`` perturb by k·1e-3 per component.
* Non-scaled tables are byte-copied.

Probed workloads: the unclamped contract queries (q_bm25, q_mix_sample,
q_sessionize, q_llm_ann_ivf) run as-is; the id-clamped flagships run
their clamp-free cores at a COPIES×-widened window (banded-MinHash
near-dup pairs → connected components → curation rollup; two_pass_rank
train order over the full corpus; broadcast-anti-join domain filter;
ntile_distributed deciles over the full events table).

Budget: warm per-probe time at the big scale must be ≤
LINEAR_ALPHA × COPIES × small-scale time + SLACK seconds — loose enough
for local[8] noise, tight enough that a quadratic blow-up (≥COPIES²×)
fails decisively.

Usage: ``python tools/scale_probe.py [--copies 10] [--keep DIR]``
(``make verify-sf1-probe`` runs it with defaults).
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

SRC = os.environ.get("TES_PROBE_SRC", "/root/testdata/sf0.1")
LINEAR_ALPHA = 2.0
SLACK_SEC = 10.0
ALPHA = "abcdefghijklmnopqrstuvwxyz"


def build_fixture(spark, src: str, dst: str, copies: int) -> None:
    from twitter_event_stream_spark.tables import TABLE_NAMES

    os.makedirs(dst, exist_ok=True)
    for name in TABLE_NAMES:
        src_path = f"{src}/{name}.parquet"
        out = f"{dst}/{name}.parquet"
        if name not in ("events", "documents", "embeddings"):
            shutil.copyfile(src_path, out)
            continue
        base = spark.read.parquet(src_path)
        parts = []
        for k in range(copies):
            p = base
            if name == "documents":
                p = p.withColumn(
                    "doc_id", F.col("doc_id") * copies + F.lit(k)
                ).withColumn(
                    "text", F.translate("text", ALPHA, ALPHA[k:] + ALPHA[:k])
                )
            elif name == "events":
                p = p.withColumn(
                    "event_id", F.col("event_id") * copies + F.lit(k)
                ).withColumn("ts", F.expr(f"ts + INTERVAL {k} SECONDS"))
            else:  # embeddings
                p = p.withColumn(
                    "vec_id", F.col("vec_id") * copies + F.lit(k)
                ).withColumn(
                    "embedding",
                    F.transform("embedding", lambda x: x + F.lit(k * 1e-3)),
                )
            parts.append(p)
        functools.reduce(DataFrame.unionByName, parts).coalesce(8).write.mode(
            "overwrite"
        ).parquet(out)
        print(f"fixture: {name} x{copies} -> {out}", flush=True)


# ---------------------------------------------------------------- probes

def _curation_core(spark, sf_dir: str, scale: int) -> DataFrame:
    """q_corpus_curation's pipeline with the id window widened ×scale:
    banded-MinHash pairs → CC labels → canonical-only quality rollup."""
    from twitter_event_stream_spark.operators.graph import connected_components
    from twitter_event_stream_spark.operators.llm_extra import minhash_det_pairs
    from twitter_event_stream_spark.tables import table

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200 * scale)
    # local_threshold=0: this probe exists to pin the DISTRIBUTED loop's
    # scaling; the default two-phase pick would finish both scales on the
    # driver and measure nothing.
    labels = connected_components(
        minhash_det_pairs(d).select("a_id", "b_id"), "a_id", "b_id",
        local_threshold=0,
    )
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    uniq_ratio = F.size(F.array_distinct(toks)) / n_tokens.cast("double")
    curated = (
        d.join(
            F.broadcast(labels.select(F.col("node").alias("doc_id"), "label")),
            "doc_id",
            "left",
        )
        .filter(F.coalesce(F.col("label"), F.col("doc_id")) == F.col("doc_id"))
        .select("lang", n_tokens.alias("n_tokens"), uniq_ratio.alias("uniq_ratio"))
        .filter(F.col("uniq_ratio") >= 0.3)
    )
    return curated.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("total_tokens")
    )


def _train_order_core(spark, sf_dir: str, scale: int) -> DataFrame:
    """q_train_order's two_pass_rank over the FULL corpus × 2 epochs."""
    from twitter_event_stream_spark.operators.scale_ops import two_pass_rank
    from twitter_event_stream_spark.tables import table

    d = table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", F.explode(F.array(F.lit("e1"), F.lit("e2"))).alias("epoch")
    ).withColumn(
        "sk", F.md5(F.concat(F.col("epoch"), F.lit(":"), F.col("doc_id")))
    )
    return two_pass_rank(t, ["epoch"], "sk").select("epoch", "doc_id", "pos")


def _domain_filter_core(spark, sf_dir: str, scale: int) -> DataFrame:
    """q_domain_filter's broadcast anti-join over the FULL corpus."""
    from twitter_event_stream_spark.tables import table

    d = table(spark, sf_dir, "documents")
    domains = F.array(
        F.lit("docs.example.org"), F.lit("blog.example.net"),
        F.lit("spam.example.biz"), F.lit("mirror.example.io"),
        F.lit("ads.example.click"),
    )
    h = d.select(
        "doc_id", "lang",
        F.element_at(domains, (F.col("doc_id") % 5 + 1).cast("int")).alias("host"),
    )
    blocklist = spark.createDataFrame(
        [("spam.example.biz",), ("ads.example.click",)], "host string"
    )
    return h.join(F.broadcast(blocklist), "host", "left_anti")


def _ntile_core(spark, sf_dir: str, scale: int) -> DataFrame:
    """q_quantile_bucketize's distributed exact deciles over full events."""
    from twitter_event_stream_spark.operators.scale_ops import ntile_distributed
    from twitter_event_stream_spark.tables import table

    ev = table(spark, sf_dir, "events").select("event_id", "value")
    return ntile_distributed(ev, "value", "event_id", n_tiles=10).groupBy(
        "bin"
    ).agg(F.count(F.lit(1)).alias("n"))


def _curation_full_core(spark, sf_dir: str, scale: int) -> DataFrame:
    """q_corpus_curation_full's pipeline WITHOUT the session label cache
    (the registered query memoizes CC labels per (app, sf_dir), which would
    make the probe's best-of-2 timing measure a cache hit instead of the
    signature pass + CC fixpoint this lane exists to bound). Star-edge
    graph + default two-phase CC — the registered query's real execution
    path."""
    from twitter_event_stream_spark.operators.graph import connected_components
    from twitter_event_stream_spark.operators.llm_extra import (
        minhash_cluster_edges,
    )
    from twitter_event_stream_spark.tables import table

    d = table(spark, sf_dir, "documents")
    labels = connected_components(minhash_cluster_edges(d), "a_id", "b_id")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    uniq_ratio = F.size(F.array_distinct(toks)) / n_tokens.cast("double")
    canonical = F.coalesce(F.col("label"), F.col("doc_id")) == F.col("doc_id")
    kept = canonical & (uniq_ratio >= 0.3)
    return (
        d.join(
            labels.select(F.col("node").alias("doc_id"), "label"), "doc_id", "left"
        )
        .select(
            "lang",
            canonical.cast("long").alias("c"),
            kept.cast("long").alias("k"),
            F.when(kept, n_tokens).otherwise(0).alias("t"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("c").alias("n_canonical"),
            F.sum("k").alias("n_curated"),
            F.sum("t").alias("total_tokens"),
        )
    )


#: embed_neardup at 10× is covered by the q_embed_neardup_full registry
#: probe (same blocked operator over the whole table + a one-row rollup) —
#: AUTO cell count keeps cell occupancy constant, which is what keeps the
#: per-cell gram matrices (and total work) ~linear; a fixed n_cells would
#: fail that probe quadratically.


def _registry_probe(name: str):
    def run(spark, sf_dir: str, scale: int) -> DataFrame:
        from twitter_event_stream_spark import registry

        return registry.get(name).fn(spark, sf_dir)

    return run


def _ivf_distributed_core(spark, sf_dir: str, scale: int) -> DataFrame:
    """IVF top-k through the DISTRIBUTED quantizer branch (MLlib
    k-means||, the >4M-vector path) — forced here so the probe bounds the
    branch no fixture is big enough to auto-trigger."""
    from twitter_event_stream_spark.operators.vector_search import ivf_topk
    from twitter_event_stream_spark.tables import table

    e = table(spark, sf_dir, "embeddings")
    return ivf_topk(
        spark, e, e.filter(F.col("vec_id") < 20), k=5, distributed=True
    )


PROBES = {
    "q_bm25": _registry_probe("q_bm25"),
    "q_mix_sample": _registry_probe("q_mix_sample"),
    "q_sessionize": _registry_probe("q_sessionize"),
    "q_llm_ann_ivf": _registry_probe("q_llm_ann_ivf"),
    "curation_core": _curation_core,
    "curation_full_core": _curation_full_core,
    "q_simhash_dedup_full": _registry_probe("q_simhash_dedup_full"),
    "q_embed_neardup_full": _registry_probe("q_embed_neardup_full"),
    "q_dup_spans_full": _registry_probe("q_dup_spans_full"),
    "q_contamination_ngram": _registry_probe("q_contamination_ngram"),
    "train_order_core": _train_order_core,
    "domain_filter_core": _domain_filter_core,
    "ntile_core": _ntile_core,
    "ivf_distributed_core": _ivf_distributed_core,
}

#: probes whose plan legitimately contains a 1-row-broadcast stats
#: cross-join (BNLJ) and/or a bounded-input unpartitioned window —
#: mirrors tests/test_plans.py's allowlists.
BNLJ_OK = {"q_bm25"}
UNPARTITIONED_OK = {"q_bm25"}


def audit_plan(name: str, df: DataFrame) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    problems = []
    if "CartesianProduct" in plan:
        problems.append(f"{name}: CartesianProduct at 10x")
    if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_OK:
        problems.append(f"{name}: BroadcastNestedLoopJoin at 10x")
    for line in plan.splitlines():
        if "windowspecdefinition(" not in line:
            continue
        first = line.split("windowspecdefinition(", 1)[1].split(",", 1)[0]
        if (" ASC" in first or " DESC" in first) and name not in UNPARTITIONED_OK:
            problems.append(f"{name}: unpartitioned window at 10x: {line.strip()[:100]}")
    return problems


def streaming_probe(spark, sf_dir: str) -> tuple[float, int]:
    """r8 (r6 verdict #7): one replay-driven run of the full bridge
    pipeline (decode → dispatch → watermarked dedup → broadcast
    subscription join → legacy reshape), availableNow over a 20-chunk
    ordered replay, counting sink. Returns (routing seconds, events) —
    chunk synthesis and checkpoint teardown excluded. Shuffle partitions
    pinned to 8 like bench.py (state-store count, not batch default)."""
    import tempfile

    from twitter_event_stream_spark.streaming.pipelines import bridge_pipeline
    from twitter_event_stream_spark.streaming.replay import (
        replay_stream,
        write_replay_chunks,
    )
    from twitter_event_stream_spark.tables import load_tables

    chunk_dir = tempfile.mkdtemp(prefix="tes_probe_replay_")
    ckpt = tempfile.mkdtemp(prefix="tes_probe_ckpt_")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        write_replay_chunks(spark, sf_dir, chunk_dir, n_chunks=20)
        ev = load_tables(spark, sf_dir)["events"]
        n_events = ev.count()
        subs = (
            ev.select("user_id")
            .distinct()
            .withColumn("client_id", (F.col("user_id") % 8).cast("string"))
        )
        counted = {"n": 0}

        def cb(batch, _bid) -> None:
            counted["n"] += batch.count()

        t = time.perf_counter()
        q = (
            bridge_pipeline(
                replay_stream(spark, chunk_dir, files_per_trigger=4), subs
            )
            .writeStream.foreachBatch(cb)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
        dt = time.perf_counter() - t
        assert counted["n"] == n_events, (counted["n"], n_events)
        return dt, n_events
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        shutil.rmtree(chunk_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def ingest_gate_probe(spark, sf_dir: str) -> tuple[float, int]:
    """r9 (r8 verdict #7): the X116 ingest gate against a full-corpus
    index — index build (excluded from the timing) over the even-id half
    of ``documents``, then ONE gated micro-batch of the 2000 smallest
    odd-id docs through ``dedup_ingest_batch`` (signature pass, intra-batch
    banded self-join, broadcast index probe, publish, band-row append,
    manifest). The batch is constant-size across scales, so the timed cost
    isolates how gating scales with INDEX size — the 100 TB axis: the
    corpus grows, the daily drop doesn't. Expected shape: the index-side
    band scan is the only corpus-sized term, so time grows at most
    linearly in the index with a small columnar-scan constant."""
    import tempfile

    from twitter_event_stream_spark.operators.corpus_full import (
        write_simhash_index,
    )
    from twitter_event_stream_spark.streaming.pipelines import (
        dedup_ingest_batch,
    )
    from twitter_event_stream_spark.tables import table

    base = tempfile.mkdtemp(prefix="tes_probe_ingest_")
    try:
        d = table(spark, sf_dir, "documents")
        write_simhash_index(
            spark, d.filter(F.col("doc_id") % 2 == 0), f"{base}/idx"
        )
        # materialize the batch first: the gate timing should cover gating,
        # not the fixture scan feeding it
        batch = (
            d.filter(F.col("doc_id") % 2 == 1)
            .orderBy("doc_id")
            .limit(2000)
            .localCheckpoint()
        )
        n = batch.count()
        t = time.perf_counter()
        dedup_ingest_batch(f"{base}/idx", f"{base}/out")(batch, 0)
        return time.perf_counter() - t, n
    finally:
        shutil.rmtree(base, ignore_errors=True)


def vector_ingest_probe(spark, sf_dir: str) -> tuple[float, int]:
    """r9 (X123): ONE streamed vector micro-batch (1000 smallest odd
    vec_ids — constant across scales; sf0.1 has ~1000 odd vectors total)
    into a persisted IVF index built (untimed) over the even half. The
    timed handler is centroid read + Arrow-batched assignment + an
    anti-join against the vec_ids of the cells the batch touches + a
    cell-partitioned append. Only the touched cells are scanned, and
    auto-sized cells hold a constant number of vectors, so the scan is
    bounded by the batch's cell count times that occupancy, and the
    expected ratio is ~1x: streamed ingest cost is a function of the
    batch, not the corpus. That flatness is the lane's claim; a
    corpus-sized term creeping into the handler (e.g. an unpruned index
    scan) fails the budget."""
    import tempfile

    from twitter_event_stream_spark.operators.vector_search import (
        write_ivf_index,
    )
    from twitter_event_stream_spark.streaming.pipelines import (
        vector_ingest_batch,
    )
    from twitter_event_stream_spark.tables import table

    base = tempfile.mkdtemp(prefix="tes_probe_vecingest_")
    try:
        e = table(spark, sf_dir, "embeddings")
        write_ivf_index(
            spark, e.filter(F.col("vec_id") % 2 == 0), f"{base}/idx"
        )
        batch = (
            e.filter(F.col("vec_id") % 2 == 1)
            .select("vec_id", "embedding")
            .orderBy("vec_id")
            .limit(1000)
            .localCheckpoint()
        )
        n = batch.count()
        t = time.perf_counter()
        vector_ingest_batch(f"{base}/idx")(batch, 0)
        return time.perf_counter() - t, n
    finally:
        shutil.rmtree(base, ignore_errors=True)


def index_maintenance_probe(spark, sf_dir: str) -> tuple[float, dict]:
    """r9 (X119): compaction cost scales with INDEX size — the rewrite is
    one clustered shuffle of the whole band-row table, the corpus-sized
    term — so the timed op is ``compact_band_rows`` over a full-corpus
    index fragmented by three appends (the build/append passes are setup,
    untimed). The compaction publishes a new version through a pointer
    flip (one staged version dir + a pointer-file create + cleanup); that
    is metadata-scale, so the lane's ~linear corpus shape must not move.
    The returned report also shows the reclaim (files_before → 4)."""
    import tempfile

    from twitter_event_stream_spark.operators.corpus_full import (
        compact_band_rows,
        write_simhash_index,
    )
    from twitter_event_stream_spark.tables import table

    base = tempfile.mkdtemp(prefix="tes_probe_compact_")
    try:
        d = table(spark, sf_dir, "documents")
        write_simhash_index(
            spark, d.filter(F.col("doc_id") % 4 == 0), f"{base}/idx"
        )
        for m in (1, 2, 3):  # simulated ingest cadence: three appends
            write_simhash_index(
                spark,
                d.filter(F.col("doc_id") % 4 == m),
                f"{base}/idx",
                mode="append",
            )
        t = time.perf_counter()
        rep = compact_band_rows(spark, f"{base}/idx")
        return time.perf_counter() - t, rep
    finally:
        shutil.rmtree(base, ignore_errors=True)


class _SoakCrash(RuntimeError):
    """An INJECTED maintenance death (r14) — a dedicated type so the soak
    can count it as the simulated failure it is, never as a lane error."""


#: Minimum seconds between two maintenance passes of the soak lane — the
#: grace-window rule (vector_search.ivf_topk_indexed): passes spaced wider
#: than the longest probe never evict a version a probe still reads.
SOAK_MAINT_SPACING_SEC = 3.0


def soak_probe(
    spark,
    sf_dir: str,
    n_batches: int = 3,
    batch_docs: int = 350,
    batch_vecs: int = 200,
    hard_cap_sec: float = 300.0,
    crash_rate: float = 0.0,
    crash_seed: int = 1914,
    min_completed: int | None = None,
) -> tuple[float, dict]:
    """r13 (r12 verdict task #4) — soak lane: ingest, maintenance and
    probes on both persisted indexes at once, under the single-writer
    contract (fsio module docstring). Two threads share one SparkSession
    for a bounded window:

    - writer: for each of ``n_batches`` batch ids, one constant-size doc
      batch through ``dedup_ingest_batch`` (SimHash gate + corpus publish
      + band-row append) and one vector batch through
      ``vector_ingest_batch``, each followed by one maintenance pass
      alternating ``compact_band_rows`` and ``compact_ivf_cells`` — the
      batch-id cadence of an ingest query
      running its own maintenance between handler calls. Passes are
      spaced at least ``SOAK_MAINT_SPACING_SEC`` apart, per the documented
      grace-window rule;
    - prober: continuous ``ivf_topk_indexed`` + ``dedup_against_index``
      against the live indexes; every exception is recorded.

    Converged invariants, asserted after the window:
      * probes never erred and completed > 0 times;
      * SimHash index: no duplicate (band, doc_id) rows, every doc has
        exactly 4 band rows, base ⊆ visible ⊆ base ∪ ingested, and every
        PUBLISHED survivor (manifested corpus batch) is indexed;
      * IVF index: no duplicate vec_id among visible vectors (the live
        version's cells), base ⊆ visible ⊆ base ∪ ingested, and every
        vector of every COMMITTED batch is visible;
      * ≥ 2 maintenance passes COMPLETED (≥ 1 under crash injection —
        kills must not starve healthy completions; callers may RAISE the
        floor via ``min_completed``, r16 — the deepened 10x/healthy lane
        demands ≥ 15), every ingest batch eventually committed.

    Batch sizes are constant across scales (like ingest_gate /
    vector_ingest): the lane's wall grows only with the index-sized
    maintenance terms. Returns (wall_sec, report).

    Crash injection (r14, r13 verdict #5 — the hypothesis suites inject
    crashes deterministically but without a concurrent reader; this
    composes them with the live prober): with ``crash_rate > 0`` the
    writer dies inside the documented crash windows while probes keep
    reading —

    - ``pointer_swap_dir`` raises AFTER the real swap commits: the new
      version is live but the pass's post-publish steps never ran (the
      X127-shaped window);
    - **r15 (r14 verdict #4)**: the INGEST handlers die too. The
      document handler dies in ``_write_fs_manifest`` BEFORE the manifest
      lands, so the batch is fully published (data dir + band-row append)
      but never certified (the X116 publish-without-manifest window). The
      vector handler dies AFTER ``append_ivf_index`` commits and before
      it returns, so the batch is visible but foreachBatch would count it
      as failed. The writer treats either death exactly as foreachBatch
      would — the batch REPLAYS — and the already_indexed / anti-join
      convergence protocol must land it exactly once.

    The first eligible call always crashes — once for the maintenance
    seam, and once per handler kind (so a short window still exercises
    every injection); later calls crash with probability ``crash_rate``
    from a seeded RNG. The SAME converged invariants as the healthy lane
    must then hold, with no recovery step, plus
    ``maint_crashes >= 1``, ``ingest_crashes >= 1`` AND — r15, the r14
    verdict's top task: the crash lane must not DISPLACE the healthy
    regime — at least one maintenance pass COMPLETED healthily
    (``maint_passes`` counts completions only; crashes are counted
    separately)."""
    import tempfile
    import threading

    import twitter_event_stream_spark.fsio as fsio
    from twitter_event_stream_spark.operators.corpus_full import (
        compact_band_rows,
        dedup_against_index,
        write_simhash_index,
    )
    from twitter_event_stream_spark.operators.vector_search import (
        compact_ivf_cells,
        ivf_topk_indexed,
        read_ivf_cells,
        write_ivf_index,
    )
    from twitter_event_stream_spark.streaming.pipelines import (
        dedup_ingest_batch,
        vector_ingest_batch,
    )
    from twitter_event_stream_spark.tables import table

    base = tempfile.mkdtemp(prefix="tes_probe_soak_")
    sidx, ividx, out = f"{base}/sidx", f"{base}/ividx", f"{base}/corpus"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    report: dict = {}  # bound before the try: the finally reads it
    undo_gates: list = []  # crash-injection seams; healed in the finally
    try:
        d = table(spark, sf_dir, "documents")
        e = table(spark, sf_dir, "embeddings").filter(
            F.col("embedding").isNotNull()
        )
        d_even = d.filter(F.col("doc_id") % 2 == 0)
        e_even = e.filter(F.col("vec_id") % 2 == 0)
        write_simhash_index(spark, d_even, sidx)
        write_ivf_index(spark, e_even, ividx)

        def slices(df, id_col, per_batch):
            pool = (
                df.filter(F.col(id_col) % 2 == 1)
                .orderBy(id_col)
                .limit(n_batches * per_batch)
                .localCheckpoint()
            )
            ids = [r[0] for r in pool.select(id_col).orderBy(id_col).collect()]
            if len(ids) < n_batches:
                raise ValueError(
                    f"soak fixture too small: only {len(ids)} odd "
                    f"{id_col}s for {n_batches} batches"
                )
            # adapt to what the fixture actually yields (r13 review: an
            # undersized fixture crashed on ids[k*per_batch]) — batch
            # sizes shrink, the batch COUNT and invariants don't
            per = max(1, len(ids) // n_batches)
            bounds = [ids[k * per] for k in range(n_batches)]
            bounds.append(ids[-1] + 1)
            return [
                pool.filter(
                    (F.col(id_col) >= bounds[k])
                    & (F.col(id_col) < bounds[k + 1])
                ).localCheckpoint()
                for k in range(n_batches)
            ], set(ids)

        doc_batches, doc_ing_ids = slices(d, "doc_id", batch_docs)
        vec_batches, vec_ing_ids = slices(
            e.select("vec_id", "embedding"), "vec_id", batch_vecs
        )
        probe_docs = d_even.limit(40).localCheckpoint()
        probe_vecs = (
            e_even.select("vec_id", "embedding").limit(20).localCheckpoint()
        )

        stop = threading.Event()
        # each key has ONE writing thread and is read after the joins
        report.update({
            "probes": 0,
            "probe_errors": [],
            "maint_passes": 0,
            "maint_crashes": 0,
            "maint_errors": [],
            "ingest_crashes": 0,
            "doc_committed": [],
            "vec_committed": [],
            "ingest_errors": [],
        })
        handler_kind = {"now": None}  # which handler the writer is in

        # ---- crash injection gates (r14): armed after the index builds,
        # they fire only in the writer (the prober never reaches these
        # seams), so probes only ever see the injected fault's AFTERMATH
        if crash_rate > 0:
            import random as _random

            import twitter_event_stream_spark.operators.vector_search as VS
            import twitter_event_stream_spark.streaming.pipelines as PL

            rng = _random.Random(crash_seed)
            first = {"pending": True}

            def _should_crash() -> bool:
                if first["pending"]:
                    first["pending"] = False  # guarantee >= 1 injection
                    return True
                return rng.random() < crash_rate

            real_swap = fsio.pointer_swap_dir

            def gated_swap(*a, **k):
                res = real_swap(*a, **k)  # the real swap COMMITS first
                if _should_crash():
                    raise _SoakCrash(
                        "injected: died after the pointer publish, "
                        "before the pass's post-swap steps"
                    )
                return res

            # ---- ingest-handler kills (r15, r14 verdict #4): the handler's
            # work is on disk but the handler never returns; the replay
            # must converge
            ing_first = {"docs": True, "vecs": True}
            ing_rng = _random.Random(crash_seed + 1)
            real_manifest = PL._write_fs_manifest
            real_append = VS.append_ivf_index

            def _ingest_should_crash(kind) -> bool:
                if ing_first[kind]:
                    ing_first[kind] = False  # >= 1 kill per handler kind
                    return True
                return ing_rng.random() < crash_rate

            def gated_manifest(*a, **k):
                if _ingest_should_crash("docs"):
                    raise _SoakCrash(
                        "injected: ingest handler died between the batch "
                        "publish and its manifest (the X116 window)"
                    )
                return real_manifest(*a, **k)

            def gated_append(*a, **k):
                res = real_append(*a, **k)  # the real append COMMITS first
                if handler_kind["now"] == "vecs" and _ingest_should_crash("vecs"):
                    raise _SoakCrash(
                        "injected: vector handler died after its append "
                        "committed, before it returned"
                    )
                return res

            for mod, name, real, gate in (
                (fsio, "pointer_swap_dir", real_swap, gated_swap),
                (PL, "_write_fs_manifest", real_manifest, gated_manifest),
                (VS, "append_ivf_index", real_append, gated_append),
            ):
                setattr(mod, name, gate)
                undo_gates.append(
                    lambda mod=mod, name=name, real=real: setattr(
                        mod, name, real
                    )
                )

        maint_ops = (
            ("compact_band_rows", lambda: compact_band_rows(spark, sidx)),
            ("compact_ivf_cells", lambda: compact_ivf_cells(spark, ividx)),
        )
        last_pass = {"end": 0.0}

        def maintenance_pass(i: int) -> None:
            wait = last_pass["end"] + SOAK_MAINT_SPACING_SEC - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            name, op = maint_ops[i % len(maint_ops)]
            try:
                op()
                report["maint_passes"] += 1
            except _SoakCrash:
                # a simulated process death mid-pass: the protocol's
                # at-least-once contract owes convergence, not this
                # pass's completion — counted, never an error
                report["maint_crashes"] += 1
            except Exception as ex:
                report["maint_errors"].append(f"{name}: {ex}"[:300])
            last_pass["end"] = time.perf_counter()

        def ingest(tag, handler, batch, bid, committed_key) -> bool:
            # foreachBatch is at-least-once: a killed batch REPLAYS until
            # it commits; the commit protocol owes exactly-once
            # convergence, pinned by the invariants below
            while time.perf_counter() < deadline:
                handler_kind["now"] = tag
                try:
                    handler(batch, bid)
                except _SoakCrash:
                    report["ingest_crashes"] += 1
                    continue
                except Exception as ex:  # anything else is a failure
                    report["ingest_errors"].append(
                        f"{tag} batch {bid}: {ex}"[:300]
                    )
                    return False
                finally:
                    handler_kind["now"] = None
                report[committed_key].append(bid)
                return True
            report["ingest_errors"].append(
                f"{tag} batch {bid}: never committed before the lane "
                "deadline"
            )
            return False

        def writer():
            handlers = (
                ("docs", dedup_ingest_batch(sidx, out), doc_batches,
                 "doc_committed"),
                ("vecs", vector_ingest_batch(ividx), vec_batches,
                 "vec_committed"),
            )
            n_pass = 0
            for bid in range(n_batches):
                for tag, handler, batches, key in handlers:
                    if not ingest(tag, handler, batches[bid], bid, key):
                        return
                    maintenance_pass(n_pass)
                    n_pass += 1

        def prober():
            while not stop.is_set():
                try:
                    ivf_topk_indexed(spark, ividx, probe_vecs, k=3).count()
                    dedup_against_index(spark, probe_docs, sidx).count()
                    report["probes"] += 1
                except Exception as ex:
                    report["probe_errors"].append(str(ex)[:300])
                stop.wait(0.5)

        t0 = time.perf_counter()
        deadline = t0 + hard_cap_sec
        threads = [
            threading.Thread(target=writer, name="soak-writer", daemon=True),
            threading.Thread(target=prober, name="soak-probe", daemon=True),
        ]
        for t in threads:
            t.start()
        threads[0].join(timeout=max(1.0, deadline - time.perf_counter()))
        timed_out = threads[0].is_alive()
        stop.set()
        # drain generously: a 10x maintenance op mid-pass can outlive a
        # short join, and checking 'converged' invariants (or deleting
        # the tmp tree) under a still-running op would manufacture
        # failures (r13 review)
        for t in threads:
            t.join(timeout=max(30.0, deadline - time.perf_counter()))
        for undo in undo_gates:  # injection over: heal the seams first
            undo()
        undo_gates.clear()
        wall = time.perf_counter() - t0
        if timed_out or any(t.is_alive() for t in threads):
            report["invariant_problems"] = [
                f"soak hard cap {hard_cap_sec}s exceeded "
                f"(writer unfinished: {timed_out}; threads alive: "
                f"{[t.name for t in threads if t.is_alive()]})"
            ]
            if any(t.is_alive() for t in threads):
                # never rmtree under a live op; the tmp dir leaks instead
                report["leaked_tmp"] = base
            return wall, report

        # ---- converged invariants (quiesced now: all threads joined)
        problems = report["probe_errors"] + report["maint_errors"] + \
            report["ingest_errors"]
        if crash_rate > 0 and report["maint_crashes"] == 0:
            problems.append(
                "crash injection armed but no maintenance pass was killed"
            )
        if crash_rate > 0 and report["ingest_crashes"] == 0:
            problems.append(
                "crash injection armed but no ingest handler was killed"
            )
        if report["probes"] == 0:
            problems.append("prober never completed a pass")
        # r15 (r14 verdict top task): maint_passes counts COMPLETED
        # passes only (crashes are counted separately) — the healthy lane
        # keeps its >= 2 bar, the crash lane demands >= 1 healthy
        # completion. r16 (r15 verdict #2): the caller can RAISE the bar —
        # the deepened 10x/healthy lane pins >= 15 completed passes.
        if min_completed is None:
            min_completed = 2 if crash_rate == 0 else 1
        if report["maint_passes"] < min_completed:
            problems.append(
                f"only {report['maint_passes']} maintenance passes "
                f"COMPLETED healthily (need >= {min_completed}"
                f"{' under crash injection' if crash_rate > 0 else ''})"
            )

        rows = spark.read.parquet(
            fsio.resolve_data_dir(spark, sidx)
        ).select("band", "doc_id")
        if rows.count() != rows.distinct().count():
            problems.append("sidx: duplicate (band, doc_id) rows")
        bad_bands = (
            rows.groupBy("doc_id").count().filter("count != 4").count()
        )
        if bad_bands:
            problems.append(f"sidx: {bad_bands} docs without exactly 4 bands")
        vis = rows.select("doc_id").distinct()
        if d_even.select("doc_id").join(vis, "doc_id", "left_anti").count():
            problems.append("sidx: base docs missing from the index")
        allowed = d_even.select("doc_id").unionByName(
            spark.createDataFrame(
                [(i,) for i in sorted(doc_ing_ids)], "doc_id long"
            )
        )
        if vis.join(allowed, "doc_id", "left_anti").count():
            problems.append("sidx: stray doc_ids (neither base nor ingested)")
        pub_ids = fsio.manifested_batch_ids(spark, out)
        if sorted(report["doc_committed"]) != pub_ids:
            problems.append(
                f"corpus sink: committed {sorted(report['doc_committed'])} "
                f"!= manifested {pub_ids}"
            )
        if pub_ids:
            published = spark.read.option("basePath", out).parquet(
                *[f"{out}/batch={i}" for i in pub_ids]
            ).select("doc_id").distinct()
            if published.join(vis, "doc_id", "left_anti").count():
                problems.append(
                    "sidx: published survivors missing from the index"
                )

        vvis = read_ivf_cells(spark, ividx).select("vec_id")
        if vvis.count() != vvis.distinct().count():
            problems.append("ividx: duplicate vec_ids visible")
        if e_even.select("vec_id").join(vvis, "vec_id", "left_anti").count():
            problems.append("ividx: base vectors missing")
        vallowed = e_even.select("vec_id").unionByName(
            spark.createDataFrame(
                [(i,) for i in sorted(vec_ing_ids)], "vec_id long"
            )
        )
        if vvis.join(vallowed, "vec_id", "left_anti").count():
            problems.append("ividx: stray vec_ids")
        committed_vec_ids = set()
        for bid in report["vec_committed"]:
            committed_vec_ids.update(
                r[0] for r in vec_batches[bid].select("vec_id").collect()
            )
        if committed_vec_ids:
            cdf = spark.createDataFrame(
                [(i,) for i in sorted(committed_vec_ids)], "vec_id long"
            )
            if cdf.join(vvis, "vec_id", "left_anti").count():
                problems.append(
                    "ividx: committed batch vectors not visible"
                )

        report["invariant_problems"] = problems
        return wall, report
    finally:
        for undo in undo_gates:  # idempotent: cleared on the main path
            undo()
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        if report.get("leaked_tmp") is None:
            shutil.rmtree(base, ignore_errors=True)


def time_probe(spark, fn, sf_dir: str, scale: int):
    """Construction + full execution (count), best of 2 — the second run
    amortizes one-off costs (scan footer reads, codegen) like bench warm.
    Returns ``(best_seconds, last_df)`` so the caller audits the already-
    built plan instead of paying a third eager construction at 10×."""
    best = float("inf")
    df = None
    for _ in range(2):
        t = time.perf_counter()
        df = fn(spark, sf_dir, scale)
        df.count()
        best = min(best, time.perf_counter() - t)
    return best, df


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--copies", type=int, default=10)
    ap.add_argument("--keep", default=None, help="reuse/keep fixture dir")
    args = ap.parse_args()

    from twitter_event_stream_spark.session import get_spark

    spark = get_spark(app_name="tes-scale-probe")
    dst = args.keep or tempfile.mkdtemp(prefix="tes_sf1_")
    made_tmp = args.keep is None
    try:
        meta_path = os.path.join(dst, "fixture_meta.json")
        if not os.path.exists(f"{dst}/events.parquet"):
            t0 = time.perf_counter()
            build_fixture(spark, SRC, dst, args.copies)
            with open(meta_path, "w") as f:
                json.dump({"copies": args.copies, "src": SRC}, f)
            print(f"fixture built in {time.perf_counter()-t0:.1f}s", flush=True)
        else:
            # a kept fixture must match this invocation's id arithmetic —
            # reusing a --copies 10 fixture under --copies 5 would silently
            # compute wrong window widths and budgets
            meta = {}
            if os.path.exists(meta_path):
                with open(meta_path) as f:
                    meta = json.load(f)
            if meta.get("copies") != args.copies or meta.get("src") != SRC:
                raise SystemExit(
                    f"kept fixture {dst} was built with {meta or 'unknown'}; "
                    f"this run wants copies={args.copies} src={SRC} — "
                    "delete the directory or pass the matching flags"
                )

        failures: list[str] = []
        print(f"\n{'probe':20s} {'sf0.1':>8s} {'10x':>8s} {'ratio':>6s}  budget")
        for name, fn in PROBES.items():
            t_small, _ = time_probe(spark, fn, SRC, 1)
            t_big, big_df = time_probe(spark, fn, dst, args.copies)
            budget = LINEAR_ALPHA * args.copies * t_small + SLACK_SEC
            ratio = t_big / max(t_small, 1e-9)
            ok = t_big <= budget
            if not ok:
                failures.append(
                    f"{name}: {t_big:.1f}s > budget {budget:.1f}s "
                    f"(small={t_small:.1f}s, ratio={ratio:.1f}x)"
                )
            failures.extend(audit_plan(name, big_df))
            print(
                f"{name:20s} {t_small:8.2f} {t_big:8.2f} {ratio:5.1f}x"
                f"  <= {budget:.1f}s {'OK' if ok else 'FAIL'}",
                flush=True,
            )

        # streaming lane (r8): bridge-pipeline replay at both scales —
        # micro-batch count is identical (20 chunks either way), so wall
        # time should track events ~linearly once per-batch fixed cost is
        # amortized; the budget tolerates that fixed cost via SLACK.
        t_small_s, n_small = streaming_probe(spark, SRC)
        t_big_s, n_big = streaming_probe(spark, dst)
        budget = LINEAR_ALPHA * args.copies * t_small_s + SLACK_SEC
        ratio = t_big_s / max(t_small_s, 1e-9)
        ok = t_big_s <= budget
        if not ok:
            failures.append(
                f"streaming_bridge: {t_big_s:.1f}s > budget {budget:.1f}s "
                f"(small={t_small_s:.1f}s, ratio={ratio:.1f}x)"
            )
        print(
            f"{'streaming_bridge':20s} {t_small_s:8.2f} {t_big_s:8.2f} "
            f"{ratio:5.1f}x  <= {budget:.1f}s {'OK' if ok else 'FAIL'}  "
            f"({int(n_small / t_small_s)} -> {int(n_big / t_big_s)} ev/s)",
            flush=True,
        )

        # ingest-gate lane (r9): constant 2000-doc batch against a 10×
        # larger index — pins per-doc gating cost as the corpus grows.
        t_small_g, n_g = ingest_gate_probe(spark, SRC)
        t_big_g, _ = ingest_gate_probe(spark, dst)
        budget = LINEAR_ALPHA * args.copies * t_small_g + SLACK_SEC
        ratio = t_big_g / max(t_small_g, 1e-9)
        ok = t_big_g <= budget
        if not ok:
            failures.append(
                f"ingest_gate: {t_big_g:.1f}s > budget {budget:.1f}s "
                f"(small={t_small_g:.1f}s, ratio={ratio:.1f}x)"
            )
        print(
            f"{'ingest_gate':20s} {t_small_g:8.2f} {t_big_g:8.2f} "
            f"{ratio:5.1f}x  <= {budget:.1f}s {'OK' if ok else 'FAIL'}  "
            f"({t_small_g / n_g * 1e3:.1f} -> {t_big_g / n_g * 1e3:.1f} "
            f"ms/doc, batch={n_g})",
            flush=True,
        )

        # vector-ingest lane (r9, X123): constant 1000-vector batch into
        # a 10x larger IVF index — the handler never reads the corpus, so
        # per-vector cost must stay ~FLAT as the index grows; the budget
        # is deliberately NOT scaled by copies (a linear corpus-sized term
        # creeping into the handler must FAIL this lane, unlike the
        # corpus-sized lanes above). The slack absorbs the benign growth
        # axis: more corpus -> more trained cells -> O(batch x cells)
        # assignment.
        # best-of-2 like time_probe (r16: the one-shot timing conflated
        # the lane's steady-state flatness claim with first-call codegen
        # /scheduler noise — a loud host read 16 s for a handler whose
        # warm cost is ~2-4 s, 9.4x against a 2x-small+slack budget that
        # is deliberately the probe's tightest). The handler mutates its
        # own fresh tmp index per call, so repetition IS a second full
        # probe — same semantics, warm JVM — and the min measures the
        # per-batch cost the lane actually bounds.
        t_small_v, n_v = vector_ingest_probe(spark, SRC)
        t2_v, _ = vector_ingest_probe(spark, SRC)
        t_small_v = min(t_small_v, t2_v)
        t_big_v, _ = vector_ingest_probe(spark, dst)
        t2_v, _ = vector_ingest_probe(spark, dst)
        t_big_v = min(t_big_v, t2_v)
        budget = LINEAR_ALPHA * t_small_v + SLACK_SEC
        ratio = t_big_v / max(t_small_v, 1e-9)
        ok = t_big_v <= budget
        if not ok:
            failures.append(
                f"vector_ingest: {t_big_v:.1f}s > budget {budget:.1f}s "
                f"(small={t_small_v:.1f}s, ratio={ratio:.1f}x)"
            )
        print(
            f"{'vector_ingest':20s} {t_small_v:8.2f} {t_big_v:8.2f} "
            f"{ratio:5.1f}x  <= {budget:.1f}s {'OK' if ok else 'FAIL'}  "
            f"({t_small_v / n_v * 1e3:.1f} -> {t_big_v / n_v * 1e3:.1f} "
            f"ms/vec, batch={n_v})",
            flush=True,
        )

        # index-maintenance lane (r9, X119): compacting a full-corpus
        # index fragmented by appends — the rewrite is the corpus-sized
        # term, so its time must track index size ~linearly.
        t_small_c, rep_small = index_maintenance_probe(spark, SRC)
        t_big_c, rep_big = index_maintenance_probe(spark, dst)
        budget = LINEAR_ALPHA * args.copies * t_small_c + SLACK_SEC
        ratio = t_big_c / max(t_small_c, 1e-9)
        ok = t_big_c <= budget
        if not ok:
            failures.append(
                f"index_maintenance: {t_big_c:.1f}s > budget {budget:.1f}s "
                f"(small={t_small_c:.1f}s, ratio={ratio:.1f}x)"
            )
        print(
            f"{'index_maintenance':20s} {t_small_c:8.2f} {t_big_c:8.2f} "
            f"{ratio:5.1f}x  <= {budget:.1f}s {'OK' if ok else 'FAIL'}  "
            f"(files {rep_small['files_before']}->{rep_small['files_after']}"
            f" / {rep_big['files_before']}->{rep_big['files_after']})",
            flush=True,
        )

        # soak lane (r13, r12 verdict task #4): one writer thread runs
        # ingest and maintenance on both persisted indexes in sequence
        # while a prober reads them, then the converged invariants.
        # r15 (r14 verdict #1): BOTH regimes per scale — the crash lane
        # additionally asserts >= 1 HEALTHY completed pass and >= 1 kill
        # per seam family inside its own window, so neither regime can
        # silently displace the other. r16 (r15 verdict #2): the
        # 10x/healthy lane is DEEPENED — 12 batch ids (vs 3) and a
        # completed-pass floor of 15, so a silent future shortening fails
        # the lane instead of shrinking the coverage.
        for tag, src_dir in (("small", SRC), ("10x", dst)):
            for regime, rate in (("healthy", 0.0), ("crash", 0.35)):
                lane = f"{tag}/{regime}"
                deep_kw = (
                    {"n_batches": 12, "min_completed": 15,
                     "hard_cap_sec": 600.0}
                    if (tag, regime) == ("10x", "healthy")
                    else {}
                )
                try:
                    t_soak, rep = soak_probe(
                        spark, src_dir, crash_rate=rate, **deep_kw
                    )
                except Exception as ex:  # a crashed lane is a failure
                    failures.append(f"soak[{lane}]: crashed: {ex}")
                    print(f"{'soak_concurrent':20s} [{lane}] CRASH: {ex}",
                          flush=True)
                    continue
                soak_problems = rep.get(
                    "invariant_problems", ["soak did not reach invariants"]
                )
                ok = not soak_problems
                if not ok:
                    failures.extend(
                        f"soak[{lane}]: {p}" for p in soak_problems
                    )
                print(
                    f"{'soak_concurrent':20s} [{lane}] {t_soak:8.1f}s  "
                    f"probes={rep['probes']} maint={rep['maint_passes']}"
                    f"({rep['maint_crashes']} killed) "
                    f"ingest_kills={rep['ingest_crashes']} "
                    f"doc_batches={len(rep['doc_committed'])} "
                    f"vec_batches={len(rep['vec_committed'])} "
                    f"{'OK' if ok else 'FAIL: ' + '; '.join(soak_problems)[:300]}",
                    flush=True,
                )

        print("\n=== SCALE PROBE SUMMARY ===")
        print(f"copies={args.copies} src={SRC} fixture={dst}")
        print(f"failures: {len(failures)}")
        for p in failures:
            print(f"  {p}")
        return 1 if failures else 0
    finally:
        spark.stop()
        if made_tmp:
            shutil.rmtree(dst, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
