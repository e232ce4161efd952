"""The userstream-bridge dataflow and stateful streaming operators.

This module re-expresses the reference's entire event path (SURVEY §2.1
R1-R12, §3.1) as one declarative Structured Streaming pipeline plus reusable
stateful operators. The reference's checkout is empty (SURVEY §0.1), so the
shape follows SURVEY's reconstruction: ingest → JSON decode → event-type
dispatch → per-subscriber filter → legacy-payload reshape → redelivery dedup
→ fan-out, with keep-alive/backpressure as trigger/source options.

Scale: every stage is a narrow transformation except the stream-static
subscription join (broadcast — subscriptions are the small side), the
stateful dedup (state partitioned by event_id hash, bounded by watermark)
and the fan-out's one shuffle by client. The fan-out runs in the JVM:
Spark's partitioned text writer and its file commit, then a driver-side
rename of each client's file, then a batch manifest written last. The
batch-id sinks here (the fan-out, the corpus sink and its reject trail)
share fsio's commit rule: a manifested batch is skipped, an unmanifested
one overwritten.
"""

from __future__ import annotations

import re
from typing import Callable, Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from twitter_event_stream_spark import fsio
from twitter_event_stream_spark.tables import TABLE_SCHEMAS

#: R2 — the wire schema of a raw JSON event line: the declared schema of the
#: batch ``events`` table, so decoded streams union/join with batch tables
#: without an implicit type coercion (``ts`` is TIMESTAMP_NTZ on both).
WIRE_SCHEMA = TABLE_SCHEMAS["events"]


def as_event_time(df: DataFrame, *cols: str) -> DataFrame:
    """Cast NTZ timestamp columns to TIMESTAMP (LTZ) at the watermark
    boundary.

    Spark Structured Streaming hard-requires event-time columns to be
    TIMESTAMP (``EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE`` otherwise), while the
    engine's wire/batch schema is TIMESTAMP_NTZ. The session time zone is
    pinned to UTC (session.py), so this cast relabels the same instant —
    values are bit-identical. Pipelines cast back to NTZ on their output
    columns so stream results schema-match their batch analogs.
    """
    out = df
    for c in cols or ("ts",):
        out = out.withColumn(c, F.col(c).cast("timestamp"))
    return out


def decode_events(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """R2 — bytes/strings → typed columns via from_json with an explicit
    schema (never inferSchema on a stream)."""
    return raw.select(
        F.from_json(F.col(value_col).cast("string"), WIRE_SCHEMA).alias("e")
    ).select("e.*")


#: The wire schema widened with the PERMISSIVE-mode capture column —
#: ``from_json`` only materializes ``columnNameOfCorruptRecord`` when the
#: target schema declares it. The capture column is part of the parse
#: SCHEMA, so a valid event whose JSON happens to carry a same-named
#: top-level field would have that value parsed INTO the column and be
#: misrouted as 'malformed' (producer-controlled false positive) — hence a
#: collision-improbable name instead of the obvious ``_corrupt``.
_CORRUPT_COL = "__tes_corrupt_record__"
DLQ_WIRE_SCHEMA = WIRE_SCHEMA + f", {_CORRUPT_COL} string"


def decode_events_dlq(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """R2 hardened — decode with a dead-letter verdict instead of silent nulls.

    ``from_json`` in PERMISSIVE mode maps an unparseable line to an all-null
    struct, so the plain :func:`decode_events` forwards garbage input as a
    phantom all-null event that the bridge then drops silently (null
    ``event_id`` never matches a subscription). A production ingest needs the
    opposite: keep the raw line, tag it, and route it to a quarantine sink so
    producers can be debugged. This decoder emits the wire columns plus

    - ``raw_value`` — the original line, always preserved;
    - ``reject_reason`` — null for a good event, else one of
      ``malformed`` (not parseable as the wire shape, including a parseable
      line with a type-mismatched field — ``from_json`` captures the raw
      line in the corrupt column for both), ``empty`` (null/absent payload),
      or ``missing_required`` (valid JSON but no ``event_id``/``ts`` — the
      bridge keys redelivery dedup and the watermark on those).

    Split the two streams with :func:`dlq_split`. Everything here is a
    narrow per-row projection — zero shuffle, fully streamable, and the
    reject lane costs nothing when empty.
    """
    parsed = raw.select(
        F.col(value_col).cast("string").alias("raw_value"),
        F.from_json(
            F.col(value_col).cast("string"),
            DLQ_WIRE_SCHEMA,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": _CORRUPT_COL},
        ).alias("e"),
    )
    return (
        parsed.select("raw_value", "e.*")
        .withColumn(
            "reject_reason",
            F.when(F.col("raw_value").isNull(), F.lit("empty"))
            .when(F.col(_CORRUPT_COL).isNotNull(), F.lit("malformed"))
            .when(
                F.col("event_id").isNull() | F.col("ts").isNull(),
                F.lit("missing_required"),
            ),
        )
        .drop(_CORRUPT_COL)
    )


def dlq_split(decoded: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split a :func:`decode_events_dlq` frame into (events, dead_letters).

    ``events`` carries exactly the :data:`WIRE_SCHEMA` columns (drop-in for
    everything downstream of :func:`decode_events`); ``dead_letters`` carries
    (raw_value, reject_reason) for the quarantine sink. Both are filters over
    the same decoded frame, so a streaming source can feed two writeStream
    queries without re-reading."""
    events = decoded.filter(F.col("reject_reason").isNull()).drop(
        "raw_value", "reject_reason"
    )
    dead = decoded.filter(F.col("reject_reason").isNotNull()).select(
        "raw_value", "reject_reason"
    )
    return events, dead


def bridge_pipeline(
    events: DataFrame,
    subscriptions: DataFrame,
    watermark: str = "10 minutes",
) -> DataFrame:
    """R3-R6 + R10: dispatch, subscription filter, legacy reshape, dedup.

    ``subscriptions`` is a static (user_id, client_id) DataFrame — the
    stream-static join (I6) is broadcast. Delete events become tombstone
    records (R10) instead of being dropped. Output is the legacy-shaped
    NDJSON payload column plus routing keys.

    Accepts a BATCH events frame too (backfill/bootstrap-from-history —
    e.g. seeding a new subscriber from the events table): the only
    stream-specific stage is the redelivery dedup, which degrades to a
    whole-history dedup when there is no watermark to bound state by.
    Everything downstream is shared code, so backfill output parity with
    the live stream holds by construction, not by keeping two pipelines in
    sync (pinned in tests). Survivor choice: the stream keeps the FIRST
    ARRIVAL per event_id; the batch branch has no arrival order, so it
    keeps the minimal (ts, user_id, event_type, value, props) row — a
    deterministic pure function of the data rather than
    ``dropDuplicates``'s arbitrary-partition-order pick. When redelivered
    duplicates are byte-identical (the redelivery contract) the two rules
    coincide exactly; when a producer mutates payloads between deliveries,
    batch output is at least REPRODUCIBLE while the stream's depends on
    arrival order.
    """
    if events.isStreaming:
        # R6 — redelivery dedup, state bounded by the watermark.
        deduped = (
            as_event_time(events)
            .withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(["event_id"])
        )
    else:
        from pyspark.sql import Window

        ev = as_event_time(events)
        w = Window.partitionBy("event_id").orderBy(
            "ts", "user_id", "event_type", "value", "props"
        )
        deduped = (
            ev.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    routed = (
        deduped
        # R3 — event-type dispatch: keep the service event kinds, tag class.
        .withColumn(
            "kind",
            F.when(F.col("event_type") == "error", "tombstone").otherwise("event"),
        )
        # R4 — only events for subscribed users (broadcast stream-static join).
        .join(F.broadcast(subscriptions), "user_id")
    )
    # R5 — reshape into the legacy payload format.
    return routed.select(
        "client_id",
        "user_id",
        "kind",
        F.to_json(
            F.struct(
                F.col("event_id").alias("id"),
                F.col("event_type").alias("event"),
                F.col("ts").cast("string").alias("created_at"),
                F.col("value").alias("amount"),
                F.col("props").alias("meta"),
            )
        ).alias("payload"),
        F.col("ts").cast("timestamp_ntz").alias("ts"),
    )


def fanout_foreach_partition(base_dir: str) -> Callable[[DataFrame, int], None]:
    """R9 at scale — demux a micro-batch to per-client streams WITHOUT the
    driver touching a single payload.

    ``repartition(client_id)`` routes each client's rows to exactly one
    task, ``sortWithinPartitions`` restores R11 per-client ordering inside
    the batch (ties on ``ts`` broken by payload, so the file content is a
    pure function of the batch), and Spark's own partitioned text writer
    writes one file per client, all in the JVM. Fan-out bandwidth scales
    with the executor count. Each (client, batch) produces one file named
    by batch id, so concatenating a client's files in name order replays
    its stream in delivery order. Rows whose ``client_id`` is null or
    empty go to no client and are dropped: the partitioned writer would
    put both in its ``__HIVE_DEFAULT_PARTITION__`` directory. The writer
    escapes the id in the directory name (``a/b`` → ``client_id=a%2Fb``),
    so no id can nest or leave ``base_dir``; the manifest carries the raw
    id.

    Commit protocol, fsio's batch-id sink rule in three steps, all through
    the Hadoop FileSystem, so ``base_dir`` may be any path or URI Spark
    writes to:

    1. Spark's file commit: the batch is written to
       ``_staging/batch-<id>`` and each task attempt's output becomes
       visible only when the job commits, so a speculative or zombie
       attempt can never interleave lines.
    2. A driver rename: each client's single ``part-*`` file, found by one
       glob over staging, is renamed to
       ``client_id=<c>/batch-<id>.ndjson`` over any stale file of an
       earlier attempt, and ``_staging`` is deleted (one writer per
       ``base_dir``, batches in sequence).
    3. The manifest: ``_manifests/batch-<id>.json`` — the sorted (client,
       file, bytes) list — is written LAST (:func:`fsio.write_manifest`),
       so its existence certifies the batch is fully published: a crash
       mid-batch leaves staging or data files but no manifest, and
       :func:`manifested_fanout_files` makes those invisible to readers.

    A foreachBatch replay of a manifested batch returns at once, without a
    Spark job; a replay of an unmanifested one overwrites staging and
    every final file. The driver only lists and renames files; payloads
    never leave the executors."""

    def handle(batch: DataFrame, batch_id: int) -> None:
        from urllib.parse import unquote

        spark = batch.sparkSession
        if fsio.is_manifested(spark, base_dir, batch_id):
            return
        staging_root = f"{base_dir}/_staging"
        staging = f"{staging_root}/batch-{batch_id}"
        (
            batch.filter(F.length("client_id") > 0)
            .repartition("client_id")
            .sortWithinPartitions("client_id", "ts", "payload")
            .select("client_id", "payload")
            .write.mode("overwrite")
            # the publish step below relies on both: a stale staging dir
            # is wiped whole, and each client gets exactly one part file
            .option("partitionOverwriteMode", "static")
            .option("maxRecordsPerFile", 0)
            .partitionBy("client_id")
            .text(staging)
        )
        fs, hpath = fsio._fs(spark, base_dir)
        parts: dict[str, object] = {}
        # one glob, not a recursive listFiles: on the local FS that builds
        # a LocatedFileStatus per file, which forks a shell to read its
        # permissions (about 7 ms a file without native Hadoop). Hadoop
        # globs every path component, so the base dir's own glob
        # metacharacters are escaped
        pattern = re.sub(r"([\\*?\[\]{}])", r"\\\1", staging)
        for st in fs.globStatus(hpath(f"{pattern}/client_id=*/part-*")) or []:
            cdir = st.getPath().getParent().getName()
            if cdir in parts:
                raise RuntimeError(
                    f"fan-out batch {batch_id}: several part files for "
                    f"{cdir}, expected one"
                )
            parts[cdir] = st
        name = f"batch-{batch_id:09d}.ndjson"
        entries = []
        for cdir, st in parts.items():
            rel = f"{cdir}/{name}"
            final = hpath(f"{base_dir}/{rel}")
            fs.delete(final, False)  # HDFS renames onto no existing name
            fs.mkdirs(final.getParent())
            if not fs.rename(st.getPath(), final):
                raise IOError(f"fan-out batch {batch_id}: could not publish {rel}")
            entries.append(
                {
                    "client_id": unquote(cdir[len("client_id="):]),
                    "path": rel,
                    "bytes": st.getLen(),
                }
            )
        fs.delete(hpath(staging_root), True)
        fsio.write_manifest(
            spark,
            base_dir,
            batch_id,
            sorted(entries, key=lambda e: (e["client_id"], e["path"])),
        )

    return handle


def manifested_fanout_files(base_dir: str) -> list[dict]:
    """Reader side of the fan-out commit protocol: the (client_id, path,
    bytes) entries of every COMMITTED batch, in batch order — data files
    not covered by a manifest (a crashed batch's partial publish, the
    ``_staging`` dir) are invisible. Manifests written before entries
    carried ``bytes`` carry a row count ``n`` instead; entries are passed
    through as stored. Concatenating one client's paths in this order
    replays its stream in delivery order. Reads through
    :func:`fsio.read_manifests` on the active session, so a retention
    pass (:func:`fsio.consolidate_manifests`) is invisible here too."""
    from pyspark.sql import SparkSession

    return [
        e
        for m in fsio.read_manifests(SparkSession.active(), base_dir)
        for e in m["files"]
    ]


def windowed_counts(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """I1+I4 — watermarked tumbling-window aggregation (streaming form of
    q_window_tumbling); late rows beyond the watermark are dropped."""
    return (
        as_event_time(events).withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("bucket_ts"),
            "n_events",
        )
    )


def running_user_counters(events: DataFrame) -> DataFrame:
    """I8 — arbitrary keyed state via applyInPandasWithState: per-user
    running event count + value sum (the reference's per-connection state
    R6/R7 analog). State lives in the state store, keyed by user_id."""

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, sum_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )



def running_ewma(events: DataFrame, alpha: float = 0.25) -> DataFrame:
    """I8/X65 — streaming EWMA: the batch HOF fold (`q_ewma`,
    operators/scale_ops.py) run incrementally. The state store holds one
    (ewma, n) pair per key; each micro-batch sorts its rows into
    (ts, event_id) order and continues the fold from the carried value —
    the same IEEE op sequence as the batch `aggregate(...)`, so over an
    in-order replay the final streamed value equals the batch result
    bit-for-bit (asserted in tests). This is the batch/stream duality the
    engine aims for: one smoothing definition, two execution modes, state
    bounded at one double per key."""

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        if state.exists:
            cur, n = state.get
            has = True
        else:
            cur, n, has = 0.0, 0, False
        batch = pd.concat(list(pdfs), ignore_index=True)
        if len(batch):
            batch = batch.sort_values(["ts", "event_id"])
            for v in batch["value"]:
                if not has:
                    cur, has = float(v), True
                else:
                    cur = alpha * float(v) + (1.0 - alpha) * cur
                n += 1
        state.update((cur, n))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "ewma": [cur]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, ewma double",
        stateStructType="ewma double, n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def session_counts(events: DataFrame, gap: str = "30 minutes",
                   watermark: str = "10 minutes") -> DataFrame:
    """I3 streaming form — watermarked session-window aggregation per user:
    the state store *merges* adjacent session windows as events arrive
    (unlike fixed windows, a session's bounds move), and the watermark both
    finalizes sessions and bounds state."""
    return (
        as_event_time(events).withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").cast("timestamp_ntz").alias("session_start"),
            "user_id",
            "n_events",
        )
    )


def curation_stream(
    events: DataFrame,
    watermark: str = "10 minutes",
    min_payload_chars: int = 1,
) -> DataFrame:
    """Streaming corpus curation — the batch X85/X95 passes composed onto
    the event stream: watermarked redelivery dedup, PII scrub of the
    payload column (same RE2∩Java regexes as `q_pii_scrub`, so batch and
    stream scrub identically), and a minimal quality gate. Everything
    after the dedup is a narrow per-row transform, so the stage runs at
    source parallelism on any cluster; output `ts` is cast back to NTZ to
    schema-match the batch tables (see `as_event_time`)."""
    from twitter_event_stream_spark.operators.curation_extra import (
        _EMAIL,
        _IPV4,
        _PHONE,
    )

    # NULL-safe: a NULL payload normalizes to '' BEFORE scrub/gate, so the
    # quality gate decides its fate (min_payload_chars=0 keeps it) instead
    # of a three-valued NULL >= n predicate silently dropping it.
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.coalesce(F.col("props"), F.lit("")), _EMAIL, "<EMAIL>"
            ),
            _IPV4,
            "<IP>",
        ),
        _PHONE,
        "<PHONE>",
    )
    return (
        as_event_time(events)
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
        .withColumn("props", scrubbed)
        .filter(F.length("props") >= min_payload_chars)
        .withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    )


#: Band-row count above which the ingest gate's two joins drop their
#: broadcast hints (r9 verdict nit): band rows are ~32 B each, so 2M rows
#: ≈ 64 MB shipped to EVERY executor — fine for micro-batches (a 4
#: files/trigger batch is ~10-100k docs = 40-400k band rows), unsafe for a
#: "daily drop" routed through the handler directly. Past the threshold
#: both gates fall back to shuffle joins (AQE picks the strategy), same
#: verdicts; for genuinely drop-scale one-shot dedup, prefer the unbatched
#: machinery (simhash_banded_pairs + dedup_against_index) which never
#: assumes the input is the small side.
BROADCAST_MAX_BAND_ROWS = 2_000_000


def dedup_ingest_batch(
    index_path: str,
    out_dir: str,
    max_hamming: int = 3,
    broadcast_max_band_rows: int = BROADCAST_MAX_BAND_ROWS,
) -> Callable[[DataFrame, int], None]:
    """Per-micro-batch body of :func:`dedup_ingest_stream`, factored to
    module level (like ``fanout_foreach_partition``) so the crash-replay
    contract is directly testable: calling the handler twice with the same
    (batch, batch_id) — the at-least-once retry after a crash between the
    index append and the checkpoint commit — must republish the identical
    survivor set.

    Per batch, exactly once per document ever, the 64-bit SimHash
    signature is computed and exploded into band rows; those SAME rows
    then feed all three uses (r8 ADVICE — no recompute):

    1. **Intra-batch gate** — banded self-join of the batch against
       itself: a doc is suppressed when some batch peer with a SMALLER
       doc_id is within ``max_hamming``. Deterministic and batch-order
       free; the published survivors of one batch are pairwise more than
       ``max_hamming`` apart (banded recall is pigeonhole-exact, so a
       surviving pair at <= max_hamming would have been a candidate).
       This is deliberately a pairwise gate, not connected-components
       canonicalization: it mirrors what ``dedup_against_index`` does with
       the index side (is ANY already-accepted doc near me?), with
       "already accepted" = smaller-id peers of the same batch.
    2. **Index gate** — broadcast band join against the persisted index
       via ``dedup_against_index(band_rows=...)``; self-identity matches
       (a replayed batch finding its own appended rows) are excluded
       there, which is what closes the replay window.
    3. **Index append** — the survivors' band rows append via
       ``write_band_rows``; no re-tokenize, no re-vote.

    Rejected docs are not silently dropped: every gated doc gets one row
    in ``out_dir/_rejects/batch=<id>`` — (doc_id, dup_of, hamming, reason;
    the underscore keeps the audit trail out of recursive corpus reads)
    with the minimal (hamming, dup_of) verdict across BOTH gates and
    ``reason`` derived from whether ``dup_of`` is a batch-mate
    (``intra_batch``) or prior corpus (``index_dup``). That derivation
    makes the audit trail replay-STABLE: after a crash-retry the
    suppressing batch-mate is also in the index, but its membership in
    the batch, not where it was found, decides the label. The audit
    trail is what a curator reviews before trusting the gate — which
    boilerplate got collapsed, at what distance, onto which survivor.

    Broadcastability: both gates broadcast the batch's band rows, which is
    the right shape for micro-batches; past ``broadcast_max_band_rows``
    (see :data:`BROADCAST_MAX_BAND_ROWS`) the handler falls back to
    shuffle joins with identical verdicts. For a drop-scale one-shot
    dedup, route through ``simhash_banded_pairs`` +
    ``dedup_against_index(broadcast=False)`` instead of this per-batch
    handler.

    Replay safety follows fsio's batch-id sink rule. A replay of a
    manifested batch returns at once, without a Spark job. A replay of an
    unmanifested batch — a crash after the index append, before the
    manifest — overwrites ``out_dir/batch=<id>`` and its reject dir with a
    plain ``mode("overwrite")`` (no reader sees an unmanifested dir), and
    its index append is absorbed by the self-identity filter (a doc's own
    appended rows never gate it) and the ``already_indexed`` anti-join
    (nothing is appended twice). Pinned by tests/test_streaming.py's
    replay test.

    The handler writes the index, so index maintenance runs between its
    calls, never during one (single-writer contract, fsio module
    docstring).
    """
    from twitter_event_stream_spark.operators.corpus_full import (
        _simhash_band_rows,
        dedup_against_index,
        simhash64,
        write_band_rows,
    )

    if max_hamming >= 4:
        # fail at handler CONSTRUCTION, not first micro-batch: both gates
        # run over the 4x16-bit banding, whose pigeonhole-exact recall
        # stops at radius 3 — a larger radius would silently publish
        # near-dups whose differing bits touch all four bands
        raise ValueError(
            "ingest gate uses 4 bands: exact recall needs max_hamming < 4 "
            f"(got {max_hamming})"
        )

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if fsio.is_manifested(spark, out_dir, batch_id):
            return
        # construct the plan BEFORE caching anything: simhash64's analysis
        # can raise (e.g. schema drift), and a persist taken outside the
        # try/finally that unpersists it would leak the cached frame for
        # the session (the same r10 ADVICE shape fixed for survivors/uniq)
        rows = _simhash_band_rows(simhash64(batch_df))
        try:
            batch_df.persist()
            rows.persist()
            # broadcastability contract (r9 verdict nit): the batch side of
            # both gates ships to every executor — guard on the band-row
            # count (materializes the persist we need anyway) and fall back
            # to shuffle joins for drop-scale batches instead of blowing
            # the broadcast limit
            bcast = rows.count() <= broadcast_max_band_rows
            lft = rows.select(
                F.col("doc_id").alias("n_id"),
                F.col("sig").alias("n_sig"),
                "band",
                "val",
            )
            rgt = rows.select(
                F.col("doc_id").alias("c_id"),
                F.col("sig").alias("c_sig"),
                "band",
                "val",
            )
            intra = (
                lft.join(F.broadcast(rgt) if bcast else rgt, ["band", "val"])
                .filter(F.col("c_id") < F.col("n_id"))
                .withColumn(
                    "hamming",
                    F.bit_count(F.col("n_sig").bitwiseXOR(F.col("c_sig"))),
                )
                .filter(F.col("hamming") <= max_hamming)
                .groupBy("n_id")
                .agg(F.min(F.struct("hamming", "c_id")).alias("m"))
                .select(
                    F.col("n_id").alias("doc_id"),
                    F.col("m.c_id").alias("dup_of"),
                    F.col("m.hamming").alias("hamming"),
                )
            )
            suppressed = intra.select("doc_id")
            verdicts = dedup_against_index(
                spark,
                batch_df,
                index_path,
                max_hamming,
                band_rows=rows,
                broadcast=bcast,
                include_already_indexed=True,
            )
            survivors = (
                verdicts.filter(F.col("dup_of").isNull())
                .select("doc_id", "already_indexed")
                .join(suppressed, "doc_id", "left_anti")
            )
            uniq = batch_df.join(survivors.select("doc_id"), "doc_id")
            try:
                # persists INSIDE the try whose finally unpersists them —
                # an exception between persist and the try body must not
                # leak the cached frames for the session (r10 ADVICE);
                # unpersist on a never-persisted frame is a no-op
                survivors.persist()
                uniq.persist()
                # audit trail: one minimal (hamming, dup_of) verdict per
                # rejected doc across BOTH gates; reason by batch
                # membership of the survivor, so replays relabel nothing
                batch_ids = rows.select("doc_id").distinct()
                rejects = (
                    verdicts.filter(F.col("dup_of").isNotNull())
                    .select("doc_id", "dup_of", "hamming")
                    .unionByName(intra)
                    .groupBy("doc_id")
                    .agg(F.min(F.struct("hamming", "dup_of")).alias("m"))
                    .select(
                        "doc_id",
                        F.col("m.dup_of").alias("dup_of"),
                        F.col("m.hamming").alias("hamming"),
                    )
                    .join(
                        F.broadcast(
                            batch_ids.select(
                                F.col("doc_id").alias("dup_of")
                            ).withColumn("_in_batch", F.lit(1))
                        ),
                        "dup_of",
                        "left",
                    )
                    .select(
                        "doc_id",
                        "dup_of",
                        "hamming",
                        F.when(F.col("_in_batch") == 1, F.lit("intra_batch"))
                        .otherwise(F.lit("index_dup"))
                        .alias("reason"),
                    )
                )
                _write_batch_dir(rejects, f"{out_dir}/_rejects/batch={batch_id}")
                _write_batch_dir(uniq, f"{out_dir}/batch={batch_id}")
                # append only rows the index does not already hold: on an
                # at-least-once replay after a crash between the append and
                # the manifest, every survivor is already_indexed and this
                # appends NOTHING — the index is byte-stable under replay
                # (r10; before, each crash loop duplicated the survivors'
                # band rows — verdict-harmless via the min-agg, but the
                # index grew on every retry), pinned by the hypothesis
                # commit-protocol test
                write_band_rows(
                    rows.join(
                        survivors.filter(~F.col("already_indexed")).select(
                            "doc_id"
                        ),
                        "doc_id",
                    ),
                    index_path,
                    mode="append",
                )
                # manifest LAST: its presence certifies publish + append
                # both committed — read_ingested skips unmanifested batches
                fsio.write_manifest(spark, out_dir, batch_id)
            finally:
                uniq.unpersist()
                survivors.unpersist()
        finally:
            rows.unpersist()
            batch_df.unpersist()

    return _ingest


def _write_batch_dir(df: DataFrame, path: str) -> None:
    """Write one unmanifested batch dir of the corpus sink, over whatever
    an earlier attempt left there."""
    df.write.mode("overwrite").parquet(path)


def read_ingested(spark, out_dir: str) -> DataFrame:
    """Reader side of the X116 commit protocol: the union of every
    COMMITTED ingest batch — only ``batch=<id>`` directories whose
    manifest exists are read, so a crash that left a partial parquet
    directory (or a publish whose index append never committed) is
    invisible until its replay completes. Raises if nothing has been
    committed yet (no schema to fabricate an empty frame from)."""
    dirs = [
        f"{out_dir}/batch={bid}" for bid in fsio.manifested_batch_ids(spark, out_dir)
    ]
    if not dirs:
        raise ValueError(f"no committed ingest batches under {out_dir}")
    return spark.read.parquet(*dirs)


def _newest_consolidated_rejects(spark, out_dir: str) -> tuple[int, str | None]:
    """(through, dir) of the newest ``_rejects/consolidated-<through>`` dir
    a retention pass produced, or (-1, None). Only the newest is
    authoritative — each compaction folds every older one — so readers
    skip older consolidated dirs and any per-batch dir at id <= through
    (a crash-replay may recreate one whose rows the consolidation already
    holds)."""
    rej = f"{out_dir}/_rejects"
    fs, hpath = fsio._fs(spark, rej)
    through, cons_dir = -1, None
    if fs.exists(hpath(rej)):
        for st in fs.listStatus(hpath(rej)):
            name = st.getPath().getName()
            if name.startswith("consolidated-"):
                t = int(name[len("consolidated-"):])
                if t > through:
                    through, cons_dir = t, f"{rej}/{name}"
    return through, cons_dir


def read_ingest_rejects(spark, out_dir: str) -> DataFrame:
    """The gate's audit trail for COMMITTED batches: one (doc_id, dup_of,
    hamming, reason) row per rejected doc, same manifest rule as
    :func:`read_ingested` — a replayed-but-uncommitted batch's rejects are
    invisible until its replay completes. ``reason`` is ``intra_batch``
    (collapsed onto a batch-mate) or ``index_dup`` (matched the prior
    corpus); a batch with zero rejects contributes an empty typed dir.
    After a retention pass (:func:`compact_rejects`) the old batches' rows
    come from the newest consolidated dir instead — same rows, fewer
    files."""
    ids = fsio.manifested_batch_ids(spark, out_dir)
    if not ids:
        raise ValueError(f"no committed ingest batches under {out_dir}")
    through, cons_dir = _newest_consolidated_rejects(spark, out_dir)
    dirs = ([cons_dir] if cons_dir else []) + [
        f"{out_dir}/_rejects/batch={bid}" for bid in ids if bid > through
    ]
    return spark.read.parquet(*dirs)


def compact_rejects(spark, out_dir: str, keep_last: int = 8) -> dict:
    """Retention pass for the ``_rejects`` bookkeeping tree (r9 verdict
    "What's missing" #5): every committed batch leaves a ``batch=<id>``
    dir (often tiny or empty), so a long-running ingest accretes thousands
    of small dirs the way the manifests do. Fold the reject rows of every
    committed batch older than the newest ``keep_last`` — plus any older
    consolidated dir — into ONE ``consolidated-<through>`` parquet dir
    (same schema, few files), then delete the folded dirs.
    :func:`read_ingest_rejects` sees the identical row multiset before and
    after (pinned by test).

    Crash-safe in the X119 style: the consolidated dir gets a fresh name
    each time, so it is published by one staged write plus one checked
    rename FIRST; a crash before the deletes leaves per-batch dirs at id
    <= through that every reader already skips, and a re-run finishes the
    cleanup (and drops a crashed run's staging dir). The newest
    ``keep_last >= 1`` batches are never folded, so a replayable batch
    keeps its own dir. Run it on the same maintenance cadence as
    :func:`~twitter_event_stream_spark.fsio.consolidate_manifests` (the
    manifests themselves stay per-batch unless that pass also runs — the
    two are independent).

    Like every maintenance op it runs between ingest batches
    (single-writer contract, fsio module docstring).

    Returns ``{"folded", "through", "files_before", "files_after"}``."""
    import uuid

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    rej = f"{out_dir}/_rejects"
    fs, hpath = fsio._fs(spark, rej)
    if not fs.exists(hpath(rej)):
        return {
            "folded": 0,
            "through": None,
            "files_before": 0,
            "files_after": 0,
        }
    files_before = fsio.data_file_count(spark, rej)
    ids = fsio.manifested_batch_ids(spark, out_dir)
    through, cons_dir = _newest_consolidated_rejects(spark, out_dir)
    fold_ids = [i for i in sorted(ids)[:-keep_last] if i > through]
    new_through = max([through] + fold_ids)
    if fold_ids:
        srcs = ([cons_dir] if cons_dir else []) + [
            f"{rej}/batch={i}" for i in fold_ids
        ]
        final = f"{rej}/consolidated-{new_through:09d}"
        tmp = f"{rej}/.tmp-consolidated-{uuid.uuid4().hex}"
        spark.read.parquet(*srcs).coalesce(4).write.parquet(tmp)
        if not fs.rename(hpath(tmp), hpath(final)):
            raise IOError(f"could not publish {final}")
    # cleanup (also finishes a crashed prior run): folded batch dirs, stale
    # replay-recreated batch dirs at or below the new through, every
    # non-newest consolidated dir and any crashed run's staging dir
    for st in fs.listStatus(hpath(rej)):
        name = st.getPath().getName()
        if (
            (name.startswith("batch=") and int(name[6:]) <= new_through)
            or (
                name.startswith("consolidated-")
                and int(name[len("consolidated-"):]) < new_through
            )
            or name.startswith(".tmp-")
        ):
            fs.delete(st.getPath(), True)
    return {
        "folded": len(fold_ids),
        "through": new_through if new_through >= 0 else None,
        "files_before": files_before,
        "files_after": fsio.data_file_count(spark, rej),
    }


def dedup_ingest_stream(
    docs_stream: DataFrame,
    index_path: str,
    out_dir: str,
    checkpoint: str,
    max_hamming: int = 3,
):
    """Streaming corpus ingestion gated by the persisted incremental dedup
    index (X115 composed onto Structured Streaming): every micro-batch of
    incoming documents is first deduped WITHIN the batch (smallest doc_id
    survives among mutual near-dups), then against the index; only the
    surviving unique docs are published to the corpus sink, and their band
    keys are appended to the index — so later micro-batches AND later
    streaming runs see everything ingested before them. This is the
    ingest-time near-dup gate a training-corpus pipeline runs
    continuously; signatures are computed once per document ever (the
    index carries the corpus's, the batch's feed gate and append alike)
    and the per-batch work is the broadcast band joins of
    :func:`dedup_ingest_batch`, where the per-batch semantics — including
    crash-replay safety — are documented and pinned.

    Returns the started query (caller awaits termination); drain with
    ``trigger(availableNow=True)`` semantics — the trigger is set here.
    The process running this query is the index's only writer: run
    maintenance (compaction, reject/manifest retention) after the drain
    terminates, never beside it (single-writer contract, fsio module
    docstring).
    """
    return (
        docs_stream.writeStream.foreachBatch(
            dedup_ingest_batch(index_path, out_dir, max_hamming)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def vector_ingest_batch(index_path: str) -> Callable[[DataFrame, int], None]:
    """X123 — per-micro-batch handler growing a persisted IVF index (X114)
    from a stream, the vector twin of :func:`dedup_ingest_batch`: each
    batch goes through ``vector_search.append_ivf_index``, which assigns
    it against the STORED centroids (quantizer frozen), drops vectors the
    touched cells already hold, and appends the rest into the live
    version's ``cells``. A batch is visible once that append job commits,
    as in the SimHash index. foreachBatch is at-least-once, and the
    append's anti-join makes a replay — after a crash before, during or
    after the append — add only what the first attempt did not, so no
    vector is ever visible twice. A batch that assigns to nothing (empty,
    or all embeddings null) writes nothing. Maintenance runs between the
    handler's calls, never during one (single-writer contract, fsio module
    docstring)."""

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        from twitter_event_stream_spark.operators.vector_search import (
            append_ivf_index,
        )

        append_ivf_index(batch_df.sparkSession, batch_df, index_path)

    return _ingest


def vector_ingest_stream(
    vectors_stream: DataFrame, index_path: str, checkpoint: str
):
    """X123 — streaming vector ingestion into a persisted IVF index: every
    micro-batch of (vec_id, embedding) rows is appended into the index's
    cells and is probe-visible once its append commits. Returns the
    started availableNow query (caller awaits termination). Semantics —
    assignment, replay safety — live on :func:`vector_ingest_batch`. Run
    the maintenance passes (compaction, rebuild) after the drain
    terminates, in the same process (single-writer contract, fsio module
    docstring)."""
    return (
        vectors_stream.writeStream.foreachBatch(vector_ingest_batch(index_path))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
