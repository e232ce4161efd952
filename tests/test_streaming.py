"""Streaming behavior tests (SURVEY §5.2.4 — INFRA contract rows).

Deterministic replay via the chunked file source + availableNow triggers:
(a) batch/stream parity for windowed aggs and dedup, (b) watermark late-data
handling, (c) checkpoint recovery / exactly-once, (d) fan-out demux, (e)
keyed state, (f) rate source / memory sink smoke.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from conftest import jvm_reaped_ticks, spark_jobs
from twitter_event_stream_spark.streaming.pipelines import (
    WIRE_SCHEMA,
    as_event_time,
    bridge_pipeline,
    decode_events,
    fanout_foreach_partition,
    manifested_fanout_files,
    running_user_counters,
    windowed_counts,
)
from twitter_event_stream_spark.streaming.replay import (
    replay_stream,
    run_available_now,
    write_replay_chunks,
)
from twitter_event_stream_spark.tables import table


@pytest.fixture(scope="module")
def chunk_dir(spark, sf_dir):
    d = tempfile.mkdtemp(prefix="tes_replay_")
    write_replay_chunks(spark, sf_dir, d, n_chunks=10)
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def late_chunk_dir(spark, sf_dir):
    d = tempfile.mkdtemp(prefix="tes_replay_late_")
    write_replay_chunks(spark, sf_dir, d, n_chunks=10, late_rows=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _drain(spark, stream_df, name, output_mode="append"):
    ckpt = tempfile.mkdtemp(prefix=f"tes_ckpt_{name}_")
    q = run_available_now(stream_df, name, ckpt, output_mode)
    q.awaitTermination(120)
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    shutil.rmtree(ckpt, ignore_errors=True)
    return rows


def test_stream_batch_parity_tumbling(spark, sf_dir, chunk_dir):
    """I1/I4: streaming windowed agg over ordered replay == batch result
    (append mode only emits windows the watermark has passed; the final
    window needs a complete-mode or update comparison — compare the common
    prefix, which must match exactly)."""
    stream = replay_stream(spark, chunk_dir)
    got = {r.bucket_ts: r.n_events for r in _drain(spark, windowed_counts(stream), "t_tumb")}
    batch = (
        table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").alias("bucket_ts"), "n_events")
        .collect()
    )
    expected = {r.bucket_ts: r.n_events for r in batch}
    assert got, "stream emitted no finalized windows"
    # Every finalized streaming window must equal the batch value.
    for bucket, n in got.items():
        assert expected[bucket] == n
    # All but the trailing (unclosed-at-watermark) windows must be emitted.
    missing = set(expected) - set(got)
    assert len(missing) <= 2, f"too many unemitted windows: {sorted(missing)[:5]}"


def test_stream_dedup_within_watermark(spark, sf_dir, late_chunk_dir):
    """I5: the late fixture re-emits ~1% of rows two chunks later (~6 days
    of event time); with a 15-day watermark the duplicates are inside the
    dedup state horizon and must all be removed."""
    stream = as_event_time(replay_stream(spark, late_chunk_dir)).withWatermark(
        "ts", "15 days"
    )
    rows = _drain(
        spark,
        stream.dropDuplicatesWithinWatermark(["event_id"]).select("event_id"),
        "t_dedup",
    )
    n_batch = table(spark, sf_dir, "events").count()
    ids = [r.event_id for r in rows]
    assert len(ids) == len(set(ids)) == n_batch


def test_stream_watermark_drops_late(spark, sf_dir, late_chunk_dir):
    """I4: with a tight watermark, the late re-emissions (one chunk ≈ 3 days
    of event time at sf0.001) arrive beyond it; totals must stay at the
    batch count per window — duplicates dropped as *late*, not merely as
    duplicates (no dedup operator in this query)."""
    stream = replay_stream(spark, late_chunk_dir)
    emitted = _drain(spark, windowed_counts(stream, watermark="1 minute"), "t_late")
    buckets = [r.bucket_ts for r in emitted]
    assert len(buckets) == len(set(buckets)), "window emitted twice (late row re-opened evicted state)"
    got = {r.bucket_ts: r.n_events for r in emitted}
    batch = (
        table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("bucket_ts"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    )
    expected = {r.bucket_ts: r.n_events for r in batch}
    assert got
    for bucket, n in got.items():
        assert expected[bucket] == n, f"late duplicates leaked into {bucket}"


def test_checkpoint_recovery_exactly_once(spark, sf_dir, chunk_dir):
    """I10 + §3.3(4) + A2: restart from the same checkpoint into the same
    fault-tolerant (parquet file) sink must not duplicate committed rows —
    exactly-once = replayable source + WAL + idempotent sink. (The memory
    sink deliberately does NOT support recovery; the file sink does.)"""
    ckpt = tempfile.mkdtemp(prefix="tes_ckpt_recov_")
    out = tempfile.mkdtemp(prefix="tes_out_recov_")

    def start():
        return (
            replay_stream(spark, chunk_dir)
            .select("event_id")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    start().awaitTermination(120)
    n_first = spark.read.parquet(out).count()
    start().awaitTermination(120)  # restart: no new input → no new output
    n_second = spark.read.parquet(out).count()
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    assert n_first == table(spark, sf_dir, "events").count()
    assert n_second == n_first, "restart from checkpoint duplicated committed rows"


def fanout_foreach_batch(sinks: dict[str, list]):
    """R9 test double — one ingest query demuxed to N per-client buffers
    via foreachBatch. ``sinks`` maps client_id → list collecting payloads.

    It collects every micro-batch to the driver so tests can assert on
    in-memory buffers; the deployable form is ``fanout_foreach_partition``,
    which keeps payloads on the executors."""

    def handle(batch, batch_id: int) -> None:
        for row in batch.orderBy("ts", "payload").collect():  # R11 ordering
            sinks.setdefault(row.client_id, []).append(row.payload)

    return handle


def test_bridge_pipeline_fanout(spark, sf_dir, chunk_dir):
    """R1-R11 end-to-end: replayed ingest → bridge (dedup, dispatch,
    subscription join, legacy reshape) → foreachBatch fan-out. Per-client
    payload counts must equal the batch-side expectation."""
    subs = spark.createDataFrame(
        [(u, f"client_{u % 3}") for u in range(0, 10)], "user_id long, client_id string"
    )
    stream = replay_stream(spark, chunk_dir, files_per_trigger=3)
    bridged = bridge_pipeline(stream, subs)
    sinks: dict[str, list] = {}
    ckpt = tempfile.mkdtemp(prefix="tes_ckpt_bridge_")
    q = (
        bridged.writeStream.foreachBatch(fanout_foreach_batch(sinks))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    shutil.rmtree(ckpt, ignore_errors=True)
    ev = table(spark, sf_dir, "events")
    got = {c: len(p) for c, p in sinks.items()}
    want: dict[str, int] = {}
    for row in (
        ev.filter(F.col("user_id") < 10).groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    ):
        want[f"client_{row.user_id % 3}"] = want.get(f"client_{row.user_id % 3}", 0) + row.n
    assert got == want
    # R5: payloads are legacy-shaped JSON.
    sample = next(iter(sinks.values()))[0]
    assert '"event"' in sample and '"created_at"' in sample


def test_bridge_pipeline_fanout_partitioned(spark, sf_dir, chunk_dir):
    """R9 scale path: the foreachPartition demux must deliver exactly the
    same per-client payload multiset as the collect-based double, with
    per-client delivery order (batch file name order, ts within file)
    non-decreasing — and no payload ever crossing the driver."""
    import json
    import os

    subs = spark.createDataFrame(
        [(u, f"client_{u % 3}") for u in range(0, 10)], "user_id long, client_id string"
    )
    stream = replay_stream(spark, chunk_dir, files_per_trigger=3)
    bridged = bridge_pipeline(stream, subs)
    out = tempfile.mkdtemp(prefix="tes_fanout_part_")
    ckpt = tempfile.mkdtemp(prefix="tes_ckpt_fanout_part_")
    q = (
        bridged.writeStream.foreachBatch(fanout_foreach_partition(out))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    shutil.rmtree(ckpt, ignore_errors=True)

    got: dict[str, list[str]] = {}
    for client_dir in sorted(os.listdir(out)):
        if not client_dir.startswith("client_id="):
            continue  # _manifests (r9 commit protocol)
        client = client_dir.split("=", 1)[1]
        payloads: list[str] = []
        cdir = os.path.join(out, client_dir)
        for fname in sorted(os.listdir(cdir)):  # batch id order == delivery order
            with open(os.path.join(cdir, fname), encoding="utf-8") as f:
                batch_payloads = [line.rstrip("\n") for line in f]
            created = [json.loads(p)["created_at"] for p in batch_payloads]
            assert created == sorted(created), "R11: ts order broken within a batch"
            payloads.extend(batch_payloads)
        got[client] = payloads
    shutil.rmtree(out, ignore_errors=True)

    ev = table(spark, sf_dir, "events")
    want: dict[str, int] = {}
    for row in (
        ev.filter(F.col("user_id") < 10)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ):
        want[f"client_{row.user_id % 3}"] = want.get(f"client_{row.user_id % 3}", 0) + row.n
    assert {c: len(p) for c, p in got.items()} == want
    sample = next(iter(got.values()))[0]
    assert '"event"' in sample and '"created_at"' in sample


def test_bridge_drain_forks_no_process(spark, chunk_dir, tmp_path_factory):
    """Per-batch fork pin: a drain of the bridge (replay → bridge_pipeline
    → fan-out) reaps no child of the driver JVM. Every Hadoop create on
    the path (offset and commit logs, state-store deltas, the writer's part
    files and ``.crc`` files, the job commit, the manifest) sets its
    permission through the engine's ``file:`` FileSystem instead of a
    forked ``chmod``; on the stock local FS the JVM reaped about 50 ticks
    of children over this drain."""
    import os

    base = str(tmp_path_factory.mktemp("bridge_forks"))
    out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
    subs = spark.createDataFrame(
        [(u, f"client_{u % 3}") for u in range(10)], "user_id long, client_id string"
    )
    before = jvm_reaped_ticks(spark)
    q = (
        bridge_pipeline(replay_stream(spark, chunk_dir, files_per_trigger=3), subs)
        .writeStream.foreachBatch(fanout_foreach_partition(out))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert jvm_reaped_ticks(spark) - before == 0
    assert len([p for p in q.recentProgress if p.numInputRows]) == 4
    assert manifested_fanout_files(out)


def test_bridge_dedup_state_survives_restart(spark, tmp_path_factory):
    """R6 across a restart: the bridge's dedup state is rebuilt from the
    checkpoint's delta files, so an event redelivered after a restart is
    not delivered again. First run: three one-file batches through
    `bridge_pipeline` → `fanout_foreach_partition`, then the query stops.
    Second run, same checkpoint and fan-out dir: a new file holding new
    events plus a byte-identical copy of an event from the first run.
    Every event reaches its client exactly once. All event times lie within
    the 10-minute watermark, so only the restored state can drop the copy."""
    import datetime
    import json
    import os

    base = str(tmp_path_factory.mktemp("bridge_restart"))
    src, ckpt, out = (os.path.join(base, d) for d in ("src", "ckpt", "out"))
    t0 = datetime.datetime(2024, 1, 1)

    def event(i):
        return (i, t0 + datetime.timedelta(seconds=i), i % 6, "click", float(i), None)

    def write_chunk(n, rows):
        spark.createDataFrame(rows, WIRE_SCHEMA).coalesce(1).write.parquet(
            os.path.join(src, f"chunk={n:03d}")
        )

    def run():
        q = (
            bridge_pipeline(replay_stream(spark, src), subs)
            .writeStream.foreachBatch(fanout_foreach_partition(out))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return q

    subs = spark.createDataFrame(
        [(u, f"client_{u % 3}") for u in range(6)], "user_id long, client_id string"
    )
    for n in range(3):
        write_chunk(n, [event(i) for i in range(n * 20, n * 20 + 20)])
    first = run()
    assert [p.numInputRows for p in first.recentProgress][:3] == [20, 20, 20]

    redelivered = event(25)
    write_chunk(3, [event(i) for i in range(60, 80)] + [redelivered])
    second = run()
    data_batches = [p for p in second.recentProgress if p.numInputRows]
    assert [p.numInputRows for p in data_batches] == [21]
    assert data_batches[0].batchId == first.lastProgress.batchId + 1, (
        "restart did not resume the checkpoint"
    )

    ids: dict[int, int] = {}
    for e in manifested_fanout_files(out):
        with open(os.path.join(out, e["path"]), encoding="utf-8") as f:
            for line in f:
                payload = json.loads(line)
                assert e["client_id"] == f"client_{payload['id'] % 6 % 3}"
                ids[payload["id"]] = ids.get(payload["id"], 0) + 1
    assert ids == {i: 1 for i in range(80)}, "redelivered event reached a client twice"
    # the restored state lives in checksummed delta files
    state = os.path.join(ckpt, "state", "0")
    deltas = [
        os.path.join(root, f)
        for root, _dirs, files in os.walk(state)
        for f in files
        if f.endswith(".delta")
    ]
    assert deltas
    assert all(os.path.exists(d + ".crc") for d in deltas)


def test_decode_events_roundtrip(spark, sf_dir):
    """R2: NDJSON wire format → typed stream columns via explicit schema."""
    ev = table(spark, sf_dir, "events")
    wire = ev.select(F.to_json(F.struct(*ev.columns)).alias("value"))
    decoded = decode_events(wire)
    assert decoded.schema.simpleString() == ev.schema.simpleString()
    assert decoded.count() == ev.count()


def test_running_user_counters_state(spark, sf_dir, chunk_dir):
    """I8: applyInPandasWithState running counters; the *final* update per
    user must equal the batch per-user aggregate."""
    stream = replay_stream(spark, chunk_dir, files_per_trigger=5)
    rows = _drain(spark, running_user_counters(stream), "t_state", output_mode="update")
    final: dict[int, tuple] = {}
    for r in rows:  # memory sink holds one row per (user, trigger); keep max
        cur = final.get(r.user_id)
        if cur is None or r.n_events > cur[0]:
            final[r.user_id] = (r.n_events, r.sum_value)
    batch = {
        r.user_id: (r.n, r.s)
        for r in table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert set(final) == set(batch)
    for uid, (n, s) in final.items():
        assert batch[uid][0] == n
        assert abs(batch[uid][1] - s) < 1e-6


def test_rate_source_smoke(spark):
    """A4: synthetic rate source produces rows under availableNow-like
    bounded consumption."""
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 50).load()
    )
    ckpt = tempfile.mkdtemp(prefix="tes_ckpt_rate_")
    q = (
        stream.writeStream.format("memory")
        .queryName("t_rate")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        import time

        time.sleep(2)
        q.processAllAvailable()
        n = spark.sql("SELECT count(*) n FROM t_rate").collect()[0].n
        assert n >= 0  # source wired; row arrival is timing-dependent
    finally:
        q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)


def test_stream_stream_interval_join(spark, sf_dir, chunk_dir):
    """I7 — watermark-bounded stream-stream join: clicks ⋈ purchases within
    5 minutes per user, both sides streaming. Result must equal the batch
    interval join (C10) over the same rows."""
    clicks = as_event_time(
        replay_stream(spark, chunk_dir, files_per_trigger=3)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        ),
        "c_ts",
    ).withWatermark("c_ts", "1 hour")
    purchases = as_event_time(
        replay_stream(spark, chunk_dir, files_per_trigger=3)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        ),
        "p_ts",
    ).withWatermark("p_ts", "1 hour")
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 5 MINUTES")),
    ).select("click_id", "purchase_id")
    got = {(r.click_id, r.purchase_id) for r in _drain(spark, joined, "t_ssj")}
    from twitter_event_stream_spark import registry

    want = {
        (r.click_id, r.purchase_id)
        for r in registry.get("q_join_interval").fn(spark, sf_dir).collect()
    }
    assert got == want


def test_complete_output_mode(spark, sf_dir, chunk_dir):
    """I9 — complete mode re-emits the full aggregate each trigger; the
    final table must equal the batch per-type counts."""
    stream = replay_stream(spark, chunk_dir, files_per_trigger=5)
    agg = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    rows = _drain(spark, agg, "t_complete", output_mode="complete")
    got = {r.event_type: r.n for r in rows}
    want = {
        r.event_type: r.n
        for r in table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_kafka_source_shape_documented(spark):
    """A6 — the Kafka mapping is constructable code; without a broker or
    connector jar it must fail with the connector error, not an engine bug."""
    from twitter_event_stream_spark.streaming.sources import kafka_source

    try:
        df = kafka_source(spark, "localhost:9092", "events")
        assert "event_id" in df.columns  # connector present: shape holds
    except Exception as exc:  # noqa: BLE001 — connector absence is expected
        assert "kafka" in str(exc).lower()


def test_rocksdb_state_store_parity(spark, sf_dir, chunk_dir):
    """Large-state posture: the same windowed agg runs on the RocksDB state
    store provider (the 100 TB choice — state spills to local disk instead
    of living on the JVM heap) and must produce the identical finalized
    windows as the default provider / batch plan."""
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = replay_stream(spark, chunk_dir)
        got = {
            r.bucket_ts: r.n_events
            for r in _drain(spark, windowed_counts(stream), "t_rocks")
        }
        batch = (
            table(spark, sf_dir, "events")
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col("window.start").alias("bucket_ts"), "n_events")
            .collect()
        )
        expected = {r.bucket_ts: r.n_events for r in batch}
        assert got, "no finalized windows under RocksDB provider"
        for bucket, n in got.items():
            assert expected[bucket] == n
        assert len(set(expected) - set(got)) <= 2
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_stream_session_window_parity(spark, sf_dir, chunk_dir):
    """I3 streaming: finalized per-user session windows from the replayed
    stream must equal the batch session_window result (same prefix logic as
    the tumbling test — the trailing unfinalized sessions may be missing,
    everything emitted must match)."""
    from twitter_event_stream_spark.streaming.pipelines import session_counts

    stream = replay_stream(spark, chunk_dir)
    got = {
        (r.session_start, r.user_id): r.n_events
        for r in _drain(spark, session_counts(stream), "t_sess")
    }
    batch = (
        table(spark, sf_dir, "events")
        .groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            "user_id",
            "n_events",
        )
        .collect()
    )
    expected = {(r.session_start, r.user_id): r.n_events for r in batch}
    assert got, "stream emitted no finalized sessions"
    for key, n in got.items():
        assert expected[key] == n, f"session {key}: stream={n} batch={expected[key]}"
    assert len(set(expected) - set(got)) <= len(expected) * 0.05


def test_stream_stream_left_outer_join(spark, sf_dir, chunk_dir):
    """I7 (outer form) — watermark-bounded LEFT OUTER stream-stream join:
    unmatched clicks must be emitted with NULL purchase ids, but only once
    the watermark passes their join window (state expiry drives null
    emission — the semantics that distinguish outer from inner). Matched
    pairs must equal the batch join; nulls are a subset of the batch's
    unmatched clicks, with only watermark-trailing rows held back at
    stream end."""
    import tempfile

    from twitter_event_stream_spark.streaming.replay import run_available_now

    def side(et, prefix):
        return as_event_time(
            replay_stream(spark, chunk_dir, files_per_trigger=3)
            .filter(F.col("event_type") == et)
            .select(
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("ts").alias(f"{prefix}_ts"),
            ),
            f"{prefix}_ts",
        ).withWatermark(f"{prefix}_ts", "10 minutes")

    j = side("click", "c").join(
        side("purchase", "p"),
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 5 MINUTES")),
        "leftOuter",
    ).select("c_id", "p_id")
    rows = _drain(spark, j, "t_ss_louter")
    matched = {(r.c_id, r.p_id) for r in rows if r.p_id is not None}
    nulls = {r.c_id for r in rows if r.p_id is None}

    ev = table(spark, sf_dir, "events")
    c = ev.filter("event_type='click'").select(
        F.col("event_id").alias("c_id"), "user_id", F.col("ts").alias("c_ts")
    )
    p = ev.filter("event_type='purchase'").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("u2"),
        F.col("ts").alias("p_ts"),
    )
    b = c.join(
        p,
        (c.user_id == F.col("u2"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 5 MINUTES")),
        "left",
    ).select("c_id", "p_id")
    brows = b.collect()
    bmatched = {(r.c_id, r.p_id) for r in brows if r.p_id is not None}
    bnulls = {r.c_id for r in brows if r.p_id is None}
    assert matched == bmatched
    assert nulls <= bnulls
    assert len(nulls) >= 0.9 * len(bnulls), (len(nulls), len(bnulls))


def test_running_ewma_matches_batch_fold(spark, sf_dir, chunk_dir):
    """I8/X65: streaming EWMA over an in-order replay must converge to the
    batch q_ewma fold — same recursion, same order, same doubles (the batch
    output is 6dp-rounded, hence the 1e-6 tolerance)."""
    from twitter_event_stream_spark import registry
    from twitter_event_stream_spark.streaming.pipelines import running_ewma

    stream = replay_stream(spark, chunk_dir, files_per_trigger=5).filter(
        F.col("user_id") < 20
    )
    rows = _drain(spark, running_ewma(stream), "t_ewma", output_mode="update")
    final: dict[int, tuple] = {}
    for r in rows:  # one row per (user, trigger); keep the last update
        cur = final.get(r.user_id)
        if cur is None or r.n_events > cur[0]:
            final[r.user_id] = (r.n_events, r.ewma)
    batch = {
        r.user_id: (r.n_events, r.ewma)
        for r in registry.get("q_ewma").fn(spark, sf_dir).collect()
    }
    assert set(final) == set(batch)
    for uid, (n, e) in final.items():
        assert batch[uid][0] == n
        assert abs(batch[uid][1] - e) < 1e-6


def test_stream_stream_full_outer_join(spark, sf_dir, chunk_dir):
    """I7 (full-outer form, X41 companion) — watermark-bounded FULL OUTER
    stream-stream join: unmatched rows of BOTH sides must surface with
    NULLs once the watermark expires their state. Matched pairs must equal
    the batch join exactly; each side's null set is a subset of the
    batch's unmatched rows (watermark-trailing rows held back), with ≥90%
    emitted over the full replay."""

    def side(et, prefix):
        return as_event_time(
            replay_stream(spark, chunk_dir, files_per_trigger=3)
            .filter(F.col("event_type") == et)
            .select(
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("ts").alias(f"{prefix}_ts"),
            ),
            f"{prefix}_ts",
        ).withWatermark(f"{prefix}_ts", "10 minutes")

    j = side("click", "c").join(
        side("purchase", "p"),
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 5 MINUTES")),
        "fullOuter",
    ).select("c_id", "p_id")
    rows = _drain(spark, j, "t_ss_fouter")
    matched = {(r.c_id, r.p_id) for r in rows if r.c_id is not None and r.p_id is not None}
    c_nulls = {r.c_id for r in rows if r.p_id is None}
    p_nulls = {r.p_id for r in rows if r.c_id is None}

    ev = table(spark, sf_dir, "events")
    c = ev.filter("event_type='click'").select(
        F.col("event_id").alias("c_id"), "user_id", F.col("ts").alias("c_ts")
    )
    p = ev.filter("event_type='purchase'").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("u2"),
        F.col("ts").alias("p_ts"),
    )
    b = c.join(
        p,
        (c.user_id == F.col("u2"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 5 MINUTES")),
        "full",
    ).select("c_id", "p_id")
    brows = b.collect()
    bmatched = {(r.c_id, r.p_id) for r in brows if r.c_id is not None and r.p_id is not None}
    bc_nulls = {r.c_id for r in brows if r.p_id is None}
    bp_nulls = {r.p_id for r in brows if r.c_id is None}
    assert matched == bmatched
    assert c_nulls <= bc_nulls and p_nulls <= bp_nulls
    assert len(c_nulls) >= 0.9 * len(bc_nulls), (len(c_nulls), len(bc_nulls))
    assert len(p_nulls) >= 0.9 * len(bp_nulls), (len(p_nulls), len(bp_nulls))


def test_curation_stream_scrubs_and_dedups(spark, sf_dir, late_chunk_dir):
    """X85/X95 streaming composition: the curation pipeline over a replay
    with duplicate re-emissions must (a) dedup to the batch count under a
    watermark covering the late window, (b) scrub injected PII so no raw
    pattern survives, (c) emit batch-compatible NTZ event time."""
    from twitter_event_stream_spark.operators.curation_extra import _EMAIL
    from twitter_event_stream_spark.streaming.pipelines import curation_stream

    raw = replay_stream(spark, late_chunk_dir, files_per_trigger=3).withColumn(
        "props",
        F.concat(
            F.coalesce(F.col("props"), F.lit("")),
            F.lit(" reach me at user"),
            F.col("user_id"),
            F.lit("@leak.example.com or 192.168.0."),
            F.col("user_id") % 256,
        ),
    )
    out = curation_stream(raw, watermark="15 days")
    assert dict(out.dtypes)["ts"] == "timestamp_ntz"
    rows = _drain(spark, out, "t_curation")
    n_batch = table(spark, sf_dir, "events").count()
    ids = [r.event_id for r in rows]
    assert len(ids) == len(set(ids)) == n_batch, "dedup failed"
    import re as _re

    email_re = _re.compile(_EMAIL)
    scrubbed_seen = 0
    for r in rows:
        assert email_re.search(r.props) is None, r.props
        assert "192.168.0." not in r.props
        scrubbed_seen += "<EMAIL>" in r.props
    assert scrubbed_seen == len(rows), "every row carried injected PII"


def test_curation_stream_equals_batch_scrub(spark, sf_dir, chunk_dir):
    """Round-5 parity pin (VERDICT r4 item 5): an availableNow replay of the
    events fixture through `curation_stream` must equal the batch scrub of
    the SAME rows end-to-end — full row-multiset equality on every output
    column, not just counts/schema/pattern spot-checks — so the batch and
    stream curation paths cannot drift apart silently. Both sides inject
    identical deterministic PII and both sides scrub with the shared
    regex constants (`curation_extra._EMAIL/_IPV4/_PHONE`)."""
    from twitter_event_stream_spark.operators.curation_extra import (
        _EMAIL,
        _IPV4,
        _PHONE,
    )
    from twitter_event_stream_spark.streaming.pipelines import curation_stream

    def inject(df):
        return df.withColumn(
            "props",
            F.concat(
                F.coalesce(F.col("props"), F.lit("")),
                F.lit(" contact user"),
                F.col("user_id"),
                F.lit("@leak.example.com from 10.0.0."),
                F.col("user_id") % 256,
                F.lit(" tel +1-555-01"),
                F.lpad((F.col("user_id") % 100).cast("string"), 2, "0"),
            ),
        )

    srows = _drain(
        spark,
        curation_stream(
            inject(replay_stream(spark, chunk_dir, files_per_trigger=5)),
            watermark="15 days",
        ),
        "t_cur_batch_parity",
    )

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
    brows = (
        inject(table(spark, sf_dir, "events"))
        .dropDuplicates(["event_id"])
        .withColumn("props", scrubbed)
        .filter(F.length("props") >= 1)
        .collect()
    )

    def canon(rows):
        return sorted(
            (r.event_id, r.ts, r.user_id, r.event_type, r.value, r.props)
            for r in rows
        )

    assert len(srows) == len(brows) > 0
    assert canon(srows) == canon(brows)
    # and the scrub actually fired on every row (the injected PII is gone)
    assert all("<EMAIL>" in r.props and "<IP>" in r.props for r in srows)
    assert all("<PHONE>" in r.props for r in srows)


def test_curation_stream_keeps_null_props(spark, sf_dir, chunk_dir):
    """Regression (round-4 review): a NULL payload must normalize to ''
    and pass a disabled quality gate (min_payload_chars=0) instead of
    being dropped by a three-valued NULL >= 0 predicate; with a positive
    gate the same rows are dropped BY THE GATE, observably."""
    from twitter_event_stream_spark.streaming.pipelines import curation_stream

    raw = replay_stream(spark, chunk_dir, files_per_trigger=5).withColumn(
        "props",
        F.when(F.col("event_id") % 10 == 0, F.lit(None).cast("string")).otherwise(
            F.col("props")
        ),
    )
    kept = _drain(
        spark, curation_stream(raw, watermark="15 days", min_payload_chars=0),
        "t_cur_null0",
    )
    n_all = table(spark, sf_dir, "events").count()
    assert len(kept) == n_all, "NULL-props rows were dropped with the gate off"
    nullish = [r for r in kept if r.event_id % 10 == 0]
    assert nullish and all(r.props == "" for r in nullish)

    gated = _drain(
        spark, curation_stream(raw, watermark="15 days", min_payload_chars=1),
        "t_cur_null1",
    )
    n_null = table(spark, sf_dir, "events").filter("event_id % 10 = 0").count()
    assert len(gated) == n_all - n_null, "gate should drop exactly the empty payloads"

def test_fanout_rerun_is_idempotent(spark, tmp_path_factory):
    """R9 fan-out retry contract (r6 review catch): foreachBatch may
    re-execute a micro-batch after recovery, and Spark retries tasks —
    re-running the same (batch_id, data) must leave each per-client file
    with exactly one copy of its payloads (mode 'w' truncate), not an
    appended duplicate."""
    import os

    from twitter_event_stream_spark.streaming.pipelines import (
        fanout_foreach_partition,
    )

    base = str(tmp_path_factory.mktemp("fanout_idem"))
    batch = spark.createDataFrame(
        [(str(i % 3), f'{{"event_id": {i}}}', i) for i in range(30)],
        "client_id string, payload string, ts long",
    )
    handle = fanout_foreach_partition(base)
    handle(batch, 7)
    first = {}
    for root, _dirs, files in os.walk(base):
        for fn in files:
            p = os.path.join(root, fn)
            first[p] = open(p).read()
    handle(batch, 7)  # simulated replay of the same micro-batch
    for p, content in first.items():
        assert open(p).read() == content, f"duplicated payloads in {p}"
    total = sum(c.count("event_id") for c in first.values())
    assert total == 30


def test_dedup_ingest_stream(spark, sf_dir, tmp_path_factory):
    """r8 — streaming ingestion gated by the persisted dedup index (X115
    on Structured Streaming): published docs are a subset of the incoming
    batch, none near-duplicates the indexed corpus, every dup-free doc
    survives, multiple micro-batches run, and a SECOND streaming run sees
    the first run's ingested docs through the grown index."""
    from pyspark.sql import functions as F

    from twitter_event_stream_spark.operators.corpus_full import (
        simhash64,
        write_simhash_index,
    )
    from twitter_event_stream_spark.operators.llm_extra import (
        simhash_banded_pairs,
    )
    from twitter_event_stream_spark.streaming.pipelines import (
        dedup_ingest_stream,
    )
    from twitter_event_stream_spark.tables import table

    base = str(tmp_path_factory.mktemp("ingest"))
    d = table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    incoming = d.filter(F.col("doc_id") % 2 == 1)
    write_simhash_index(spark, corpus, f"{base}/idx")

    # two single-file chunks so availableNow runs >=2 micro-batches
    med = incoming.approxQuantile("doc_id", [0.5], 0.0)[0]
    incoming.filter(F.col("doc_id") <= med).coalesce(1).write.parquet(
        f"{base}/chunks/chunk=000"
    )
    incoming.filter(F.col("doc_id") > med).coalesce(1).write.parquet(
        f"{base}/chunks/chunk=001"
    )
    st = (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(f"{base}/chunks")
    )
    q = dedup_ingest_stream(st, f"{base}/idx", f"{base}/out", f"{base}/ckpt")
    q.awaitTermination(120)
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert n_batches >= 2

    out_ids = {
        r.doc_id
        for r in spark.read.option("recursiveFileLookup", "true")
        .parquet(f"{base}/out")
        .collect()
    }
    odd_ids = {r.doc_id for r in incoming.select("doc_id").collect()}
    assert out_ids and out_ids <= odd_ids

    pairs = simhash_banded_pairs(
        spark, simhash64(d), max_hamming=3, n_bands=4, bits=64,
        sig_col="simhash64",
    ).collect()
    corpus_dupped = {
        n
        for r in pairs
        for n, c in ((r.a_id, r.b_id), (r.b_id, r.a_id))
        if n % 2 == 1 and c % 2 == 0
    }
    in_any_pair = {r.a_id for r in pairs} | {r.b_id for r in pairs}
    assert not (out_ids & corpus_dupped)  # corpus dups never published
    assert (odd_ids - in_any_pair) <= out_ids  # dup-free docs all survive

    # run 2: an exact copy of an ingested doc (fresh id) must be gated by
    # the index rows the FIRST run appended
    some_id = min(out_ids)
    copy = (
        d.filter(F.col("doc_id") == some_id)
        .withColumn("doc_id", F.lit(10_000_001).cast("long"))
    )
    copy.coalesce(1).write.parquet(f"{base}/chunks2/chunk=000")
    st2 = (
        spark.readStream.schema(d.schema)
        .option("recursiveFileLookup", "true")
        .parquet(f"{base}/chunks2")
    )
    q2 = dedup_ingest_stream(
        st2, f"{base}/idx", f"{base}/out2", f"{base}/ckpt2"
    )
    q2.awaitTermination(120)
    out2 = (
        spark.read.option("recursiveFileLookup", "true")
        .schema(d.schema)
        .parquet(f"{base}/out2")
        .count()
    )
    assert out2 == 0  # hamming-0 match against run 1's appended rows


def test_dedup_ingest_replay_is_lossless(spark, sf_dir, tmp_path_factory):
    """r9 — the X116 crash-replay window (r8 verdict "What's wrong" #1):
    foreachBatch is at-least-once, so the handler may re-run AFTER its
    index append committed but BEFORE its manifest did. The replayed
    batch then finds its own band rows in the index; self-identity must
    not gate it — the republished survivor set must be identical, not
    empty, and the index must not grow."""
    from pyspark.sql import functions as F

    from twitter_event_stream_spark.operators.corpus_full import (
        write_simhash_index,
    )
    from twitter_event_stream_spark.streaming.pipelines import (
        dedup_ingest_batch,
    )
    from twitter_event_stream_spark.tables import table

    base = str(tmp_path_factory.mktemp("ingest_replay"))
    d = table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    batch = d.filter(F.col("doc_id") % 2 == 1).limit(500)
    write_simhash_index(spark, corpus, f"{base}/idx")

    from twitter_event_stream_spark.streaming.pipelines import (
        read_ingest_rejects,
    )

    handler = dedup_ingest_batch(f"{base}/idx", f"{base}/out")
    handler(batch, 3)
    first = sorted(
        (r.doc_id, r.text)
        for r in spark.read.parquet(f"{base}/out/batch=3").collect()
    )
    assert first, "gate published nothing on a mostly-unique batch"
    rej_first = sorted(
        (r.doc_id, r.dup_of, r.hamming, r.reason)
        for r in read_ingest_rejects(spark, f"{base}/out").collect()
    )
    # simulated at-least-once retry after a crash between the index append
    # and the manifest: same (batch, batch_id), index already grown by the
    # first attempt's append, no manifest — so the replay runs in full
    import os

    from twitter_event_stream_spark.fsio import manifest_path, resolve_data_dir

    def index_rows():
        idx = spark.read.parquet(resolve_data_dir(spark, f"{base}/idx"))
        return sorted(map(tuple, idx.collect()))

    idx_first = index_rows()
    os.remove(manifest_path(f"{base}/out", 3))
    assert spark_jobs(spark, lambda: handler(batch, 3)) > 0
    assert os.path.exists(manifest_path(f"{base}/out", 3))
    assert index_rows() == idx_first, "replay appended to the index again"
    second = sorted(
        (r.doc_id, r.text)
        for r in spark.read.parquet(f"{base}/out/batch=3").collect()
    )
    assert second == first, "replay changed the published survivor set"
    rej_second = sorted(
        (r.doc_id, r.dup_of, r.hamming, r.reason)
        for r in read_ingest_rejects(spark, f"{base}/out").collect()
    )
    assert rej_second == rej_first, "replay relabeled the audit trail"


def test_dedup_ingest_intra_batch(spark, tmp_path_factory):
    """r9 — intra-batch dedup in the ingest gate (r8 verdict "What's
    missing" #1): two near-dup docs arriving in the SAME micro-batch must
    not both survive — the smaller doc_id is published and indexed, the
    larger is suppressed; unrelated docs pass."""
    from pyspark.sql import functions as F

    from twitter_event_stream_spark.fsio import resolve_data_dir
    from twitter_event_stream_spark.operators.corpus_full import (
        write_simhash_index,
    )
    from twitter_event_stream_spark.streaming.pipelines import (
        dedup_ingest_batch,
    )

    from twitter_event_stream_spark.streaming.pipelines import (
        read_ingest_rejects,
    )

    base = str(tmp_path_factory.mktemp("ingest_intra"))
    seed_text = "seed document entirely different vocabulary alpha beta gamma"
    dup_text = "the quick brown fox jumps over the lazy dog again and again"
    other = "completely unrelated payload words zebra quantum lattice nine"
    seed = spark.createDataFrame(
        [(1, seed_text)], "doc_id long, text string"
    )
    write_simhash_index(spark, seed, f"{base}/idx")
    batch = spark.createDataFrame(
        [(10, dup_text), (20, dup_text), (30, other), (40, seed_text)],
        "doc_id long, text string",
    )
    dedup_ingest_batch(f"{base}/idx", f"{base}/out")(batch, 0)
    out_ids = {
        r.doc_id for r in spark.read.parquet(f"{base}/out/batch=0").collect()
    }
    assert out_ids == {10, 30}, out_ids  # min-id survives, copy suppressed
    idx_ids = {
        r.doc_id
        for r in spark.read.parquet(resolve_data_dir(spark, f"{base}/idx"))
        .select("doc_id")
        .collect()
    }
    assert idx_ids == {1, 10, 30}, idx_ids  # only survivors were appended
    # audit trail: one minimal verdict per reject, reason by where the
    # surviving twin lives (batch-mate vs prior corpus)
    rej = {
        (r.doc_id, r.dup_of, r.hamming, r.reason)
        for r in read_ingest_rejects(spark, f"{base}/out").collect()
    }
    assert rej == {(20, 10, 0, "intra_batch"), (40, 1, 0, "index_dup")}, rej


def test_dedup_ingest_broadcast_fallback_same_verdicts(spark, tmp_path_factory):
    """r10 (r9 verdict nit): a batch past the broadcastability threshold
    falls back to shuffle joins in BOTH gates — identical survivors,
    identical audit trail. Forced here with threshold 0."""
    from twitter_event_stream_spark.operators.corpus_full import (
        write_simhash_index,
    )
    from twitter_event_stream_spark.streaming.pipelines import (
        BROADCAST_MAX_BAND_ROWS,
        dedup_ingest_batch,
        read_ingest_rejects,
    )

    seed_text = "seed document entirely different vocabulary alpha beta gamma"
    dup_text = "the quick brown fox jumps over the lazy dog again and again"
    other = "completely unrelated payload words zebra quantum lattice nine"
    seed = spark.createDataFrame([(1, seed_text)], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(10, dup_text), (20, dup_text), (30, other), (40, seed_text)],
        "doc_id long, text string",
    )

    def run(threshold):
        base = str(tmp_path_factory.mktemp(f"ingest_bcast_{threshold}"))
        write_simhash_index(spark, seed, f"{base}/idx")
        dedup_ingest_batch(
            f"{base}/idx", f"{base}/out", broadcast_max_band_rows=threshold
        )(batch, 0)
        out = sorted(
            r.doc_id
            for r in spark.read.parquet(f"{base}/out/batch=0").collect()
        )
        rej = sorted(
            (r.doc_id, r.dup_of, r.hamming, r.reason)
            for r in read_ingest_rejects(spark, f"{base}/out").collect()
        )
        return out, rej

    assert run(0) == run(BROADCAST_MAX_BAND_ROWS)


@pytest.mark.deep  # r15 (r14 verdict #3): breadth-value EQUIVALENCE suite (deterministic, every retention interleaving) — re-laned to deep to keep the fast gate under its 15-min budget
def test_retention_consolidation_equivalence(spark, tmp_path_factory):
    """r10 (r9 verdict "What's missing" #5): the bookkeeping retention
    passes — consolidate_manifests for `_manifests`, compact_rejects for
    `_rejects` — must be invisible to every reader (same ids, same rows,
    same corpus) while shrinking file counts; re-runs are no-ops; a
    replay-recreated per-batch reject dir at or below the consolidated
    horizon is ignored."""
    import os

    from twitter_event_stream_spark.fsio import (
        consolidate_manifests,
        manifested_batch_ids,
    )
    from twitter_event_stream_spark.operators.corpus_full import (
        write_simhash_index,
    )
    from twitter_event_stream_spark.streaming.pipelines import (
        compact_rejects,
        dedup_ingest_batch,
        read_ingest_rejects,
        read_ingested,
    )

    base = str(tmp_path_factory.mktemp("retention"))
    idx, out = f"{base}/idx", f"{base}/out"
    write_simhash_index(
        spark,
        spark.createDataFrame(
            [(0, "seed corpus text completely original zero")],
            "doc_id long, text string",
        ),
        idx,
    )
    handler = dedup_ingest_batch(idx, out)
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "pack my box with five dozen liquor jugs today",
        "sphinx of black quartz judge my vow tonight",
        "how vexingly quick daft zebras jump around",
        "the five boxing wizards jump quickly at dawn",
    ]
    for b in range(5):
        batch = spark.createDataFrame(
            # one unique doc + one dup of the seed per batch -> each batch
            # publishes survivors AND writes a nonempty reject dir
            [(100 + b, texts[b]),
             (200 + b, "seed corpus text completely original zero")],
            "doc_id long, text string",
        )
        handler(batch, b)

    ids_before = manifested_batch_ids(spark, out)
    assert ids_before == [0, 1, 2, 3, 4]
    corpus_before = sorted(r.doc_id for r in read_ingested(spark, out).collect())
    rejects_before = sorted(
        map(tuple, read_ingest_rejects(spark, out).collect())
    )
    assert len(rejects_before) == 5  # one seed-dup per batch

    # manifests: 5 per-batch files fold into 1 consolidated + 2 kept
    rep = consolidate_manifests(spark, out, keep_last=2)
    assert rep["folded"] == 3 and rep["through"] == 2
    assert rep["files_after"] == 3 < rep["files_before"]
    mdir = f"{out}/_manifests"
    # ignore the local Hadoop FS's .crc checksum sidecars
    assert sorted(n for n in os.listdir(mdir) if not n.startswith(".")) == [
        "batch-000000003.json",
        "batch-000000004.json",
        "consolidated-000000002.json",
    ]
    assert manifested_batch_ids(spark, out) == ids_before
    assert (
        sorted(r.doc_id for r in read_ingested(spark, out).collect())
        == corpus_before
    )
    # idempotent re-run: nothing left to fold
    rep2 = consolidate_manifests(spark, out, keep_last=2)
    assert rep2["folded"] == 0 and rep2["files_after"] == 3

    # rejects: old batch dirs fold into one consolidated dir, rows equal
    rep3 = compact_rejects(spark, out, keep_last=2)
    assert rep3["folded"] == 3 and rep3["through"] == 2
    assert rep3["files_after"] < rep3["files_before"]
    assert not os.path.exists(f"{out}/_rejects/batch=0")
    assert os.path.isdir(f"{out}/_rejects/consolidated-000000002")
    assert (
        sorted(map(tuple, read_ingest_rejects(spark, out).collect()))
        == rejects_before
    )

    # crash-replay window: a recreated per-batch dir at id <= through is
    # skipped by the reader (its rows already live in the consolidated dir)
    spark.createDataFrame(
        [(201, 0, 0, "index_dup")],
        "doc_id long, dup_of long, hamming int, reason string",
    ).write.parquet(f"{out}/_rejects/batch=1")
    assert (
        sorted(map(tuple, read_ingest_rejects(spark, out).collect()))
        == rejects_before
    )
    # ...and the next compaction cleans the stale dir up
    compact_rejects(spark, out, keep_last=2)
    assert not os.path.exists(f"{out}/_rejects/batch=1")

    # life goes on: a new batch after both passes is fully visible
    handler(
        spark.createDataFrame(
            [(105, "grumpy wizards make toxic brew for the evil queen")],
            "doc_id long, text string",
        ),
        5,
    )
    assert manifested_batch_ids(spark, out) == [0, 1, 2, 3, 4, 5]
    assert 105 in {r.doc_id for r in read_ingested(spark, out).collect()}
    assert (
        sorted(map(tuple, read_ingest_rejects(spark, out).collect()))
        == rejects_before
    )


def test_fanout_manifest_consolidation(spark, tmp_path_factory):
    """r10: the fan-out sink's manifests consolidate too — the file
    list readers see is unchanged, in batch order, across the fold and
    across the crash window where a folded per-batch file still exists."""
    import json
    import os

    from twitter_event_stream_spark.fsio import consolidate_manifests, write_manifest
    from twitter_event_stream_spark.streaming.pipelines import (
        manifested_fanout_files,
    )

    base = str(tmp_path_factory.mktemp("fanout_retention"))
    mdir = os.path.join(base, "_manifests")
    for b in range(4):
        write_manifest(
            spark,
            base,
            b,
            [
                {
                    "client_id": f"c{b % 2}",
                    "path": f"client_id=c{b % 2}/batch-{b:09d}.ndjson",
                    "n": b + 1,
                }
            ],
        )
    before = manifested_fanout_files(base)
    assert len(before) == 4

    rep = consolidate_manifests(spark, base, keep_last=1)
    assert rep["folded"] == 3
    assert manifested_fanout_files(base) == before

    # crash window: a folded per-batch file not yet deleted -> deduped
    with open(
        os.path.join(mdir, "consolidated-000000002.json"), encoding="utf-8"
    ) as f:
        m1 = [m for m in json.load(f)["manifests"] if m["batch_id"] == 1][0]
    with open(os.path.join(mdir, "batch-000000001.json"), "w") as f:
        json.dump(m1, f)
    assert manifested_fanout_files(base) == before
    rep2 = consolidate_manifests(spark, base, keep_last=1)
    assert rep2["folded"] == 1  # the stale file folds back in
    assert manifested_fanout_files(base) == before


def _read_fanout(base: str) -> dict[str, list[str]]:
    """client id -> payloads, in delivery order, read back through the
    fan-out manifests."""
    import os

    out: dict[str, list[str]] = {}
    for e in manifested_fanout_files(base):
        with open(os.path.join(base, e["path"]), encoding="utf-8") as f:
            out.setdefault(e["client_id"], []).extend(f.read().splitlines())
    return out


def test_fanout_manifest_commit_protocol(spark, tmp_path_factory):
    """r9 — exactly-once visibility for the fan-out sink (r8 verdict "What's
    missing" #3): the batch manifest is written last, covers every published
    file, is left as it is on replay, and data files without a manifest (a
    crashed batch's partial publish) are invisible to the reader."""
    import os

    from twitter_event_stream_spark.streaming.pipelines import (
        fanout_foreach_partition,
        manifested_fanout_files,
    )

    base = str(tmp_path_factory.mktemp("fanout_manifest"))
    batch = spark.createDataFrame(
        [(str(i % 3), f'{{"event_id": {i}}}', i) for i in range(30)],
        "client_id string, payload string, ts long",
    )
    handle = fanout_foreach_partition(base)
    handle(batch, 7)
    entries = manifested_fanout_files(base)
    assert {e["client_id"] for e in entries} == {"0", "1", "2"}
    for e in entries:
        assert e["bytes"] == os.path.getsize(os.path.join(base, e["path"])), e
    assert sorted(p for ps in _read_fanout(base).values() for p in ps) == sorted(
        f'{{"event_id": {i}}}' for i in range(30)
    )
    # a replay leaves the manifest as it is
    mpath = os.path.join(base, "_manifests", "batch-000000007.json")
    before = open(mpath).read()
    handle(batch, 7)
    assert open(mpath).read() == before
    # a crashed batch: data file present, manifest absent -> invisible
    os.makedirs(os.path.join(base, "client_id=9"), exist_ok=True)
    with open(os.path.join(base, "client_id=9", "batch-000000099.ndjson"), "w") as f:
        f.write('{"event_id": 999}\n')
    after = manifested_fanout_files(base)
    assert after == entries, "partial (unmanifested) publish leaked to reader"


def test_fanout_client_ids_escaped(spark, tmp_path_factory):
    """A client id is a directory name only after escaping: ids holding
    ``/``, ``..``, ``%``, ``=`` or non-ASCII text neither nest directories
    nor leave the fan-out dir, the manifest carries each raw id, and each
    client gets exactly its own payloads."""
    import json
    import os

    ids = ["a/b", "a/../../x", "50%", "k=v", "é"]
    base = str(tmp_path_factory.mktemp("fanout_ids"))
    rows = [(c, json.dumps({"c": c, "i": i}), i) for i in range(20) for c in ids]
    batch = spark.createDataFrame(rows, "client_id string, payload string, ts long")
    fanout_foreach_partition(base)(batch, 3)

    root = os.path.realpath(base)
    for d, _dirs, files in os.walk(base):
        for fn in files:
            rel = os.path.relpath(os.path.realpath(os.path.join(d, fn)), root)
            top, _, rest = rel.partition(os.sep)
            assert top == "_manifests" or (
                top.startswith("client_id=") and os.sep not in rest
            ), rel
    assert not os.path.exists(os.path.join(os.path.dirname(base), "x"))
    got = _read_fanout(base)
    assert sorted(got) == sorted(ids)
    for c in ids:
        assert got[c] == [p for cc, p, _ts in rows if cc == c]


def test_fanout_drops_rows_without_client(spark, tmp_path_factory):
    """A row with a null or empty ``client_id`` goes to no client: it is
    neither written nor in the manifest."""
    import os

    base = str(tmp_path_factory.mktemp("fanout_null_client"))
    batch = spark.createDataFrame(
        [("c", "kept", 1), (None, "no-client", 2), ("", "empty-client", 3)],
        "client_id string, payload string, ts long",
    )
    fanout_foreach_partition(base)(batch, 0)
    assert [e["client_id"] for e in manifested_fanout_files(base)] == ["c"]
    assert _read_fanout(base) == {"c": ["kept"]}
    written = []
    for d, dirs, files in os.walk(base):
        dirs[:] = [x for x in dirs if x != "_manifests"]
        for fn in files:
            with open(os.path.join(d, fn), encoding="utf-8") as f:
                written.append(f.read())
    assert written == ["kept\n"]


def test_fanout_ts_ties_ordered_by_payload(spark, tmp_path_factory):
    """R11 with ties: rows sharing a ``ts`` are ordered by payload, so each
    client's file equals its payloads sorted by (ts, payload), byte for
    byte, whatever order the batch arrived in."""
    import os

    base = str(tmp_path_factory.mktemp("fanout_ties"))
    rows = [(f"c{i % 2}", f"p{(i * 7) % 40:02d}", i % 3) for i in range(40)]
    batch = spark.createDataFrame(
        list(reversed(rows)), "client_id string, payload string, ts long"
    ).repartition(5)
    fanout_foreach_partition(base)(batch, 1)
    for c in ("c0", "c1"):
        want = "".join(
            p + "\n" for _ts, p in sorted((t, p) for cc, p, t in rows if cc == c)
        )
        path = os.path.join(base, f"client_id={c}", "batch-000000001.ndjson")
        with open(path, encoding="utf-8") as f:
            assert f.read() == want


def _tree(base: str) -> dict[str, str]:
    """relative path -> text of every file under ``base``."""
    import os

    out = {}
    for d, _dirs, files in os.walk(base):
        for fn in files:
            p = os.path.join(d, fn)
            with open(p, encoding="utf-8") as f:
                out[os.path.relpath(p, base)] = f.read()
    return out


def test_fanout_replay_over_stale_staging(spark, tmp_path_factory):
    """A crash can leave a batch's staging dir and a partial final file
    behind. Replaying that batch gives the same files and manifest as a
    clean run, leaves no ``_staging``, and a reader never sees a staging
    file."""
    import os

    batch = spark.createDataFrame(
        [(str(i % 3), f'{{"event_id": {i}}}', i) for i in range(30)],
        "client_id string, payload string, ts long",
    )

    clean = str(tmp_path_factory.mktemp("fanout_clean"))
    fanout_foreach_partition(clean)(batch, 7)

    base = str(tmp_path_factory.mktemp("fanout_stale"))
    for rel, text in [
        ("_staging/batch-7/client_id=0/part-00000-stale.c000.txt", "stale\n"),
        ("_staging/batch-7/client_id=9/part-00001-stale.c000.txt", "stale\n"),
        ("client_id=0/batch-000000007.ndjson", '{"event_id": 0}\n{"ev'),
    ]:
        os.makedirs(os.path.dirname(os.path.join(base, rel)), exist_ok=True)
        with open(os.path.join(base, rel), "w", encoding="utf-8") as f:
            f.write(text)
    assert manifested_fanout_files(base) == []
    fanout_foreach_partition(base)(batch, 7)
    assert _tree(base) == _tree(clean)
    assert not os.path.exists(os.path.join(base, "_staging"))
    assert not any(e["path"].startswith("_") for e in manifested_fanout_files(base))


def test_fanout_file_uri_base_dir(spark, tmp_path_factory):
    """The fan-out publishes through the Hadoop FileSystem, so a base dir
    given as a URI (``file://`` here, as ``hdfs://`` or ``s3a://`` would
    be) gets the same files and manifest as the plain path — also when
    its name holds the glob metacharacters Hadoop would otherwise
    expand."""
    batch = spark.createDataFrame(
        [(str(i % 3), f'{{"event_id": {i}}}', i) for i in range(30)],
        "client_id string, payload string, ts long",
    )
    plain = str(tmp_path_factory.mktemp("fanout_plain"))
    local = f"{tmp_path_factory.mktemp('fanout_uri')}/fan[1]{{a,b}}*?"
    uri = f"file://{local}"
    fanout_foreach_partition(plain)(batch, 7)
    fanout_foreach_partition(uri)(batch, 7)
    assert manifested_fanout_files(uri) == manifested_fanout_files(plain)
    assert len(manifested_fanout_files(uri)) == 3
    assert _tree(local) == _tree(plain)


def test_fanout_replay_of_manifested_batch_runs_no_job(spark, tmp_path_factory):
    """A replay of a manifested fan-out batch runs no Spark job and changes
    no file. That holds after a retention pass too: consolidation never
    folds the newest manifest, which is the only replayable batch."""
    import os

    from twitter_event_stream_spark.fsio import consolidate_manifests, manifest_path

    base = str(tmp_path_factory.mktemp("fanout_skip"))
    batch = spark.createDataFrame(
        [(str(i % 3), f'{{"event_id": {i}}}', i) for i in range(30)],
        "client_id string, payload string, ts long",
    )
    handle = fanout_foreach_partition(base)
    for bid in range(3):
        assert spark_jobs(spark, lambda: handle(batch, bid)) > 0
    files = _tree(base)
    assert spark_jobs(spark, lambda: handle(batch, 2)) == 0
    assert _tree(base) == files
    entries = manifested_fanout_files(base)
    assert consolidate_manifests(spark, base, keep_last=1)["folded"] == 2
    assert os.path.exists(manifest_path(base, 2))
    assert spark_jobs(spark, lambda: handle(batch, 2)) == 0
    assert manifested_fanout_files(base) == entries


def test_ingest_replay_of_manifested_batch_runs_no_job(spark, tmp_path_factory):
    """A replay of a manifested corpus-sink batch runs no Spark job: no
    gate, no write, no index append. That holds after both retention
    passes with ``keep_last=1``, which never fold the newest batch — the
    only one foreachBatch can replay."""
    import os

    from twitter_event_stream_spark.fsio import consolidate_manifests, manifest_path
    from twitter_event_stream_spark.operators.corpus_full import (
        write_simhash_index,
    )
    from twitter_event_stream_spark.streaming.pipelines import (
        compact_rejects,
        dedup_ingest_batch,
        read_ingest_rejects,
        read_ingested,
    )

    base = str(tmp_path_factory.mktemp("ingest_skip"))
    idx, out = f"{base}/idx", f"{base}/out"
    seed_text = "seed document entirely different vocabulary alpha beta gamma"
    write_simhash_index(
        spark, spark.createDataFrame([(1, seed_text)], "doc_id long, text string"), idx
    )
    handler = dedup_ingest_batch(idx, out)
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "pack my box with five dozen liquor jugs today",
        "sphinx of black quartz judge my vow tonight",
    ]
    batches = [
        spark.createDataFrame(
            [(10 + b, texts[b]), (20 + b, seed_text)], "doc_id long, text string"
        )
        for b in range(3)
    ]
    for b in range(3):
        handler(batches[b], b)

    def view():
        return (
            sorted(r.doc_id for r in read_ingested(spark, out).collect()),
            sorted(map(tuple, read_ingest_rejects(spark, out).collect())),
        )

    seen = view()
    assert seen[0] == [10, 11, 12] and len(seen[1]) == 3
    assert spark_jobs(spark, lambda: handler(batches[2], 2)) == 0
    assert consolidate_manifests(spark, out, keep_last=1)["folded"] == 2
    assert compact_rejects(spark, out, keep_last=1)["folded"] == 2
    assert os.path.exists(manifest_path(out, 2))
    assert spark_jobs(spark, lambda: handler(batches[2], 2)) == 0
    assert view() == seen


def test_fanout_write_plan_is_jvm_only(spark, tmp_path_factory):
    """The fan-out write stays in the JVM with one shuffle: no Python
    operator, and exactly one exchange, hash-partitioned on client_id."""
    import re

    base = str(tmp_path_factory.mktemp("fanout_plan"))
    batch = spark.createDataFrame(
        [(str(i % 3), f'{{"event_id": {i}}}', i) for i in range(30)],
        "client_id string, payload string, ts long",
    )
    fanout_foreach_partition(base)(batch, 0)
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    plan = next(
        d
        for d in (
            execs.apply(i).physicalPlanDescription()
            for i in reversed(range(execs.size()))
        )
        if "InsertIntoHadoopFsRelationCommand" in d
    )
    assert base in plan
    for op in ("MapInPandas", "MapInArrow", "PythonUDF", "EvalPython"):
        assert op not in plan, op
    # the node tree comes first (under AQE: the final plan, then the
    # initial one), then one detail block per node id
    tree, _, details = plan.partition("\n\n\n")
    exchanges = re.findall(r"(\w*Exchange) \((\d+)\)", tree.split("Initial Plan")[0])
    assert [kind for kind, _id in exchanges] == ["Exchange"], exchanges
    assert re.search(
        rf"^\({exchanges[0][1]}\) Exchange\n.*\nArguments: "
        r"hashpartitioning\(client_id#\d+, \d+\)",
        details,
        re.M,
    ), details


def test_ingest_manifest_commit_protocol(spark, tmp_path_factory):
    """r9 — commit manifests for the X116 corpus sink: read_ingested sees
    exactly the manifested batches; a partial batch directory without a
    manifest (crash between publish and commit) is invisible; an empty
    sink raises instead of fabricating a schema."""
    import pytest as _pytest

    from twitter_event_stream_spark.operators.corpus_full import (
        write_simhash_index,
    )
    from twitter_event_stream_spark.streaming.pipelines import (
        dedup_ingest_batch,
        read_ingested,
    )

    base = str(tmp_path_factory.mktemp("ingest_manifest"))
    seed = spark.createDataFrame(
        [(1, "seed document entirely different vocabulary alpha beta gamma")],
        "doc_id long, text string",
    )
    write_simhash_index(spark, seed, f"{base}/idx")
    with _pytest.raises(ValueError, match="no committed ingest batches"):
        read_ingested(spark, f"{base}/out")
    batch = spark.createDataFrame(
        [(10, "ten bright red lanterns floating over the quiet harbor"),
         (30, "completely unrelated payload words zebra quantum lattice nine")],
        "doc_id long, text string",
    )
    dedup_ingest_batch(f"{base}/idx", f"{base}/out")(batch, 0)
    got = {r.doc_id for r in read_ingested(spark, f"{base}/out").collect()}
    assert got == {10, 30}
    # crash sim: a later batch published its parquet but never committed
    batch.withColumn("doc_id", batch.doc_id + 100).write.parquet(
        f"{base}/out/batch=99"
    )
    got2 = {r.doc_id for r in read_ingested(spark, f"{base}/out").collect()}
    assert got2 == {10, 30}, "unmanifested batch leaked to reader"


def test_ingest_manifest_kept_on_replay(spark, tmp_path_factory):
    """A replay of a committed corpus-sink batch leaves its manifest as it
    is — same file (inode) and same bytes, ``{"batch_id": id}`` — so the
    batch is never hidden from read_ingested / read_ingest_rejects by a
    delete-then-rename of its manifest."""
    import json
    import os

    from twitter_event_stream_spark.operators.corpus_full import (
        write_simhash_index,
    )
    from twitter_event_stream_spark.streaming.pipelines import (
        dedup_ingest_batch,
        read_ingested,
    )

    base = str(tmp_path_factory.mktemp("manifest_replay"))
    write_simhash_index(
        spark,
        spark.createDataFrame(
            [(1, "seed document entirely different vocabulary alpha beta")],
            "doc_id long, text string",
        ),
        f"{base}/idx",
    )
    batch = spark.createDataFrame(
        [(10, "ten bright red lanterns floating over the quiet harbor")],
        "doc_id long, text string",
    )
    handler = dedup_ingest_batch(f"{base}/idx", f"{base}/out")
    handler(batch, 0)
    mpath = f"{base}/out/_manifests/batch-000000000.json"

    def snapshot():
        with open(mpath, "rb") as f:
            return os.stat(mpath).st_ino, f.read()

    first = snapshot()
    assert json.loads(first[1]) == {"batch_id": 0}
    handler(batch, 0)  # at-least-once replay of the committed batch
    assert snapshot() == first
    assert {r.doc_id for r in read_ingested(spark, f"{base}/out").collect()} == {10}


def test_dedup_ingest_checkpoint_continuation(spark, tmp_path_factory):
    """r9 — exactly-once ACROSS streaming runs through the checkpoint: a
    second availableNow run over the same checkpoint/out/index processes
    only the files that arrived since the first run, already-published
    batch dirs are byte-untouched, batch ids continue, cross-run dups are
    gated by the index the first run grew, and the committed reader sees
    every ingested doc exactly once."""
    import os

    from twitter_event_stream_spark.operators.corpus_full import (
        write_simhash_index,
    )
    from twitter_event_stream_spark.streaming.pipelines import (
        dedup_ingest_stream,
        read_ingest_rejects,
        read_ingested,
    )

    base = str(tmp_path_factory.mktemp("ingest_ckpt"))
    seed = spark.createDataFrame(
        [(1, "seed document entirely different vocabulary alpha beta gamma")],
        "doc_id long, text string",
    )
    write_simhash_index(spark, seed, f"{base}/idx")
    schema = "doc_id long, text string"
    a_text = "ten bright red lanterns floating over the quiet harbor"
    spark.createDataFrame(
        [(10, a_text),
         (11, "completely unrelated payload words zebra quantum lattice nine")],
        schema,
    ).coalesce(1).write.parquet(f"{base}/chunks/chunk=000")

    def run():
        st = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(f"{base}/chunks")
        )
        q = dedup_ingest_stream(
            st, f"{base}/idx", f"{base}/out", f"{base}/ckpt"
        )
        q.awaitTermination(120)
        return q

    q1 = run()
    got1 = {r.doc_id for r in read_ingested(spark, f"{base}/out").collect()}
    assert got1 == {10, 11}
    published = {}
    for root, _dirs, files in os.walk(f"{base}/out/batch=0"):
        for fn in files:
            if not fn.startswith(("_", ".")):
                p = os.path.join(root, fn)
                published[p] = (os.path.getsize(p), os.path.getmtime(p))

    # new arrivals: one genuinely new doc, one exact copy of an ingested
    # run-1 doc (must be gated by the index run 1 grew)
    spark.createDataFrame(
        [(20, "fresh subject matter entirely about glacier melt dynamics"),
         (21, a_text)],
        schema,
    ).coalesce(1).write.parquet(f"{base}/chunks/chunk=001")
    q2 = run()
    n_in = sum(p["numInputRows"] for p in q2.recentProgress)
    assert n_in == 2, "second run reprocessed already-committed files"

    ingested = read_ingested(spark, f"{base}/out")
    rows = [r.doc_id for r in ingested.collect()]
    assert sorted(rows) == [10, 11, 20]  # each exactly once, copy gated
    rej = {
        (r.doc_id, r.dup_of, r.hamming, r.reason)
        for r in read_ingest_rejects(spark, f"{base}/out").collect()
    }
    assert rej == {(21, 10, 0, "index_dup")}, rej
    for p, sig in published.items():
        assert (os.path.getsize(p), os.path.getmtime(p)) == sig, (
            f"run 2 rewrote run 1's published file {p}"
        )


# ---------------------------------------------------------------------------
# R2 hardened decode (DLQ) + R11 observability
# ---------------------------------------------------------------------------

_GOOD_LINE = (
    '{"event_id": 1, "ts": "2024-01-01T00:00:00", "user_id": 5,'
    ' "event_type": "tweet", "value": 1.5, "props": "{}"}'
)


def test_decode_events_dlq_taxonomy(spark):
    """R2: every malformed-input class lands in exactly one reject bucket and
    the good row decodes to the same values the plain decoder produces."""
    from twitter_event_stream_spark.streaming.pipelines import (
        decode_events_dlq,
        dlq_split,
    )

    # the fifth line is valid AND carries a top-level "_corrupt" field — a
    # producer-controlled name that must NOT collide with the decoder's
    # capture column (r9 ADVICE: with columnNameOfCorruptRecord="_corrupt"
    # this line was misrouted to the dead-letter lane as 'malformed')
    sneaky = (
        '{"event_id": 2, "ts": "2024-01-02T00:00:00", "user_id": 6,'
        ' "event_type": "fav", "value": 2.5, "props": "{}",'
        ' "_corrupt": "producer-owned field"}'
    )
    raw = spark.createDataFrame(
        [
            (_GOOD_LINE,),
            ("not json at all {",),
            ('{"user_id": 7, "event_type": "fav"}',),
            ('{"event_id": "abc", "ts": "2024-01-01T00:00:00", "user_id": 5}',),
            (None,),
            (sneaky,),
        ],
        "value string",
    )
    decoded = decode_events_dlq(raw)
    got = {
        (r.raw_value or "")[:14]: r.reject_reason for r in decoded.collect()
    }
    assert got == {
        _GOOD_LINE[:14]: None,
        "not json at al": "malformed",
        '{"user_id": 7,': "missing_required",
        '{"event_id": "': "malformed",  # type mismatch is a corrupt capture
        "": "empty",
        sneaky[:14]: None,
    }

    events, dead = dlq_split(decoded)
    assert events.columns == decode_events(raw).columns
    rows = {r.event_id: r for r in events.collect()}
    assert set(rows) == {1, 2}
    row = rows[1]
    assert (row.user_id, row.event_type, row.value) == (5, "tweet", 1.5)
    assert (rows[2].user_id, rows[2].event_type) == (6, "fav")
    assert {(r.reject_reason) for r in dead.collect()} == {
        "malformed",
        "empty",
        "missing_required",
    }
    assert dead.count() == 4


def test_dlq_stream_split_and_observed_metrics(spark, sf_dir):
    """R2/R11 end-to-end: a wire stream with injected garbage splits into the
    event lane (batch-parity count) and the quarantine lane, and the
    `observe` counters in query progress account for every input row."""
    from twitter_event_stream_spark.streaming.observe import (
        observe_wire,
        progress_summary,
    )
    from twitter_event_stream_spark.streaming.pipelines import (
        decode_events_dlq,
        dlq_split,
    )

    ev = table(spark, sf_dir, "events")
    n_good = ev.count()
    base = tempfile.mkdtemp(prefix="tes_dlq_")
    try:
        wire = ev.select(F.to_json(F.struct(*ev.columns)).alias("value"))
        wire.repartition(2).write.parquet(f"{base}/wire/part=good")
        spark.createDataFrame(
            [("not json {",), ('{"user_id": 1}',), (None,)], "value string"
        ).coalesce(1).write.parquet(f"{base}/wire/part=bad")

        stream = (
            spark.readStream.schema("value string")
            .option("maxFilesPerTrigger", 2)
            .option("recursiveFileLookup", "true")
            .parquet(f"{base}/wire")
        )
        events, dead = dlq_split(observe_wire(decode_events_dlq(stream)))

        q_ev = run_available_now(events, "dlq_events", f"{base}/ck1")
        q_dl = run_available_now(dead, "dlq_rejects", f"{base}/ck2")
        q_ev.awaitTermination(120)
        q_dl.awaitTermination(120)

        assert spark.sql("SELECT count(*) FROM dlq_events").first()[0] == n_good
        rejects = {
            (r.reject_reason, r.n)
            for r in spark.sql(
                "SELECT reject_reason, count(*) n FROM dlq_rejects"
                " GROUP BY reject_reason"
            ).collect()
        }
        assert rejects == {("malformed", 1), ("missing_required", 1), ("empty", 1)}

        s = progress_summary(q_ev)
        assert s["n_input_rows"] == n_good + 3
        obs = s["observed"]
        assert obs["n_rows"] == n_good + 3
        assert obs["n_accepted"] == n_good
        assert (
            obs["n_malformed"],
            obs["n_empty"],
            obs["n_missing_required"],
        ) == (1, 1, 1)
        assert s["n_batches"] >= 2, "maxFilesPerTrigger=2 over 3 files"
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_progress_capture_listener(spark, chunk_dir):
    """R11 push path: a registered StreamingQueryListener sees every
    micro-batch's progress; its rollup matches the pull-path summary,
    including the per-phase and state-commit medians of a stateful query."""
    import time

    from twitter_event_stream_spark.streaming.observe import (
        ProgressCapture,
        progress_summary,
    )

    cap = ProgressCapture()
    spark.streams.addListener(cap)
    try:
        stream = (
            as_event_time(replay_stream(spark, chunk_dir, files_per_trigger=5))
            .withWatermark("ts", "10 minutes")
            .dropDuplicatesWithinWatermark(["event_id"])
        )
        ckpt = tempfile.mkdtemp(prefix="tes_ckpt_listener_")
        q = run_available_now(stream, "listener_probe", ckpt)
        q.awaitTermination(120)
        # The listener bus is asynchronous — poll for the terminate event.
        deadline = time.time() + 30
        while str(q.id) not in cap.terminated and time.time() < deadline:
            time.sleep(0.2)
        assert str(q.id) in cap.terminated
        pulled = progress_summary(q)
        pushed = progress_summary(cap.rows_for(q))
        assert pushed["n_input_rows"] == pulled["n_input_rows"] > 0
        assert pushed["n_batches"] >= pulled["n_batches"] > 0
        phases = pulled["phase_median_ms"]
        assert {
            "latestOffset", "getBatch", "queryPlanning", "addBatch",
            "walCommit", "commitOffsets", "triggerExecution",
        } <= set(phases)
        assert phases["triggerExecution"] >= phases["addBatch"] > 0
        assert pushed["phase_median_ms"] == phases
        assert pushed["state_commit_median_ms"] == pulled["state_commit_median_ms"]
        data_rows = [r for r in cap.rows_for(q) if r["num_input_rows"] > 0]
        assert data_rows and all(len(r["state_commit_ms"]) == 1 for r in data_rows)
        shutil.rmtree(ckpt, ignore_errors=True)
    finally:
        spark.streams.removeListener(cap)


def test_bridge_backfill_batch_parity(spark, sf_dir, chunk_dir):
    """Backfill seam: the SAME bridge_pipeline over the batch events table
    (bootstrap-from-history) must produce exactly the payload multiset the
    streaming replay delivers — one code path, parity by construction."""
    subs = spark.createDataFrame(
        [(u, f"client_{u % 3}") for u in range(0, 10)],
        "user_id long, client_id string",
    )
    streamed = _drain(
        spark,
        bridge_pipeline(replay_stream(spark, chunk_dir, files_per_trigger=5), subs),
        "bridge_backfill_ref",
    )
    batch = bridge_pipeline(table(spark, sf_dir, "events"), subs)
    assert batch.isStreaming is False
    got = sorted(
        (r.client_id, r.user_id, r.kind, r.payload) for r in batch.collect()
    )
    want = sorted((r.client_id, r.user_id, r.kind, r.payload) for r in streamed)
    assert got == want and len(got) > 0


def test_bridge_backfill_dedup_survivor_deterministic(spark):
    """r9 ADVICE: when redelivered duplicates DIFFER in payload (a mutating
    producer), the batch branch must pick its survivor as a pure function
    of the data — the minimal (ts, user_id, event_type, value, props) row —
    not dropDuplicates' partition-order pick. Same frame, shuffled input
    order, repeated runs: identical output."""
    rows = [
        # event 1 redelivered 3x with mutated props and ts
        (1, "2024-01-01T02:00:00", 5, "tweet", 1.0, '{"v":3}'),
        (1, "2024-01-01T01:00:00", 5, "tweet", 1.0, '{"v":2}'),
        (1, "2024-01-01T01:00:00", 5, "tweet", 1.0, '{"v":1}'),
        # event 2 delivered once
        (2, "2024-01-01T03:00:00", 7, "fav", 2.0, "{}"),
    ]
    subs = spark.createDataFrame(
        [(5, "c0"), (7, "c1")], "user_id long, client_id string"
    )

    def run(order):
        df = spark.createDataFrame(
            [rows[i] for i in order],
            "event_id long, ts string, user_id long, event_type string,"
            " value double, props string",
        ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        return sorted(
            (r.client_id, r.user_id, r.kind, r.payload)
            for r in bridge_pipeline(df.repartition(4), subs).collect()
        )

    first = run([0, 1, 2, 3])
    assert len(first) == 2
    # survivor for event 1 is the minimal (ts, ..., props) row: v=1
    assert any('\\"v\\":1' in p or '"v":1' in p for _, _, _, p in first)
    for order in ([3, 2, 1, 0], [1, 3, 0, 2], [2, 0, 3, 1]):
        assert run(order) == first


def test_vector_ingest_replay_after_absorb_converges(spark, sf_dir, tmp_path_factory):
    """r10 — the at-least-once composition of the vector ingest handler:
    a vec_id redelivered across two batches, or twice within one batch,
    and a whole batch replayed under its own id, are each visible exactly
    once straight after ingest — the append anti-joins against what the
    touched cells already hold, so there is no transient duplicate for a
    probe to rank twice."""
    from twitter_event_stream_spark.operators.vector_search import (
        ivf_topk_indexed,
        read_ivf_cells,
        write_ivf_index,
    )
    from twitter_event_stream_spark.streaming.pipelines import (
        vector_ingest_batch,
    )

    e = table(spark, sf_dir, "embeddings")
    half = e.filter(F.col("vec_id") % 2 == 0)
    odd = e.filter(F.col("vec_id") % 2 == 1).select("vec_id", "embedding")
    base = str(tmp_path_factory.mktemp("replayabsorb")) + "/idx"
    write_ivf_index(spark, half, base)
    handler = vector_ingest_batch(base)
    n_all = e.filter(F.col("embedding").isNotNull()).count()
    probes = e.filter(F.col("vec_id") < 20)

    def visible_once(n):
        ids = read_ivf_cells(spark, base).select("vec_id")
        assert ids.count() == n
        assert ids.distinct().count() == n

    # a whole batch replayed under its own id (foreachBatch retry)
    handler(odd, 0)
    visible_once(n_all)
    res_before = sorted(
        map(tuple, ivf_topk_indexed(spark, base, probes, k=5).collect())
    )
    handler(odd, 0)
    visible_once(n_all)
    assert (
        sorted(map(tuple, ivf_topk_indexed(spark, base, probes, k=5).collect()))
        == res_before
    )

    # the same vec_ids redelivered across two batches, and twice within
    # one batch
    redeliver = e.filter(
        (F.col("vec_id") < 10) & F.col("embedding").isNotNull()
    ).select((F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding")
    n_re = redeliver.count()
    assert n_re > 0
    handler(redeliver, 5)
    visible_once(n_all + n_re)
    handler(redeliver, 6)
    visible_once(n_all + n_re)
    twice = redeliver.select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    handler(twice.unionByName(twice), 7)
    visible_once(n_all + 2 * n_re)


def test_vector_ingest_stream_end_to_end(spark, sf_dir, tmp_path_factory):
    """X123: streaming vector ingest into a persisted IVF index — committed
    batches are probe-visible and stats-visible, a handler replay adds
    nothing, and a batch with only null embeddings changes nothing."""
    from twitter_event_stream_spark.fsio import data_file_count, resolve_data_dir
    from twitter_event_stream_spark.operators.vector_search import (
        ivf_index_stats,
        ivf_topk_indexed,
        read_ivf_cells,
        write_ivf_index,
    )
    from twitter_event_stream_spark.streaming.pipelines import (
        vector_ingest_batch,
        vector_ingest_stream,
    )

    e = table(spark, sf_dir, "embeddings")
    half = e.filter(F.col("vec_id") % 2 == 0)
    rest = e.filter(F.col("vec_id") % 2 == 1).select("vec_id", "embedding")
    base = str(tmp_path_factory.mktemp("vecingest")) + "/idx"
    write_ivf_index(spark, half, base)

    # stream the odd vectors in 2 micro-batches
    src = str(tmp_path_factory.mktemp("vecsrc"))
    rest.filter(F.col("vec_id") % 4 == 1).write.parquet(f"{src}/f0")
    rest.filter(F.col("vec_id") % 4 == 3).write.parquet(f"{src}/f1")
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    ck = str(tmp_path_factory.mktemp("vecck"))
    q = vector_ingest_stream(stream, base, ck)
    q.awaitTermination(180)

    n_all = e.filter(F.col("embedding").isNotNull()).count()
    visible = read_ivf_cells(spark, base)
    assert visible.count() == n_all
    # probes see streamed (odd) vectors
    probes = e.filter(F.col("vec_id") < 20)
    res_before = ivf_topk_indexed(spark, base, probes, k=5).collect()
    assert any(r.cand_id % 2 == 1 for r in res_before)
    # stats account for every visible vector
    stats = ivf_index_stats(spark, base).collect()
    assert sum(r.n_vectors for r in stats) == n_all

    def tree():
        cells = f"{resolve_data_dir(spark, base)}/cells"
        rows = sorted(
            (r.vec_id, r.cell)
            for r in spark.read.parquet(cells).select("vec_id", "cell").collect()
        )
        return rows, data_file_count(spark, base)

    # handler replay with an already-committed batch id adds nothing
    before = tree()
    vector_ingest_batch(base)(rest.filter(F.col("vec_id") % 4 == 1), 0)
    assert tree() == before, "replay duplicated or dropped vectors"

    # a batch that assigns to nothing (all-null embeddings) writes nothing
    null_batch = spark.createDataFrame(
        [(900001, None), (900002, None)], "vec_id long, embedding array<float>"
    )
    vector_ingest_batch(base)(null_batch, 7)
    assert tree() == before
    res_after = ivf_topk_indexed(spark, base, probes, k=5).collect()
    assert sorted(map(tuple, res_after)) == sorted(map(tuple, res_before))
