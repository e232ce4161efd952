"""A5/R1 INFRA — ``sources.socket_source``: the reference's long-lived ingest
re-expressed as readStream.format('socket') + from_json decode, fed by a
local in-process TCP server (no external network)."""

from __future__ import annotations

import json
import socket
import threading
import time

from twitter_event_stream_spark.streaming.sources import socket_source
from twitter_event_stream_spark.tables import table


def test_socket_ingest_decodes_events(spark, sf_dir):
    rows = table(spark, sf_dir, "events").limit(50).collect()
    lines = [
        json.dumps(
            {
                "event_id": r.event_id,
                "ts": r.ts.isoformat(sep=" "),
                "user_id": r.user_id,
                "event_type": r.event_type,
                "value": r.value,
                "props": r.props,
            }
        )
        for r in rows
    ]
    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    server.bind(("127.0.0.1", 0))
    port = server.getsockname()[1]
    server.listen(1)
    done = threading.Event()

    def serve():
        conn, _ = server.accept()
        try:
            conn.sendall(("\n".join(lines) + "\n").encode())
            done.wait(60)  # keep the connection open until the query stops
        finally:
            conn.close()
            server.close()

    threading.Thread(target=serve, daemon=True).start()

    q = (
        socket_source(spark, "127.0.0.1", port)
        .writeStream.format("memory")
        .queryName("t_socket")
        .start()
    )
    try:
        deadline = time.time() + 45
        n = 0
        while time.time() < deadline:
            n = spark.sql("SELECT count(*) n FROM t_socket").collect()[0].n
            if n >= len(lines):
                break
            time.sleep(0.5)
        assert n == len(lines)
        got = spark.sql(
            "SELECT event_id, event_type, user_id FROM t_socket ORDER BY event_id"
        ).collect()
        assert [(r.event_id, r.event_type, r.user_id) for r in got] == [
            (r.event_id, r.event_type, r.user_id) for r in sorted(rows, key=lambda x: x.event_id)
        ]
    finally:
        done.set()
        q.stop()
