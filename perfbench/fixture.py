"""Seeded input generation for the benchmark.

Every input a workload feeds the program is made here from ``--seed`` and
nothing else, so the same seed gives byte-identical inputs:

* the ten fixture tables (``region`` .. ``embeddings``) in the schemas and
  value domains FIXTURES.md documents, written as one parquet file each;
* the bridge stream: events in ts order, event time advancing at the
  live rate, cut into chunks with seeded
  redelivered (same chunk) and late (two chunks later) duplicates, plus a
  seeded subscription salt;
* the index pass's schedule: which documents and vectors form the base
  indexes and each ingest batch.

Outputs are cached on disk under ``<cache>/<kind>-<seed>``; a cache entry is
complete once its ``_DONE`` marker exists. Generation never runs inside a
timed region or inside ``setup_s``.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DIMS = 64
US_PER_DAY = 86_400_000_000


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_DONE"))


def _finish(tmp: str, path: str, meta: dict) -> str:
    with open(os.path.join(tmp, "_DONE"), "w", encoding="utf-8") as f:
        json.dump(meta, f, sort_keys=True)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path


def _write(path: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(path, f"{name}.parquet"))


def _days(rng, lo: str, hi: str, n: int) -> pa.Array:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    d = a + rng.integers(0, int((b - a).astype(np.int64)) + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> dict:
    lens = rng.integers(8, 90, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    # ~5% near duplicates: an earlier doc's text with one token appended
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int) -> dict:
    centers = rng.normal(0.0, 1.0, (10, DIMS))
    label = rng.integers(0, 10, n).astype(np.int32)
    x = centers[label] + rng.normal(0.0, 1.2, (n, DIMS))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(x.astype(np.float32).ravel()), DIMS
    ).cast(pa.list_(pa.float32()))
    return {"vec_id": np.arange(n, dtype=np.int64), "embedding": emb, "label": label}


def _events(rng, n: int, users: int, span_us: int = 30 * US_PER_DAY - 1_000_000) -> dict:
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(rng.integers(0, span_us, n)) + start
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": _money(rng, 0.0, 560.0, n),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


def make_tables(cache: str, sf: float, seed: int) -> str:
    """The ten fixture tables at scale factor ``sf``; returns the dir."""
    path = os.path.join(cache, f"tables-sf{sf}-{seed}")
    if _done(path):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    _write(tmp, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})
    _write(tmp, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    _write(tmp, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    _write(tmp, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    _write(tmp, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"part {i}" for i in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)})
    _write(tmp, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    _write(tmp, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)})
    _write(tmp, "events", _events(rng, n_ev, max(15, int(15_000 * sf))))
    _write(tmp, "documents", _documents(rng, n_docs))
    _write(tmp, "embeddings", _embeddings(rng, n_vecs))
    return _finish(tmp, path, {"sf": sf, "seed": seed})


def subscription_salt(seed: int, clients: int) -> int:
    """Client of user u is ``(u + salt) % clients``."""
    return int(np.random.default_rng([seed, 6]).integers(0, clients))


def make_stream(cache: str, name: str, seed: int, n_events: int,
                n_chunks: int, users: int, clients: int, events_per_s: float) -> str:
    """Chunked event stream with seeded duplicates; returns the dir.

    ``chunks/chunk-<i>.parquet`` (i in order of arrival) carries the
    wire columns. Event time advances at ``events_per_s``, as on a live
    feed whose events reach the bridge as they happen, so duplicates stay
    well inside the bridge's 10-minute watermark and are removed by its
    dedup state rather than by the watermark. A seeded 2% of events is
    redelivered inside its own chunk and another 1% arrives again two
    chunks late. ``expected.json`` holds the subscription salt and, per
    client, the sorted ids of the unique events it must receive."""
    path = os.path.join(cache, f"stream-{name}-{n_events}x{n_chunks}-{events_per_s:g}-{seed}")
    if _done(path):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "chunks"))
    rng = np.random.default_rng([seed, 3, sum(name.encode())])
    ev = _events(rng, n_events, users, int(n_events / events_per_s * 1_000_000))
    ids = ev["event_id"]
    salt = subscription_salt(seed, clients)
    bounds = np.linspace(0, n_events, n_chunks + 1).astype(int)
    redeliver = rng.random(n_events) < 0.02
    late = rng.random(n_events) < 0.01
    full = pa.table(ev)
    late_rows: dict[int, list[np.ndarray]] = {}
    for i in range(n_chunks):
        lo, hi = bounds[i], bounds[i + 1]
        own = np.arange(lo, hi)
        take = [own, own[redeliver[lo:hi]]] + late_rows.pop(i, [])
        late_to = min(i + 2, n_chunks - 1)
        if late_to > i:  # the final chunk's own late copies have no later chunk
            late_rows.setdefault(late_to, []).append(own[late[lo:hi]])
        idx = np.concatenate(take)
        pq.write_table(full.take(pa.array(idx)),
                       os.path.join(tmp, "chunks", f"chunk-{i:05d}.parquet"))
    expected: dict[str, list[int]] = {}
    for uid, eid in zip(ev["user_id"].tolist(), ids.tolist()):
        expected.setdefault(str((uid + salt) % clients), []).append(eid)
    with open(os.path.join(tmp, "expected.json"), "w", encoding="utf-8") as f:
        json.dump({"salt": salt, "clients": clients, "n_events": n_events,
                   "bounds": bounds.tolist(), "per_client": expected}, f)
    return _finish(tmp, path, {"seed": seed})


def ingest_plan(seed: int, n_docs: int, n_vecs: int, batches: int,
                batch_docs: int, batch_vecs: int) -> dict:
    """Which ids form the base indexes and each ingest batch (pure RNG, so
    nothing needs caching): a seeded half of each table is the base, the
    other half is cut into ingest batches in a seeded order."""
    rng = np.random.default_rng([seed, 4])

    def split(n: int, per: int) -> tuple[list[int], list[list[int]]]:
        perm = rng.permutation(n)
        base = np.sort(perm[: n // 2])
        rest = perm[n // 2:]
        cut = [np.sort(rest[i * per:(i + 1) * per]).tolist()
               for i in range(min(batches, len(rest) // per))]
        return base.tolist(), cut

    doc_base, doc_batches = split(n_docs, batch_docs)
    vec_base, vec_batches = split(n_vecs, batch_vecs)
    return {"doc_base": doc_base, "doc_batches": doc_batches,
            "vec_base": vec_base, "vec_batches": vec_batches}
