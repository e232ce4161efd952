"""Hadoop-FileSystem helpers for the persisted indexes (X119).

The two persisted indexes (X114 IVF cells, X115 SimHash band rows) grow by
parquet APPENDS — one-plus files per ingest batch — so their maintenance
paths (compaction, file-count telemetry) need filesystem operations that
land on whatever FS the parquet lives on (local, HDFS, S3A), not POSIX
calls against a path string. Same JVM FileSystem API the X117 manifest
writer uses (streaming/pipelines._write_fs_manifest).

Single-writer contract: the process that drives an index's ingest is the
ONLY writer of that index. Maintenance — ``compact_band_rows``,
``compact_ivf_cells``, ``rebuild_ivf_index``, ``write_*_index`` rewrites,
``compact_rejects``, :func:`consolidate_manifests` — runs in that same
process, in sequence with ingest: after an ``availableNow`` drain of the
ingest stream, or between handler calls. Ingest and maintenance
therefore never overlap, and Structured Streaming's offset log plus the
batch-id-keyed, idempotent sinks give exactly-once without locks.
Running maintenance from a second concurrent process is not supported.

Every index uses one layout: data lives in ``<root>/_v-<id>`` version
dirs, and the newest ``_current-<n>`` pointer file names the live one
(:func:`resolve_data_dir`). Publishing a version is one new small-file
create (:func:`pointer_swap_dir`), atomic on local, HDFS and S3A.

What still needs a mechanism under one writer — the hazards that involve
concurrent READERS or a crash, not a second writer:

=====================================  ==================================  ===================================
Hazard                                 Mechanism                           Test
=====================================  ==================================  ===================================
Swap cleanup sweeps the version an     one-cycle grace retention of the    test_pointer_swap_retains_previous_
  in-flight probe resolved             previous version                    version
Unreadable previous pointer defeats    retain ALL version dirs that        test_pointer_swap_retains_on_
  the grace window                     cycle; reclaim next healthy swap    unreadable_prev
Consolidation crash loses folded       write-new-first, keep identical     test_consolidate_manifests_*
  manifests                            existing file, delete-after
=====================================  ==================================  ===================================
"""

from __future__ import annotations

import json
import uuid


class MaintenanceLeaseHeld(RuntimeError):
    """Nothing raises this any more (see the single-writer contract in
    the module docstring)."""

    # kept only because perfbench/workloads.py still catches it; drop it
    # with the next benchmark revision


def _fs(spark, path: str):
    """(FileSystem, Path-class) pair for ``path``'s filesystem."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def data_file_count(spark, path: str) -> int:
    """Number of DATA files under ``path`` (recursive; ``_``/``.``-prefixed
    names — success markers, manifests, temporaries — excluded). This is
    the observability number behind the compaction trigger: an
    append-grown index's probe cost drifts with FILE count (listing,
    parquet footer reads, task scheduling), not byte count, so the
    maintenance decision watches files, not rows.

    Resolves an index root to its CURRENT version first: the recursive
    listing checks only file NAMES against the ``_``/``.`` exclusion, so
    counting the root directly would also sweep up the grace-retained
    previous version's files inside ``_v-*`` dirs and overstate the live
    index — the compaction trigger must watch what probes actually read."""
    path = resolve_data_dir(spark, path)
    fs, hpath = _fs(spark, path)
    it = fs.listFiles(hpath(path), True)
    n = 0
    while it.hasNext():
        name = it.next().getPath().getName()
        if not name.startswith(("_", ".")):
            n += 1
    return n


def copy_dir(spark, src: str, dst: str) -> None:
    """Byte-exact recursive copy of ``src`` into ``dst`` via Hadoop
    ``FileUtil.copy`` — used by cell compaction to carry the unchanged
    IVF centroids file into a fresh version dir without a logical
    rewrite."""
    fs, hpath = _fs(spark, src)
    ok = spark._jvm.org.apache.hadoop.fs.FileUtil.copy(
        fs, hpath(src), fs, hpath(dst), False,
        spark._jsc.hadoopConfiguration(),
    )
    if not ok:
        raise IOError(f"copy_dir: could not copy {src} -> {dst}")


def _pointer_seq(name: str) -> int | None:
    """Sequence number of a ``_current-<n>`` pointer file name, else None."""
    if name.startswith("_current-"):
        try:
            return int(name[len("_current-"):])
        except ValueError:
            return None
    return None


def _newest_pointer(fs, hpath, root: str):
    """(sequence, Path) of ``root``'s highest-numbered pointer, or
    (-1, None) when it has none."""
    best, best_ptr = -1, None
    for st in fs.listStatus(hpath(root)):
        seq = _pointer_seq(st.getPath().getName())
        if seq is not None and seq > best:
            best, best_ptr = seq, st.getPath()
    return best, best_ptr


def resolve_data_dir(spark, root: str) -> str:
    """Physical data directory of the index at ``root``: the version
    directory (``root/_v-<id>``) the HIGHEST-numbered ``_current-<n>``
    pointer names. A root with no pointer yet — no index has been
    published there — resolves to ``root`` itself, so a read of a missing
    index fails on the missing path and writers can tell "no index yet"
    by ``resolve_data_dir(spark, root) == root``.

    Every reader/appender of a persisted index resolves through this.
    Crash windows read consistently — an extra not-yet-deleted pointer
    loses to the newest by max(), a pointer is only ever created AFTER
    its version dir is fully written, and a pointer deleted by swap
    cleanup between our listing and our read triggers ONE re-list (a
    newer pointer exists by construction). Any listing failure other than
    a missing root, and a newest pointer unreadable twice, raises: loud
    beats a read or an append aimed at the wrong directory.

    Known COSMETIC log line: reading a PARTITIONED ``_v-*`` dir makes
    Spark's ``DataSource`` log ``WARN ... All paths were ignored`` — its
    preliminary path check applies the hidden-file filter to the
    ``_``-prefixed root before the actual file index exempts
    explicitly-passed roots. The read returns the full, correct data
    (pinned by
    ``test_partitioned_version_dir_read_is_correct_despite_warning``); a
    genuinely empty or half-deleted dir raises UNABLE_TO_INFER_SCHEMA
    loudly instead — there is no silent-empty-read hazard behind the
    warning."""
    fs, hpath = _fs(spark, root)
    last_err: Exception | None = None
    for _ in (0, 1):
        try:
            _, best_ptr = _newest_pointer(fs, hpath, root)
        except Exception as e:
            if "FileNotFoundException" in str(e):
                return root  # nothing published here yet
            raise
        if best_ptr is None:
            return root
        try:
            version = _read_json_file(fs, best_ptr)["version"]
        except Exception as e:
            last_err = e
            continue  # pointer cleaned up under us: re-list once
        return f"{root}/{version}"
    raise IOError(
        f"{root} has _current-* pointers but the newest is unreadable "
        "twice in a row — refusing to guess the live version"
    ) from last_err


def live_version_dir(spark, root: str) -> str:
    """:func:`resolve_data_dir` for paths that write into or rewrite an
    EXISTING index: raises when ``root`` has no published version, so no
    write ever lands at the root position."""
    cur = resolve_data_dir(spark, root)
    if cur == root:
        raise FileNotFoundError(
            f"no index published at {root} (no _current-* pointer); build "
            "it with write_simhash_index / write_ivf_index"
        )
    return cur


def stage_version_dir(root: str) -> str:
    """A fresh version-directory path under ``root`` for
    :func:`pointer_swap_dir`: ``_``-prefixed, so a plain parquet scan of
    ``root`` never sees it, and unique."""
    return f"{root.rstrip('/')}/_v-{uuid.uuid4().hex}"


def pointer_swap_dir(spark, root: str, staged: str) -> None:
    """Publish ``staged`` (a fully-written ``root/_v-*`` dir, from
    :func:`stage_version_dir`) as ``root``'s live data directory by
    creating the next ``_current-<n>`` pointer file, then clean up older
    pointers and older version dirs.

    The commit is the CREATION of one new small file (tmp + rename to a
    fresh name locally; a single object PUT on S3), never a
    delete-then-rename of a live name and never a directory rename, so
    readers resolving through :func:`resolve_data_dir` see the old
    coherent version or the new one at every instant on local, HDFS AND
    S3A. The index's single writer is the only caller, so the next
    sequence number is free.

    Cleanup retains the IMMEDIATELY-PREVIOUS version (dir + pointer) for
    one cycle and deletes everything older: object stores have no
    open-handle semantics, so an in-flight probe that resolved the old
    version just before the flip would 404 mid-read if its files vanished
    instantly (bounded extra storage: one version, reclaimed by the next
    swap). When the previous pointer exists but cannot be read, which
    version the in-flight probes hold is unknown, so every version dir is
    retained that cycle and the next healthy swap reclaims them. Cleanup
    failures are harmless: stragglers are invisible to resolution and the
    next swap retries the deletes. Non-version entries beside the
    versions are never touched."""
    fs, hpath = _fs(spark, root)
    staged = staged.rstrip("/")
    parent, vname = staged.rsplit("/", 1)
    if parent != root.rstrip("/") or not vname.startswith("_v-"):
        raise ValueError(
            f"staged dir {staged} must be a _v-* child of {root}"
        )
    if not fs.exists(hpath(staged)):
        raise IOError(f"staged version dir {staged} does not exist")
    best, best_ptr = _newest_pointer(fs, hpath, root)
    keep = {vname}
    prev_unreadable = False
    if best_ptr is not None:
        try:
            keep.add(_read_json_file(fs, best_ptr)["version"])
        except Exception:
            prev_unreadable = True
    final = hpath(f"{root}/_current-{best + 1:09d}")
    tmp = hpath(f"{root}/._current-{best + 1:09d}.tmp-{uuid.uuid4().hex}")
    out = fs.create(tmp, True)
    out.write(json.dumps({"version": vname}, sort_keys=True).encode("utf-8"))
    out.close()
    if not fs.rename(tmp, final):
        raise IOError(f"could not commit pointer {final}")
    # cleanup AFTER the commit: all best-effort, all invisible to readers
    for st in fs.listStatus(hpath(root)):
        name = st.getPath().getName()
        seq = _pointer_seq(name)
        if seq is not None and seq < best:
            fs.delete(st.getPath(), False)
        elif (
            name.startswith("_v-")
            and name not in keep
            and not prev_unreadable
        ):
            fs.delete(st.getPath(), True)


def publish_version(spark, root: str, write_to) -> None:
    """Publish a whole new version of the index at ``root``:
    ``write_to(version_dir)`` writes the payload into a fresh staged dir,
    then :func:`pointer_swap_dir` flips the pointer to it. The one publish
    path for first builds, rewrites and compactions."""
    staged = stage_version_dir(root)
    write_to(staged)
    pointer_swap_dir(spark, root, staged)


def check_layout_flag(name: str, value: bool | None) -> None:
    """Validate a ``pointer``/``pointer_swap`` keyword: the
    pointer-versioned layout is the only index layout, so only True or
    None is accepted and False — the removed rename-swap layout — raises."""
    # the keywords are kept only because perfbench/workloads.py still
    # passes them; drop them with the next benchmark revision
    if value is False:
        raise ValueError(
            f"{name}=False asks for the removed rename-swap index layout; "
            "the pointer-versioned layout is the only one"
        )


def _read_json_file(fs, path) -> dict:
    stream = fs.open(path)
    try:
        return json.loads(bytes(stream.readAllBytes()).decode("utf-8"))
    finally:
        stream.close()


def _list_manifest_files(fs, hpath, out_dir: str):
    """(per_batch, consolidated) manifest files under ``out_dir/_manifests``:
    ``per_batch`` maps batch id → Path of its ``batch-<id>.json``;
    ``consolidated`` is [(through, Path)] sorted by through."""
    mdir = hpath(f"{out_dir}/_manifests")
    per_batch: dict[int, object] = {}
    consolidated: list[tuple[int, object]] = []
    if fs.exists(mdir):
        for st in fs.listStatus(mdir):
            name = st.getPath().getName()
            if name.startswith("batch-") and name.endswith(".json"):
                per_batch[int(name[len("batch-"):-len(".json")])] = st.getPath()
            elif name.startswith("consolidated-") and name.endswith(".json"):
                consolidated.append(
                    (int(name[len("consolidated-"):-len(".json")]), st.getPath())
                )
    return per_batch, sorted(consolidated)


def manifested_batch_ids(spark, out_dir: str) -> list[int]:
    """Sorted ids of batches with a COMMITTED manifest under
    ``out_dir/_manifests`` (the X117 commit protocol: the manifest is the
    batch's last write, so its presence certifies the data landed). Shared
    by every manifested reader — corpus sink and reject trail — so the
    commit rule cannot drift between them. Reads both
    per-batch manifest files and the consolidated manifest a retention
    pass (:func:`consolidate_manifests`) folds old ones into; the union is
    deduped, so the crash window between writing a new consolidated file
    and deleting the folded per-batch files is invisible."""
    fs, hpath = _fs(spark, out_dir)
    per_batch, consolidated = _list_manifest_files(fs, hpath, out_dir)
    ids = set(per_batch)
    if consolidated:
        # only the NEWEST consolidated file is authoritative — each
        # consolidation folds every older one, so older files (pending
        # delete after a crash) hold a subset of the newest
        ids.update(
            m["batch_id"]
            for m in _read_json_file(fs, consolidated[-1][1])["manifests"]
        )
    return sorted(ids)


def consolidate_manifests(spark, out_dir: str, keep_last: int = 8) -> dict:
    """Retention pass for the ``_manifests`` bookkeeping dir (r9 verdict
    "What's missing" #5): at one manifest per micro-batch, a month of
    1-minute triggers is ~43k small files — fold every per-batch manifest
    older than the newest ``keep_last`` batches (plus any older
    consolidated file) into ONE ``consolidated-<through>.json``, then
    delete the folded files. Readers see ids/content identically before
    and after (pinned by test).

    Commit protocol mirrors X117: the new consolidated file is written
    tmp+rename FIRST, the folded files deleted after — a crash in between
    leaves both visible and the readers' dedup-by-batch-id absorbs it; a
    re-run finishes the deletes. Runs between ingest batches like every
    maintenance op (single-writer contract, module docstring) and never
    touches the newest ``keep_last >= 1`` manifests.

    Returns ``{"folded", "through", "files_before", "files_after"}``."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1 (the newest manifest may "
                         "still be the live query's latest commit)")
    fs, hpath = _fs(spark, out_dir)
    per_batch, consolidated = _list_manifest_files(fs, hpath, out_dir)
    files_before = len(per_batch) + len(consolidated)
    fold_ids = sorted(per_batch)[:-keep_last] if per_batch else []
    if not fold_ids and len(consolidated) <= 1:
        return {
            "folded": 0,
            "through": consolidated[-1][0] if consolidated else None,
            "files_before": files_before,
            "files_after": files_before,
        }
    entries: dict[int, dict] = {}
    if consolidated:
        for m in _read_json_file(fs, consolidated[-1][1])["manifests"]:
            entries[m["batch_id"]] = m
    for bid in fold_ids:
        entries[bid] = _read_json_file(fs, per_batch[bid])
    through = max(entries)
    mdir = f"{out_dir}/_manifests"
    final = hpath(f"{mdir}/consolidated-{through:09d}.json")
    if not fs.exists(final):
        tmp = hpath(
            f"{mdir}/.consolidated-{through:09d}.tmp-{uuid.uuid4().hex}"
        )
        out = fs.create(tmp, True)
        out.write(
            json.dumps(
                {
                    "through": through,
                    "manifests": [entries[bid] for bid in sorted(entries)],
                },
                sort_keys=True,
            ).encode("utf-8")
        )
        out.close()
        fs.rename(tmp, final)
    # else: a prior (crashed) run already committed this exact fold — same
    # fold set produces the same through and, by construction, identical
    # content, so KEEP the existing file and just finish the deletes below.
    # Deleting it before re-renaming (the old behavior) opened a crash
    # window where the folded batch ids lived only in a dot-prefixed tmp
    # no reader sees — permanent manifest loss (r10 ADVICE).
    for bid in fold_ids:
        fs.delete(per_batch[bid], False)
    for thr, p in consolidated:
        if thr != through:
            fs.delete(p, False)
    _, after_cons = _list_manifest_files(fs, hpath, out_dir)
    return {
        "folded": len(fold_ids),
        "through": through,
        "files_before": files_before,
        "files_after": len(per_batch) - len(fold_ids) + len(after_cons),
    }
