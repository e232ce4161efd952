"""SparkSession factory — pins the engine session conventions (SURVEY §2.0 C1).

Conventions pinned here (and re-pinned at runtime by ``configure_session`` so
they hold even on a session the driver created for us):

- ``spark.sql.session.timeZone=UTC`` — DuckDB TIMESTAMP is naive; with UTC
  pinned both engines yield identical naive datetimes (SURVEY §1.3(2)).
- ``spark.sql.legacy.parquet.nanosAsLong=true`` — dormant fallback: current
  fixtures store timestamps as µs NTZ (read natively), but a ns-typed
  testdata regeneration would need this conf (SURVEY §1.3(1)); harmless
  for µs data, and the loader's ns normalization guard never fires.
- AQE on (coalesce partitions, skew-join split) — the 100 TB posture relies on
  runtime re-planning at shuffle boundaries (SURVEY §4.2).
- Local master only, and only where the deployment left the key unset:
  ``spark.sql.streaming.checkpointFileManagerClass`` is Spark's
  ``FileSystemBasedCheckpointFileManager``. Spark's default, the
  FileContext-based manager, goes through Hadoop's local FileContext, which
  without the native ``libhadoop`` forks ``readlink`` for every rename and
  ``chmod`` for every create — the offset log, the commit log and every
  state-store delta of every micro-batch. The FileSystem-based manager
  renames with ``File.renameTo``, so a rename forks nothing; only the
  ``chmod`` of a create remains, and a bridge batch forks about a third as
  often (BENCH_NOTES.md). Atomicity is the same on the local FS: a
  FileContext no-overwrite rename (``AbstractFileSystem.renameInternal``)
  is also an existence check followed by ``rename(2)``, and both managers
  write to a temp file and rename it into place. Spark's ``ChecksumCheckpointFileManager`` still
  wraps the chosen manager, so checkpoint checksums and state-store commit
  validation are unchanged. A cluster keeps its own choice, as it does for
  shuffle partitions.
- ``spark.python.daemon.module=twitter_event_stream_spark.pydaemon``, unless
  the caller passes its own value. Before every task, pyspark's worker calls
  ``importlib.invalidate_caches()``, and in CPython 3.11 and 3.12 each
  ``zipimporter`` then re-reads its whole archive directory at once (3.13
  only drops the cache entry). The worker's ``sys.path`` holds Spark's
  ``pyspark.zip``, the py4j zip and the spark-core jar, so every Python
  task (``mapInPandas``, pandas and Python UDFs) paid about 150 ms of CPU
  for no work. The engine's daemon is pyspark's own with that re-read
  turned off. It is safe because Spark never rewrites an archive in place,
  and an archive added later (``addPyFile``) is a new ``sys.path`` entry
  whose new importer reads its directory on first lookup. Directory finders
  are still refreshed every task. The workers find the module, and the
  engine functions that UDFs pickle by reference, through the package's
  parent directory, which ``get_spark`` appends to
  ``spark.executorEnv.PYTHONPATH`` after any entries of the caller: a
  worker's import no longer depends on the driver's working directory.

Scale posture: shuffle partitions default to the core count locally; on a real
cluster this is expected to be overridden (e.g. 2-3x total cores, or left to
AQE's coalescing with a high initial partition number).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime-settable SQL confs every engine entry point re-applies.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # parallelismFirst=true (the default) keeps reducer count at the
    # cluster parallelism even for KB-sized shuffles — pure tiny-task
    # scheduler overhead locally, and a tiny-task storm at 100 TB where
    # thousands of reducers each read a few KB. false lets AQE coalesce to
    # the advisory partition size, which is what the advisory knob is for
    # (measured: -23% on the bench query set at sf0.1).
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let rank<=k filters compile to WindowGroupLimit for budget-scale k
    # (default threshold 1000 blocks e.g. q_mix_sample's prune bound of
    # budget/min_tokens ~= 2k). The rank-limit operator streams over sorted
    # input counting rows per group — O(1) memory — so a large k is safe,
    # and the map-side Partial group limit is the skew/volume defense.
    "spark.sql.optimizer.windowGroupLimitThreshold": "1048576",
    # Arrow for every pandas-UDF / toPandas boundary (SURVEY §3.2 step 6).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}

#: The Python daemon a ``get_spark`` session starts (see the module docstring).
DAEMON_MODULE_KEY = "spark.python.daemon.module"
DAEMON_MODULE = "twitter_event_stream_spark.pydaemon"
#: Python workers import the engine from the directory that holds the package.
PYTHONPATH_KEY = "spark.executorEnv.PYTHONPATH"
ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: The checkpoint file manager a local session uses unless one is configured
#: (see the module docstring for why, and why it is as atomic).
CHECKPOINT_FILE_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
LOCAL_CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def resolve_cpus() -> int:
    """The local core count: ``$SPARK_GRAFT_CPUS`` if set, else all cores."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", 0)) or os.cpu_count() or 4


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable conventions to an existing session.

    Idempotent and cheap; called by the table loader so that driver-owned
    sessions (``__spark_entry__.entry``/``queries`` callables) are configured
    without us controlling builder-time confs.
    """
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # Non-settable in this context (e.g. static conf on a locked
            # session) — the engine still works, parity may need the conf.
            pass
    # Local mode only — on a cluster (non-local master) the engine never
    # overrides the deployment's choice:
    # - with Spark's untouched 200-partition default, clamp shuffle
    #   partitions to the core count (the BASELINE.md config). 200 tasks per
    #   tiny local shuffle is pure scheduler overhead; AQE coalesces *after*
    #   the shuffle but the initial partitioning still costs;
    # - with no checkpoint file manager configured, use the FileSystem-based
    #   one (module docstring).
    try:
        if spark.conf.get("spark.master", "").startswith("local"):
            if spark.conf.get("spark.sql.shuffle.partitions") == "200":
                spark.conf.set(
                    "spark.sql.shuffle.partitions",
                    str(spark.sparkContext.defaultParallelism),
                )
            if spark.conf.get(CHECKPOINT_FILE_MANAGER_KEY, None) is None:
                spark.conf.set(
                    CHECKPOINT_FILE_MANAGER_KEY, LOCAL_CHECKPOINT_FILE_MANAGER
                )
    except Exception:
        pass
    return spark


def get_spark(
    app_name: str = "twitter-event-stream-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession with the engine conventions.

    ``cpus`` defaults to :func:`resolve_cpus`. Local mode is a single JVM
    with N executor threads; the partitioning discipline in the operators is
    what makes the same plans hold on a multi-executor cluster.
    """
    if cpus is None:
        cpus = resolve_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    confs = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        "spark.ui.enabled": "false",
        DAEMON_MODULE_KEY: DAEMON_MODULE,
        **RUNTIME_CONFS,
        **(extra_confs or {}),
    }
    confs[PYTHONPATH_KEY] = os.pathsep.join(
        filter(None, [confs.get(PYTHONPATH_KEY), ENGINE_ROOT])
    )
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    for key, value in confs.items():
        builder = builder.config(key, value)
    return configure_session(builder.getOrCreate())
