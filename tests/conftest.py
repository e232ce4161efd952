"""Shared fixtures: one SparkSession + one DuckDB oracle per test session."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from twitter_event_stream_spark.parity import oracle_connection  # noqa: E402
from twitter_event_stream_spark.session import get_spark  # noqa: E402
from twitter_event_stream_spark.tables import TABLE_SCHEMAS  # noqa: E402

#: Unit CI runs the differential suite at sf0.001 (SURVEY §5.2.1); override
#: with TES_TEST_SF_DIR to re-verify at sf0.01 before handoff.
SF_DIR = os.environ.get("TES_TEST_SF_DIR", "/root/testdata/sf0.001")


def spark_jobs(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` runs, counted under a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def assert_declared_schemas_match(spark, sf_dir: str) -> None:
    """Each declared table schema (tables.TABLE_SCHEMAS) equals what Spark
    infers from the files of ``sf_dir``: names, order and types. A declared
    column that a file lacks or spells differently would read as all-NULL
    without an error, and a type that differs fails at the first scan."""
    for name, ddl in TABLE_SCHEMAS.items():
        path = f"{sf_dir}/{name}.parquet"
        declared = spark.read.schema(ddl).parquet(path).schema
        inferred = spark.read.parquet(path).schema
        assert declared == inferred, (
            sf_dir, name, declared.simpleString(), inferred.simpleString()
        )


def pytest_collection_modifyitems(config, items):
    """Fast-gate/deep-lane split, conftest-based (r15, r14 ADVICE #2: the
    previous ``addopts = -m "not deep"`` applied to EVERY invocation, so
    naming a deep test by node id silently deselected it and exited 'no
    tests ran' — an easy way to believe a deep test passed when it never
    executed). Semantics:

    - plain runs (``pytest tests/ -q``) deselect the ``deep``-marked
      suites — the fast gate, unchanged;
    - any ``-m`` flag takes full manual control (``-m deep`` runs the
      deep lane, ``-m ""`` runs EVERYTHING). Any NON-empty markexpr
      shows up in ``config.option.markexpr`` regardless of spelling
      (``-m deep``, ``-mdeep``, ``-m=deep``, ``--markexpr deep``); the
      argv scan exists only for the EMPTY markexpr, which is falsy
      there and can only be spelled with the bare flag token followed
      by an empty value (``-m ""``, ``--markexpr ""``) or the long
      ``--markexpr=`` — so the scan matches those exact tokens, in the
      command line and in ``PYTEST_ADDOPTS`` (addopts are injected
      during parsing, never into ``invocation_params.args``), and
      nothing else (r15 ADVICE #3: the old prefix scan would have
      false-positived on any future ``-m…``-spelled option). An empty
      markexpr hidden in ini-file ``addopts`` is the one spelling not
      seen — use the command line or the env var for that;
    - an EXPLICIT node id among the POSITIONAL args (``::`` in
      ``config.args`` — option values like ``-W error::Warning`` or
      ``--deselect path::test`` never land there) always runs, deep or
      not. Deep items collected from OTHER positional args in the same
      invocation are still deselected (r15 ADVICE #3: the escape used
      to be all-or-nothing, so ``pytest tests/x.py::t tests/`` silently
      ran every deep test under ``tests/`` too). Matching needs the
      arg's path part to resolve to a real file; a non-path node-id
      spelling (``--pyargs pkg.mod::test``) falls back to the
      all-or-nothing escape rather than risk deselecting the very test
      the user named."""
    import shlex

    argv = [str(a) for a in config.invocation_params.args]
    try:
        argv += shlex.split(os.environ.get("PYTEST_ADDOPTS", ""))
    except ValueError:
        pass  # unparseable env addopts: pytest itself will complain
    m_given = config.option.markexpr or any(
        a in ("-m", "-m=", "--markexpr", "--markexpr=") for a in argv
    )
    if m_given:
        return  # -m given (even empty): pytest's marker selection governs
    node_args = [str(a) for a in config.args if "::" in str(a)]
    named_prefixes = []
    for a in node_args:
        # normalize the arg's path part to the rootdir-relative, "/"
        # separated form item nodeids use, so a cwd-relative or absolute
        # spelling still matches its own collected items
        path, _, rest = a.partition("::")
        if not os.path.exists(path):
            # not a filesystem spelling (e.g. --pyargs module::test):
            # we cannot reliably map it to item nodeids, so keep the
            # conservative whole-run escape — every named test runs
            return
        rel = os.path.relpath(os.path.abspath(path), str(config.rootdir))
        named_prefixes.append(rel.replace(os.sep, "/") + "::" + rest)

    def explicitly_named(item) -> bool:
        nid = item.nodeid
        return any(
            nid == p or nid.startswith(p + "::") or nid.startswith(p + "[")
            for p in named_prefixes
        )

    deselected = [
        item
        for item in items
        if item.get_closest_marker("deep") and not explicitly_named(item)
    ]
    if deselected:
        drop = set(id(i) for i in deselected)
        items[:] = [i for i in items if id(i) not in drop]
        config.hook.pytest_deselected(items=deselected)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tes-tests", cpus=4, shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def oracle(sf_dir):
    con = oracle_connection(sf_dir)
    yield con
    con.close()
