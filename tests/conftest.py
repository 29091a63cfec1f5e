from __future__ import annotations

import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from redshells_spark import get_spark_session

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark_session("tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def round_trips(spark):
    """→ ``count(fn)`` → (fn(), py4j commands the driver sent the JVM
    while fn ran), counted on the gateway client every thread shares."""
    client = spark.sparkContext._gateway._gateway_client

    def count(fn):
        real, calls = client.send_command, itertools.count()

        def counting(*args, **kwargs):
            next(calls)
            return real(*args, **kwargs)

        client.send_command = counting
        try:
            out = fn()
        finally:
            client.send_command = real
        return out, next(calls)

    return count


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture()
def state_ddl_check(spark, monkeypatch):
    """Record the DDL every streaming state read (``read_state``, hence
    ``fold_state``) and bucket compaction (``_compact_bucket``) declares;
    at teardown, check it against the schema of the files at that path
    (a DDL may leave out partition columns). The DDL, not the files, types those reads,
    so a DDL that drifts from what the processor writes would read
    missing columns as null and compact declared-away columns out."""
    import importlib
    import pkgutil

    import redshells_spark.streaming as streaming
    from redshells_spark.streaming import ingest, state

    real_read, real_compact = state.read_state, ingest._compact_bucket
    declared: dict[str, str] = {}

    def read_state(spark, path, schema):
        declared[path.rstrip("/")] = schema
        return real_read(spark, path, schema)

    def compact_bucket(spark, path, bucket, schema):
        declared[f"{path.rstrip('/')}/{bucket}"] = schema
        return real_compact(spark, path, bucket, schema)

    for info in pkgutil.iter_modules(streaming.__path__):
        mod = importlib.import_module(f"{streaming.__name__}.{info.name}")
        if getattr(mod, "read_state", None) is real_read:
            monkeypatch.setattr(mod, "read_state", read_state)
        if getattr(mod, "_compact_bucket", None) is real_compact:
            monkeypatch.setattr(mod, "_compact_bucket", compact_bucket)
    yield declared

    def data_files(path):
        for root, dirs, files in os.walk(path):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            yield from (f for f in files if f.endswith(".parquet"))

    for path, ddl in declared.items():
        if not any(data_files(path)):
            continue
        partition_cols = {d.split("=")[0] for d in os.listdir(path) if "=" in d}
        want = {
            f.name: f.dataType.simpleString()
            for f in spark.createDataFrame([], ddl).schema
        }
        written = {
            f.name: f.dataType.simpleString()
            for f in spark.read.parquet(path).schema
            if f.name in want or f.name not in partition_cols
        }
        assert written == want, f"{path}: files hold {written}, DDL declares {want}"
