from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Tiny-frame invariant (operators/ranks.py:with_tiny_rank) is CHECKED in the
# test suite: every bounded-frame rank site counts its frame and raises if it
# exceeds the declared bound.
os.environ.setdefault("SVH_ASSERT_TINY_FRAMES", "1")

from shortvideohybridanalyticslakehouse_spark.session import get_spark

# Runtime confs every module shares through the session fixture. A module
# that leaves one changed silently reshapes the plans of every module after
# it (r13: get_spark() calls at module scope raised shuffle.partitions from
# 4 to 32 and broke width-asserting tests only in-suite).
GUARDED_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.ansi.enabled",
    "spark.sql.session.timeZone",
    "spark.sql.execution.arrow.pyspark.enabled",
)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("svh-tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="module", autouse=True)
def _session_confs_unchanged(request, spark):
    """Fail the module that leaves a shared session conf changed."""
    before = {k: spark.conf.get(k, None) for k in GUARDED_CONFS}
    yield
    after = {k: spark.conf.get(k, None) for k in GUARDED_CONFS}
    changed = {k: (before[k], after[k]) for k in before if before[k] != after[k]}
    assert not changed, (
        f"{request.module.__name__} left shared session confs changed "
        f"(before, after): {changed}"
    )


@pytest.fixture(scope="session")
def zero_row_dir(tmp_path_factory):
    """Fixture dir whose ``events`` and ``embeddings`` tables have the
    production schemas and no rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("zero_rows")
    schemas = {
        "events": pa.schema(
            [
                ("event_id", pa.int64()),
                ("ts", pa.timestamp("us")),
                ("user_id", pa.int64()),
                ("event_type", pa.string()),
                ("value", pa.float64()),
                ("props", pa.string()),
            ]
        ),
        "embeddings": pa.schema(
            [
                ("vec_id", pa.int64()),
                ("embedding", pa.list_(pa.float32())),
                ("label", pa.int32()),
            ]
        ),
    }
    for name, schema in schemas.items():
        pq.write_table(schema.empty_table(), str(d / f"{name}.parquet"))
    return str(d)
