from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

from stellar_etl_spark.session import get_spark

SUITE_PARTITIONS = 8


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", cores=8, shuffle_partitions=SUITE_PARTITIONS, streaming=True)
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def _restore_shuffle_partitions():
    """``get_spark`` on a live session re-applies its settings to it: a test
    that calls ``jobs.main`` leaves the shared session at the partition count
    ``jobs.main`` computed from its own core default. Restore the suite's
    value after every test so no test runs on another test's leftovers."""
    yield
    active = SparkSession.getActiveSession()
    if active is not None:
        active.conf.set("spark.sql.shuffle.partitions", str(SUITE_PARTITIONS))


@pytest.fixture()
def micro(spark):
    """Tiny in-memory transcript fixture with the FIXTURES.md edge cases:
    system-only conversation, single-turn conversation, empty text, failed
    tool turn, unicode text, out-of-order ts."""
    rows = [
        # conv_a: normal user/assistant/tool exchange, one failed tool turn
        ("conv_a", 0, "user", "hello there", None, "2026-01-01 00:00:00"),
        ("conv_a", 1, "assistant", "hi! how can I help?", None, "2026-01-01 00:00:10"),
        ("conv_a", 2, "user", "run the query 東京", None, "2026-01-01 00:00:20"),
        ("conv_a", 3, "tool", "error: timeout", "search", "2026-01-01 00:00:30"),
        ("conv_a", 4, "tool", "rows returned: 42", "search", "2026-01-01 00:00:40"),
        # conv_b: single system turn
        ("conv_b", 0, "system", "you are a helpful assistant", None, "2026-01-01 01:00:00"),
        # conv_c: empty text + out-of-order ts (turn 2 earlier than turn 1)
        ("conv_c", 0, "user", "", None, "2026-01-01 02:00:00"),
        ("conv_c", 1, "assistant", "one two three four five six seven eight nine", None, "2026-01-01 02:00:30"),
        ("conv_c", 2, "user", "naïve ответ", None, "2026-01-01 02:00:25"),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    )
    import pyspark.sql.functions as F

    return df.withColumn("ts", F.col("ts").cast("timestamp"))
