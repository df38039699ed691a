"""Shared Spark fixtures for the engine test suite.

One session per pytest run (JVM startup dominates otherwise); small
shuffle-partition count — the fixtures are tiny and 200 partitions is
pure scheduling overhead (SURVEY §4.3).
"""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("pandas_reporter_spark_tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.ansi.enabled", "false")
        # the call-site posture `session.get_session` ships (static conf)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


def make_df(spark):
    """The reference's synthetic margin-paired frame (test_basic.py:30-80).

    Rows i=1..10: geoid=str(i), group=str(i%3); for j=1..4:
    col{j-1} = i*j (float), col{j-1}_m90 = 7*i/(3*j). Deterministic
    closed form — no randomness (FIXTURES.md §2).
    """
    rows = []
    for i in range(1, 11):
        r = {"geoid": str(i), "group": str(i % 3)}
        for j in range(1, 5):
            r[f"col{j-1}"] = float(i * j)
            r[f"col{j-1}_m90"] = 7.0 * i / (3 * j)
        rows.append(r)
    cols = ["geoid", "group"]
    for j in range(4):
        cols += [f"col{j}", f"col{j}_m90"]
    return spark.createDataFrame(rows).select(*cols)


def meta_for_make_df():
    """Seven-key metadata dicts for make_df columns (test_basic.py:31-70)."""
    out = []
    names = ["geoid", "group"]
    for j in range(4):
        names += [f"col{j}", f"col{j}_m90"]
    for pos, name in enumerate(names):
        out.append(
            {
                "name": name,
                "code": name,
                "title": name.replace("col", "Column "),
                "code_title": f"{name} {name.replace('col', 'Column ')}",
                "indent": 0,
                "index": f"{pos:03d}",
                "position": pos,
            }
        )
    return out
