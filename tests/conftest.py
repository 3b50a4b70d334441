"""Shared pytest fixtures: one SparkSession per test run, plus in-repo
recreations of the reference fixtures (FIXTURES.md recipes — synthesized,
not copied)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from qsvspark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    sp = get_spark("qsvspark-tests", parallelism=4, shuffle_partitions=4)
    yield sp
    sp.stop()


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``count_jobs(fn)`` returns ``fn()``'s result and the number of
    Spark jobs it submitted, counted through a job group once the
    listener bus has delivered every job event."""
    import uuid

    sc = spark.sparkContext

    def count(fn):
        group = f"job-count-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "job count")
        try:
            out = fn()
        finally:
            sc._jsc.clearJobGroup()  # noqa: SLF001
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture(scope="session")
def simple_csv(tmp_path_factory):
    """3-row fixture per FIXTURES.md §1: datetime,col1,col2,col3,str."""
    p = tmp_path_factory.mktemp("fixtures") / "simple.csv"
    rows = ["datetime,col1,col2,col3,str"]
    strs = ["foo", "bar", "baz"]
    for i in range(3):
        rows.append(f"2023-01-01 {12 + i}:00:00,{3*i+1},{3*i+2},{3*i+3},{strs[i]}")
    p.write_text("\n".join(rows) + "\n")
    return str(p)


@pytest.fixture(scope="session")
def simple_df(spark, simple_csv):
    from qsvspark.io import load

    return load(spark, simple_csv)


@pytest.fixture(scope="session")
def timeline_csv(tmp_path_factory):
    """simple_timeline.csv per FIXTURES.md: 91 rows, hour h∈[0,12] repeated
    h+1 times → counts 1..13."""
    p = tmp_path_factory.mktemp("fixtures") / "simple_timeline.csv"
    rows = ["datetime,value"]
    for h in range(13):
        for k in range(h + 1):
            rows.append(f"2023-01-01 {h:02d}:{k:02d}:00,{h * 100 + k}")
    p.write_text("\n".join(rows) + "\n")
    return str(p)


@pytest.fixture(scope="session")
def dst_csv(tmp_path_factory):
    """dst_comprehensive.csv per reference tests (changetz DST goldens)."""
    p = tmp_path_factory.mktemp("fixtures") / "dst.csv"
    p.write_text(
        "datetime,timezone,description\n"
        "2023-11-05 00:30:00,Los Angeles,Before DST transition\n"
        "2023-11-05 01:30:00,Los Angeles,Ambiguous time (1st occurrence)\n"
        "2023-11-05 01:45:00,Los Angeles,Ambiguous time (still in overlap)\n"
        "2023-11-05 02:30:00,Los Angeles,After DST transition\n"
        "2023-03-12 01:30:00,Los Angeles,Non-existent time (spring forward)\n"
        "2023-03-12 03:30:00,Los Angeles,After spring forward\n"
    )
    return str(p)


def rows_as_tuples(df):
    return [tuple(r) for r in df.collect()]
