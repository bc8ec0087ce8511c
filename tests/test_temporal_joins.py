"""As-of join (ops/asof): crawl-snapshot lookups."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def spark():
    from swiftsoup_spark.spark.session import get_spark
    yield get_spark(master="local[2]", app="temporal-test")


def test_as_of_join_picks_latest_at_or_before(spark):
    from swiftsoup_spark.ops.asof import as_of_join
    builds = spark.createDataFrame(
        [("u", 10, "v10"), ("u", 20, "v20"), ("u", 30, "v30"),
         ("w", 100, "w100")],
        "url string, ts_epoch long, content string")
    probes = spark.createDataFrame(
        [("u", 25), ("u", 20), ("u", 5), ("w", 99), ("x", 50)],
        "url string, q_ts long")
    rows = {(r.url, r.q_ts): r for r in
            as_of_join(probes, builds).collect()}
    assert rows[("u", 25)].content == "v20"
    assert rows[("u", 20)].content == "v20"   # at-or-before is inclusive
    assert ("u", 5) not in rows                # nothing before -> no row
    assert ("w", 99) not in rows
    assert ("x", 50) not in rows               # unknown key
    assert len(rows) == 2


def test_asof_partial_agg_no_window(spark):
    import __spark_entry__ as E
    df = E.queries()["asof_snapshot"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert plan.count("HashAggregate") >= 2 or "SortAggregate" in plan
