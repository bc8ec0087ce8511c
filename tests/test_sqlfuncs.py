"""SQL-callable kernel functions (SURVEY §4.3 FunctionCatalog sugar)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from swiftsoup_spark.spark.session import get_spark
    from swiftsoup_spark.spark.sqlfuncs import register_sql_functions
    s = get_spark(master="local[4]", app="sqlfuncs-test")
    register_sql_functions(s)
    yield s


def test_html_text_matches_extract_pages(spark):
    from pyspark.sql import functions as F
    from swiftsoup_spark.spark.extract import extract_pages
    from swiftsoup_spark.spark.pages import pages_df

    pages = pages_df(spark, SF_DIR).limit(50)
    pages.createOrReplaceTempView("pages_v")
    via_sql = {r.url: (r.t, r.ti) for r in spark.sql(
        "SELECT url, html_text(html) AS t, html_title(html) AS ti "
        "FROM pages_v").collect()}
    via_df = {r.url: (r.text, r.title)
              for r in extract_pages(pages).collect()}
    assert via_sql == via_df


def test_sqlfuncs_are_batch_pandas_udfs(spark):
    """The SQL functions must be iterator pandas_udfs (one Python call
    per task, which runs the worker prelude once, then one Series per
    Arrow batch): ArrowEvalPython in the physical plan AND one kernel
    invocation for many rows — not a per-row scalar UDF."""
    from pyspark.sql import functions as F
    from swiftsoup_spark.spark.pages import pages_df

    pages = pages_df(spark, SF_DIR).limit(64)
    pages.createOrReplaceTempView("pages_plan_v")
    plan = (spark.sql("SELECT html_text(html) AS t FROM pages_plan_v")
            ._jdf.queryExecution().executedPlan().toString())
    assert "ArrowEvalPython" in plan

    # eval-type proof: every registered function is an
    # Iterator[Series]->Iterator[Series] pandas_udf
    # (SQL_SCALAR_PANDAS_ITER_UDF), not a per-row scalar UDF
    from pyspark.util import PythonEvalType
    from swiftsoup_spark.spark.sqlfuncs import register_sql_functions
    udfs = register_sql_functions(spark)
    assert set(udfs) == {"html_text", "html_title", "html_select_text",
                         "html_select_attr", "html_clean"}
    for name, fn in udfs.items():
        assert fn.evalType == PythonEvalType.SQL_SCALAR_PANDAS_ITER_UDF, name


def test_html_select_and_clean(spark):
    spark.sql("SELECT 1").collect()
    row = spark.sql(
        "SELECT html_select_text('<div><p>a</p><p>b</p></div>', 'p') AS s, "
        "html_select_attr('<a href=x>l</a>', 'a', 'href') AS a, "
        "html_clean('<p>k<script>x</script></p>', 'simpleText') AS c"
    ).collect()[0]
    assert row.s == ["a", "b"]
    assert row.a == ["x"]
    assert row.c == "k"
