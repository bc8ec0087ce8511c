"""Driver-mimic correctness gate: run every ``queries()`` entry on Spark
at sf0.001 and compare row-count + schema-width + sorted values against the
DuckDB ``oracle_sql()`` over the same parquet tables. This is the same
check CORRECTNESS_r{N}.json records, run locally."""

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")
TABLES = ["documents"]


@pytest.fixture(scope="module")
def spark():
    from swiftsoup_spark.spark.session import get_spark
    sp = get_spark(master="local[4]", app="oracle-parity")
    yield sp


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _norm(rows):
    out = []
    for r in rows:
        nr = []
        for v in r:
            if isinstance(v, float):
                nr.append(round(v, 6))
            else:
                nr.append(v)
        out.append(tuple(nr))
    out.sort(key=repr)
    return out


def _pairs():
    import __spark_entry__ as E
    qs = E.queries()
    os_ = E.oracle_sql()
    return [(name, fn, os_.get(name)) for name, fn in qs.items()]


def test_every_query_has_an_oracle():
    import __spark_entry__ as E
    assert set(E.queries()) == set(E.oracle_sql())


@pytest.mark.parametrize("name", [n for n, _, _ in _pairs()])
def test_query_matches_oracle(name, spark, ddb):
    from pyspark.sql.types import ArrayType, MapType, StructType

    import __spark_entry__ as E
    fn = E.queries()[name]
    sql = E.oracle_sql().get(name)
    sdf = fn(spark, SF_DIR)
    # the driver's gate sorts rows by every column, so each output
    # column must be a hashable scalar
    nested = [f.name for f in sdf.schema.fields
              if isinstance(f.dataType, (ArrayType, MapType, StructType))]
    assert not nested, f"nested output columns: {nested}"
    # sort columns by name, like the driver
    cols = sorted(sdf.columns)
    srows = _norm([tuple(r[c] for c in cols) for r in sdf.collect()])
    if sql is None:
        assert len(srows) > 0  # rows-only check
        return
    ores = ddb.execute(sql)
    ocols = [d[0] for d in ores.description]
    orows_raw = ores.fetchall()
    order = [ocols.index(c) for c in sorted(ocols)]
    orows = _norm([tuple(r[i] for i in order) for r in orows_raw])
    assert sorted(ocols) == cols, f"column mismatch: {sorted(ocols)} vs {cols}"
    assert len(srows) == len(orows), f"row count {len(srows)} vs {len(orows)}"
    assert srows == orows
