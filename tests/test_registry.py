"""The query registry (``queries.QUERIES``) through the driver adapter
(``__spark_entry__.py``): ``entry(spark)`` runs, and every registered
query equals its DuckDB oracle over the test tables — same columns, same
row count, the same values compared order-insensitively with floats
normalised, and no output type DuckDB widens past Spark's."""

import os

import duckdb
import pytest

import __spark_entry__ as E
from tests.oracle_compare import rows_key, type_divergence

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


def test_entry_returns_rows(spark):
    assert E.entry(spark).limit(1).collect()


def test_every_query_has_an_oracle():
    assert sorted(E.queries()) == sorted(E.oracle_sql())


@pytest.mark.parametrize("name", sorted(E.queries()))
def test_query_matches_oracle(spark, sf_dir, duck, name):
    sdf = E.queries()[name](spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    rel = duck.sql(E.oracle_sql()[name])
    dcols = list(rel.columns)
    drows = rel.fetchall()
    assert sorted(sdf.columns) == sorted(dcols)
    assert type_divergence(sdf.dtypes, dcols, list(rel.types))[0] == []
    assert len(srows) == len(drows)
    assert rows_key(srows, sdf.columns) == rows_key(drows, dcols)


def test_dedup_survivors_pins_no_storage(spark, sf_dir):
    """The survivors query releases its checkpoint: three calls leave the
    session's persisted RDDs as they were."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    query = E.queries()["dedup_survivors"]
    counts = []
    for _ in range(3):
        counts.append(query(spark, sf_dir).count())
        assert set(jsc.getPersistentRDDs().keySet().toArray()) == before
    assert counts[0] > 0 and len(set(counts)) == 1
