"""Driver-contract self-check: every queries() entry with an oracle must
match DuckDB exactly at sf0.01 (row count, column names, values) — this
mirrors what the driver's CORRECTNESS gate does. Each query runs inside a
``cache_scope`` and must leave no persisted frame behind."""

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entrymod
from jarvis_ocr_service_spark.plans.caching import cache_scope

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
        elif str(df[c].dtype).startswith("bool"):
            df[c] = df[c].astype(bool)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


@pytest.mark.parametrize("name", sorted(entrymod.oracle_sql().keys()))
def test_query_matches_duckdb_oracle(spark, duck, rdds, name):
    q = entrymod.queries()[name]
    before = rdds()
    with cache_scope():
        got = _canon(q(spark, SF_DIR).toPandas())
    # not above: releasing may also drop an identical plan an earlier
    # unscoped caller cached
    assert rdds() <= before, f"{name} left {rdds() - before} persistent RDDs"
    exp = _canon(duck.execute(entrymod.oracle_sql()[name]).df())
    assert list(got.columns) == list(exp.columns), (got.columns, exp.columns)
    assert len(got) == len(exp)
    # empty == empty proves plumbing, not arithmetic (the r5 token_pairs
    # lesson): every driver oracle row must carry real rows at SF_DIR
    assert len(got) > 0, f"{name}: vacuous oracle (0 rows) — make it bite"
    pd.testing.assert_frame_equal(got, exp, check_dtype=False, rtol=0, atol=0)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    n = df.count()
    assert n > 0
    assert {"doc_id", "extracted_text", "tier"} <= set(df.columns)


def test_every_oracle_key_has_query():
    assert set(entrymod.oracle_sql()) <= set(entrymod.queries())


def test_queries_order_is_oldest_evidence_first():
    """The driver samples a prefix of queries() in dict order; the order
    must be non-decreasing in last-green CORRECTNESS round (0 = never
    checked) so the stalest evidence always refreshes first."""
    last = entrymod._last_checked_rounds()
    rounds = [last.get(name, 0) for name in entrymod.queries()]
    assert rounds == sorted(rounds), rounds


@pytest.mark.parametrize(
    "name", sorted(set(entrymod.queries()) - set(entrymod.oracle_sql()))
)
def test_rows_only_queries_run(spark, name):
    """Queries without a SQL oracle (non-SQL-expressible ops) must still
    run and produce a stable schema at sf0.01."""
    df = entrymod.queries()[name](spark, SF_DIR)
    assert df.columns  # schema resolvable
    assert df.count() >= 0
